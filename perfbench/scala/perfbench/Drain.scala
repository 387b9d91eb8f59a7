package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.{HttpIngestGateway, Via}
import graft.streaming.{IngestPipeline, PromotionStream}

/** `ingest_drain`: write-path capacity. Each round lands the seeded
  * 1,000-record flushes through [[HttpIngestGateway]] (one POST per
  * flush), then drains them with `IngestPipeline.start` (one flush per
  * micro-batch, no trigger wait) and `PromotionStream.start` with
  * `stateTtlMs = None` (its drain contract), into a fresh warehouse. Set-up
  * runs [[WarmRounds]] untimed rounds to warm the JIT; the first timed
  * round can still run slower, which the median over the timed rounds
  * absorbs. The timed rounds are a fixed number set by
  * `--seconds` ([[timedRounds]]), never by the clock, so a run's work and
  * its per-layer totals do not change with the program's speed. Every
  * round checks that Tier-1 holds every event; a timed round also checks
  * that every planted burst was promoted to Tier-2 exactly once and is
  * served by `Via.clusters`.
  *
  * The latency samples are the ingest micro-batches: one per flush, from
  * the batch's trigger to its commit to Tier-1. */
object Drain {
  val WindowSec = 10L
  /** Event-time origin of the generated flushes (`gen.SEED_EPOCH`). */
  val SeedEpoch = 1758300000L
  val Watermark = "20 seconds"
  val WarmRounds = 1
  /** A run's timed rounds: one per [[NominalRoundS]] (about one round's
    * wall time) of `--seconds`, at least [[MinRounds]], the fewest whose
    * flushes give the latency's p80 ten samples beyond it. */
  val NominalRoundS = 10.0
  val MinRounds = 3
  def timedRounds(seconds: Double): Int = math.max(MinRounds, math.round(seconds / NominalRoundS).toInt)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val flushes = Files.list(Paths.get(s"$inputs/spool")).iterator().asScala.toSeq.sortBy(_.toString)
      .map(Files.readString)
    val events = flushes.map(_.count(_ == '\n').toLong).sum
    val bursts = Files.readAllLines(Paths.get(s"$inputs/bursts.txt")).asScala.toSeq.filter(_.nonEmpty)
    val client = HttpClient.newHttpClient()

    def round(r: Int, timed: Boolean): Unit = {

      val wh = s"$work/round$r"
      val via = new Via(spark, wh)
      val spool = s"$wh/spool"
      val gateway = new HttpIngestGateway(spool).start()
      val uri = URI.create(s"http://127.0.0.1:${gateway.boundPort}/api/v1/ingest/stream")
      var acked = 0L
      try flushes.foreach { body =>
        val t0 = System.nanoTime()
        val ok = try rec.span("api.HttpIngestGateway.post") {
          val resp = client.send(HttpRequest.newBuilder(uri).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() == 200)
            acked += "\"tier1_ingested\":(\\d+)".r.findFirstMatchIn(resp.body()).get.group(1).toLong
          resp.statusCode() == 200
        } catch { case e: Exception => rec.finding(s"POST failed: ${e.getMessage}"); false }
        if (!ok) rec.add("api.HttpIngestGateway.refused", 1)
        if (timed) { rec.outcome(ok); rec.sample("post_ms", (System.nanoTime() - t0) / 1e6) }
      } finally gateway.stop()

      val t0 = System.nanoTime()
      val ingest = rec.span("streaming.ingest.build")(IngestPipeline.start(spark, spool, via.tier1Path,
        s"$wh/checkpoints/ingest", triggerMs = 0, maxFilesPerTrigger = 1))
      rec.span("streaming.ingest.drain") { ingest.processAllAvailable(); ingest.stop() }
      val t1 = System.nanoTime()
      val promotion = rec.span("streaming.promotion.build")(PromotionStream.start(spark, via.tier1Path,
        via.tier2Path, s"$wh/checkpoints/promotion", rules = Some(via.rules), windowSec = WindowSec,
        watermarkDelay = Watermark, triggerMs = 0, stateTtlMs = None))
      rec.span("streaming.promotion.drain") { promotion.processAllAvailable(); promotion.stop() }
      val t2 = System.nanoTime()

      val tier1Rows = spark.read.parquet(via.tier1Path).count()
      if (tier1Rows != events || acked != events)
        rec.wrong(s"round $r: Tier-1 holds $tier1Rows rows, gateway acknowledged $acked, generated $events")

      if (timed) {
        val promoted = spark.read.parquet(via.tier2Path)
          .filter(col("body").startsWith("Unprecedented anomaly")).select("body").collect().map(_.getString(0))
        val tc = System.nanoTime()
        val served = rec.span("api.Via.clusters")(via.clusters(
          nowSec = SeedEpoch + 3600, textFilter = Some("Unprecedented anomaly")).select("body").collect())
          .map(_.getString(0))
        rec.sample("api.Via.clusters_ms", (System.nanoTime() - tc) / 1e6)
        val burstOk = bursts.map { w =>
          val n = promoted.count(_.contains(s" $w "))
          if (n != 1) rec.wrong(s"round $r: burst $w promoted $n times, expected once")
          else if (!served.exists(_.contains(s" $w "))) rec.wrong(s"round $r: burst $w not served by clusters")
          n == 1 && served.exists(_.contains(s" $w "))
        }
        rec.outcome(tier1Rows == events)
        burstOk.foreach(rec.outcome)
        rec.sample("round_s", (t2 - t0) / 1e9)
        rec.sample("ingest_rows_per_s", tier1Rows / ((t1 - t0) / 1e9))
        rec.sample("promote_rows_per_s", tier1Rows / ((t2 - t1) / 1e9))
        batches(ingest).foreach(s => rec.sample("op_s", s))
        batches(promotion).foreach(s => rec.sample("streaming.promotion.batch_s", s))
        Seq("ingest" -> ingest, "promotion" -> promotion).foreach { case (name, q) => streamProgress(rec, name, q) }
        rec.set("sources.tier1.files", dataFiles(via.tier1Path))
        rec.set("sources.tier1.bytes_per_event", dataBytes(via.tier1Path) / events)
        rec.set("sources.tier2.files", dataFiles(via.tier2Path))
      }
    }

    (1 to WarmRounds).foreach(r => round(-r, timed = false))
    setupDone()
    val start = System.nanoTime()
    val rounds = timedRounds(seconds)
    (1 to rounds).foreach(r => round(r, timed = true))
    rec.set("timed_s", (System.nanoTime() - start) / 1e9)
    rec.set("rounds", rounds)
    rec.set("work_s", Stats.median(rec.samplesOf("round_s")))
  }

  /** Durations of the micro-batches that read input, in seconds. */
  def batches(q: StreamingQuery): Seq[Double] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").longValue / 1e3)

  /** `streaming.<name>.*`: the stream's own progress reports, summed. */
  def streamProgress(rec: Recorder, name: String, q: StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    def sum(ks: String*) = ps.map(p => ks.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
    rec.add(s"streaming.$name.add_batch_s", sum("addBatch"))
    rec.add(s"streaming.$name.plan_s", sum("queryPlanning"))
    rec.add(s"streaming.$name.wal_s", sum("walCommit", "commitOffsets"))
    rec.add(s"streaming.$name.get_batch_s", sum("getBatch", "latestOffset"))
    rec.add(s"streaming.$name.triggers", ps.count(_.numInputRows > 0))
    rec.add(s"streaming.$name.rows_in", ps.map(_.numInputRows).sum)
    ps.flatMap(_.stateOperators.headOption).lastOption.foreach { s =>
      rec.set(s"streaming.$name.state_rows", s.numRowsTotal)
      rec.set(s"streaming.$name.state_bytes", s.memoryUsedBytes)
    }
  }

  private def dataFiles(root: String): Double = leaves(root).size
  private def dataBytes(root: String): Double = leaves(root).map(Files.size(_)).sum.toDouble
  private def leaves(root: String) = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.toSeq.filter(p => Files.isRegularFile(p) &&
      p.toString.endsWith(".parquet") &&
      base.relativize(p).iterator().asScala.forall(s => !s.toString.startsWith("_") && !s.toString.startsWith(".")))
  }
}
