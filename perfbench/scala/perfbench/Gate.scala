package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

import graft.queries._

/** `gate_sf0.01`: every `Registry` query over the committed sf0.01
  * tables, one closed-loop caller, each query written to the `noop` sink
  * with the cache cleared before every rep. Set-up builds the persisted
  * indexes the probe queries read (the four builds side by side) and runs
  * one untimed rep of every query, [[CheckThreads]] at a time, whose output
  * is fingerprinted against `expected/gate_sf0.01.json`. The timed phase
  * runs whole passes in a seed-permuted order; their number is set by
  * `--seconds` ([[timedPasses]]), never by the clock, so a run's work and
  * its per-layer totals do not change with the program's speed. */
object Gate {
  /** Set-up is most of a gate run; running its untimed parts side by side
    * keeps a run inside the benchmark's time budget. */
  val CheckThreads = 4
  /** A run's timed passes: one per [[NominalPassS]] (about one pass's
    * wall time) of `--seconds`, at least one. */
  val NominalPassS = 25.0
  def timedPasses(seconds: Double): Int = math.max(1, math.round(seconds / NominalPassS).toInt)

  val Families: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.queries, "LogOps" -> LogOps.queries,
    "AnomalyOps" -> AnomalyOps.queries, "VectorOps" -> VectorOps.queries,
    "TextOps" -> TextOps.queries, "SimhashOps" -> SimhashOps.queries,
    "CurationOps" -> CurationOps.queries, "StreamOps" -> StreamOps.queries,
    "MediaQueries" -> MediaQueries.queries, "SessionOps" -> SessionOps.queries,
    "CorpusOps" -> CorpusOps.queries, "HybridOps" -> HybridOps.queries)

  def run(ctx: Ctx, expectedPath: String): Unit = {
    import ctx._
    val sc = spark.sparkContext
    val queries = Families.flatMap { case (f, qs) => qs.map(f -> _) }
    require(queries.map(_._2.name).toSet == Registry.all.map(_.name).toSet,
      "gate families out of step with Registry.all")
    val rng = new scala.util.Random(seed)

    sc.setLocalProperty("perfbench.tag", "setup")
    parallel(4, Seq[(String, () => Any)](
      "graph" -> (() => graft.search.GraphIndex.indexFor(spark, data)),
      "ann" -> (() => graft.search.AnnIndex.indexFor(spark, data)),
      "text" -> (() => graft.search.TextIndex.indexFor(spark, data)),
      "int8stats" -> (() => graft.search.Int8Stats.statsFor(spark, data)))) { case (k, build) =>
      val t0 = System.nanoTime()
      try rec.span(s"search.build.$k")(build())
      catch { case e: Throwable => rec.finding(s"index build $k failed: ${e.getMessage}") }
      rec.set(s"search.build_s.$k", (System.nanoTime() - t0) / 1e9)
    }

    // untimed check rep (also the warm-up): fingerprint every output
    val expected = if (Files.exists(Paths.get(expectedPath))) Check.load(expectedPath) else Map.empty[String, (Long, String)]
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
    sc.setLocalProperty("perfbench.tag", "check")
    val checkStart = System.nanoTime()
    spark.catalog.clearCache()
    parallel(CheckThreads, rng.shuffle(queries)) { case (_, q) =>
      val ok = try {
        val df = q.fn(spark, data)
        dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/${q.name}"))
        val fp = Check.fingerprint(df)
        seen.put(q.name, fp)
        expected.get(q.name) match {
          case Some(e) if e == fp => true
          case Some(e) => rec.wrong(s"${q.name}: output ${fp._1} rows/${fp._2} != expected ${e._1} rows/${e._2}"); false
          case None => rec.wrong(s"${q.name}: no expected output recorded"); false
        }
      } catch { case e: Throwable => rec.finding(s"${q.name}: check rep failed: ${e.getMessage}"); false }
      rec.outcome(ok)
    }
    dump.foreach { d =>
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), Json.write(graft.SparkEntry.oracleSql))
      Files.writeString(Paths.get(s"$d/fingerprints.json"),
        Json.write(seen.asScala.map { case (k, (n, fp)) => k -> Seq(n, fp) }.toMap))
    }

    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def rep(fam: String, q: QueryDef): Unit = {
      spark.catalog.clearCache()
      sc.setLocalProperty("perfbench.tag", fam)
      val t0 = System.nanoTime()
      var tb = t0
      val ok = try {
        rec.span(s"queries.$fam") {
          val df = rec.span(s"queries.$fam.build")(q.fn(spark, data))
          tb = System.nanoTime()
          rec.span(s"queries.$fam.write")(df.write.format("noop").mode("overwrite").save())
        }
        true
      } catch { case e: Throwable => rec.finding(s"${q.name}: timed rep failed: ${e.getMessage}"); false }
      val t1 = System.nanoTime()
      rec.outcome(ok)
      if (ok) {
        val wall = (t1 - t0) / 1e9
        rec.sample("op_s", wall)
        perQuery.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += wall
        listener.foreach { l =>
          // the write's own QueryExecution arrives after all of its task
          // events (one listener queue), so the family's counters are
          // complete once it is seen. Its reported duration covers its
          // planning and execution; build + duration falls short of the
          // rep's wall by what neither covers (the writer's own set-up).
          val (plan, dur) = Option(l.writes.poll(10, TimeUnit.SECONDS)).getOrElse {
            rec.finding(s"${q.name}: its write's QueryExecution was not reported"); (0.0, 0.0) }
          rec.add(s"queries.$fam.wall_s", wall)
          rec.add(s"queries.$fam.build_s", (tb - t0) / 1e9)
          rec.add(s"queries.$fam.plan_s", plan)
          rec.add(s"queries.$fam.exec_s", dur - plan)
          rec.add(s"queries.$fam.reps", 1)
          rec.sample(s"query.${q.name}", wall)
        }
      }
    }

    rec.set("check_s", (System.nanoTime() - checkStart) / 1e9)
    setupDone()
    val start = System.nanoTime()
    val passes = timedPasses(seconds)
    (1 to passes).foreach(_ => rng.shuffle(queries).foreach { case (f, q) => rep(f, q) })
    val median = perQuery.values.map(ts => Stats.median(ts.toSeq))
    rec.set("work_s", median.sum)
    rec.set("passes", passes)
    rec.set("timed_s", (System.nanoTime() - start) / 1e9)
    listener.foreach { l =>
      Families.foreach { case (f, _) =>
        Seq("jobs", "task_cpu_s", "shuffle_bytes").foreach(k =>
          rec.set(s"queries.$f.$k", l.total(f, k)))
      }
    }
  }

  /** Runs `body` over `items` on `threads` threads, in order of `items`;
    * returns when all are done. */
  private def parallel[T](threads: Int, items: Seq[T])(body: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map(i => pool.submit(new Runnable { def run(): Unit = body(i) })).foreach(_.get())
    finally pool.shutdown()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Order-insensitive output fingerprint: row count plus the sum and xor
  * of a 64-bit hash of each row's canonical text. Columns are taken in
  * name order; doubles are compared at float precision (a tolerance for
  * summation-order noise in the last bits), -0.0 as 0.0. */
object Check {
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => Integer.toHexString(java.lang.Float.floatToIntBits(if (d == 0.0) 0.0f else d.toFloat))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def fingerprint(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    var (n, sum, xor) = (0L, 0L, 0L)
    df.collect().foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
      n += 1; sum += h; xor ^= h
    }
    (n, f"$sum%016x$xor%016x")
  }

  /** `{"query": [rows, "fingerprint"], ...}` */
  def load(path: String): Map[String, (Long, String)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(Paths.get(path)))
    val out = Map.newBuilder[String, (Long, String)]
    m.fields().forEachRemaining(e => out += e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText))
    out.result()
  }
}
