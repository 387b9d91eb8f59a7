package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (launched by `perfbench/run.py`, which
  * builds, generates the seeded inputs and turns the result file into the
  * printed metrics).
  *
  * Arguments: `--workload --seed --seconds --trace --data --inputs --work
  * --expected --out --t0-ms [--dump dir]`. `--t0-ms` is the wall-clock
  * start of the benchmark process, so `setup_s` covers process start to
  * the first timed operation. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = opt("trace") == "1"
    val rec = new Recorder(traced)
    val spark = Session(opt("work"))
    val listener = if (traced) Some(new EngineListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val ctx = Ctx(spark, rec, listener, opt("seed").toLong, opt("seconds").toDouble,
      opt("data"), opt("inputs"), opt("work"), opt("t0-ms").toLong, opt.get("dump"))
    opt("workload") match {
      case "gate_sf0.01" => Gate.run(ctx, opt("expected"))
      case "ingest_drain" => Drain.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    rec.set("peak_rss_mb", peakRssMb())
    rec.set("jvm.gc_s", java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3)
    val sparkTotals = listener.map(_.sparkTotals).getOrElse(Map.empty)
    spark.stop()
    Files.writeString(Paths.get(opt("out")),
      rec.toJson(Map("workload" -> opt("workload"), "spark" -> sparkTotals)))
  }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, rec: Recorder, listener: Option[EngineListener],
    seed: Long, seconds: Double, data: String, inputs: String, work: String, t0Ms: Long,
    dump: Option[String]) {
  /** Record `setup_s` (benchmark process start → now); call right before
    * the first timed operation. */
  def setupDone(): Unit = rec.set("setup_s", (System.currentTimeMillis() - t0Ms) / 1e3)
}

object Session {
  /** The engine's own measurement session (`graft.SessionTuning.tuned`)
    * at `local[4]`; warehouse and scratch space inside the work dir. */
  def apply(work: String): SparkSession = {
    val s = graft.SessionTuning.tuned(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
