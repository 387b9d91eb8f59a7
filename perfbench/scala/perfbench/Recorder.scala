package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one run measures, kept in memory and written once at the
  * end ([[Json]]): timing samples, per-layer values, outcome counts and —
  * in a traced run only — spans. A span is one call from the harness into
  * a layer (name, start, end, parent); spans opened on a thread nest
  * under that thread's innermost open span. */
final class Recorder(val traced: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  val originNs: Long = System.nanoTime()
  private val nextId = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val values = new ConcurrentHashMap[String, Double]()
  private val findings = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get()
      val t0 = System.nanoTime()
      open.set(id :: stack)
      try body
      finally {
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0), name, t0, System.nanoTime()))
      }
    }

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def set(name: String, v: Double): Unit = values.put(name, v)
  def add(name: String, v: Double): Unit = values.merge(name, v, (a: Double, b: Double) => a + b)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  /** One attempted operation; `ok = false` counts it failed. */
  def outcome(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
  }
  def finding(msg: String): Unit = { findings.add(msg); System.err.println(s"[perfbench] $msg") }
  /** An output check failed: the run reports `correct: false`. */
  def wrong(msg: String): Unit = { correct = false; finding(msg) }
  @volatile var correct = true

  def toJson(extra: Map[String, Any]): String = Json.write(Map(
    "correct" -> correct, "attempted" -> attempted.get(), "failed" -> failed.get(),
    "findings" -> findings.asScala.toSeq,
    "values" -> values.asScala.toMap,
    "samples" -> samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap,
    "spans" -> spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - originNs) / 1e6, "end_ms" -> (s.endNs - originNs) / 1e6))
  ) ++ extra)
}

/** Spark's public listener data, attached in traced runs only. Jobs,
  * stages and tasks are attributed to the `perfbench.tag` local property
  * of the thread that submitted the job; executed queries report their
  * `qe.tracker` phase times (analysis, optimization, planning). */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Double]()
  /** (plan seconds, reported duration seconds) of each executed `noop`
    * write (a V2 overwrite command), in completion order. */
  val writes = new java.util.concurrent.LinkedBlockingQueue[(Double, Double)]()

  private def add(tag: String, k: String, v: Double): Unit = {
    totals.merge(s"$tag|$k", v, (a: Double, b: Double) => a + b)
    if (tag != "*") totals.merge(s"*|$k", v, (a: Double, b: Double) => a + b)
  }
  def total(tag: String, k: String): Double = totals.getOrDefault(s"$tag|$k", 0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse("other")
    e.stageIds.foreach(s => stageTag.put(s, tag))
    add(tag, "jobs", 1); add(tag, "stages", e.stageIds.size)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val tag = stageTag.getOrDefault(e.stageId, "other")
      add(tag, "tasks", 1)
      add(tag, "task_cpu_s", m.executorCpuTime / 1e9)
      add(tag, "task_run_s", m.executorRunTime / 1e3)
      add(tag, "task_gc_s", m.jvmGCTime / 1e3)
      add(tag, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(tag, "input_bytes", m.inputMetrics.bytesRead.toDouble)
    }

  private def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (p, s) if p == "analysis" || p == "optimization" || p == "planning" => s.durationMs
    }.sum / 1e3

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = planSeconds(qe)
    add("*", "plan_s", plan); add("*", "exec_s", math.max(0.0, durationNs / 1e9 - plan))
    add("*", "queries", 1)
    if (funcName == "overwrite") writes.put((plan, durationNs / 1e9))
  }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (funcName == "overwrite") writes.put((planSeconds(qe), 0.0))

  /** Run-wide totals, `spark.`-prefixed, for the per-layer report. */
  def sparkTotals: Map[String, Double] = {
    val ks = Seq("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "task_gc_s",
      "shuffle_bytes", "input_bytes", "plan_s", "exec_s", "queries")
    ks.map(k => s"spark.$k" -> total("*", k)).toMap
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
