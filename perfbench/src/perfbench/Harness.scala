package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs ops and records what they cost. Every op gets an id; in a traced
  * window the id rides Spark's local properties so the [[Tracer]] can tie
  * jobs to it, and the harness records spans around the op, around each
  * call into a program module ([[call]]) and for each query-planning phase
  * ([[collect]]).
  */
final class Harness(val spark: SparkSession) {
  import Harness._

  private val nextId = new AtomicLong(1)
  private val records = new ConcurrentLinkedQueue[(String, Long, OpRecord)]
  private val spanBuf = new ConcurrentLinkedQueue[Span]
  private val sampleBuf = new ConcurrentHashMap[(String, String), ConcurrentLinkedQueue[Double]]
  private val opStats = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Double]]
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  private val memory = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var peakHeap = 0L

  /** Window the next ops belong to: "setup", "timed", "traced" or "check". */
  @volatile var window: String = "setup"
  @volatile var tracing: Boolean = false

  /** Epoch milliseconds of a `System.nanoTime` value. */
  def epochMs(nano: Long): Double = ms0 + (nano - ns0) / 1e6

  /** Run one op. Exceptions, timeouts and failed checks mark it failed; the
    * op's record goes to the current window. Returns whether it succeeded.
    */
  def op(kind: String, due: Long = -1L)(body: => Unit): Boolean = {
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    if (tracing) sc.setLocalProperty(Tracer.OpKey, id.toString)
    val compiles0 = codegenCompiles
    val jit0 = jitMs
    val start = System.nanoTime()
    val root = Span(id, 0L, id, s"op.$kind", epochMs(start), 0.0)
    stack.set(List(root))
    val err =
      try { body; "" }
      catch {
        case e: Checks.CheckFailed => s"check: ${e.getMessage}"
        case NonFatal(e) => s"${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}"
      } finally {
        stack.set(Nil)
        if (tracing) sc.setLocalProperty(Tracer.OpKey, null)
      }
    val end = System.nanoTime()
    addOpStat(id, "codegen_compiles", (codegenCompiles - compiles0).toDouble)
    addOpStat(id, "jit_ms", (jitMs - jit0).toDouble)
    val error = if (err.isEmpty && end - start > OpTimeoutNs) "timeout" else err
    records.add((window, id, OpRecord(kind, if (due < 0) start else due, start, end,
      error.isEmpty, error)))
    if (tracing) spanBuf.add(root.copy(endMs = epochMs(end)))
    if (error.nonEmpty) System.err.println(s"[perfbench] $kind op $id failed: $error")
    val used = memory.getHeapMemoryUsage.getUsed
    if (used > peakHeap) peakHeap = used
    error.isEmpty
  }

  /** Time one call into a program module under `name` (a per-layer metric
    * name such as "streaming.bm25_ms"); in a traced window it is also a span
    * under the innermost open span of the calling op.
    */
  def call[T](name: String)(body: => T): T = {
    val parent = stack.get().headOption
    val start = System.nanoTime()
    val span = parent.map(p => Span(nextId.getAndIncrement(), p.id, p.op,
      name, epochMs(start), 0.0))
    span.foreach(s => stack.set(s :: stack.get()))
    try body
    finally {
      val end = System.nanoTime()
      span.foreach { s =>
        stack.set(stack.get().tail)
        if (tracing) spanBuf.add(s.copy(endMs = epochMs(end)))
      }
      sample(name, (end - start) / (if (inSeconds(name)) 1e9 else 1e6))
    }
  }

  /** Record a sample of a per-layer metric in the current window. */
  def sample(name: String, v: Double): Unit =
    sampleBuf.computeIfAbsent((window, name), _ => new ConcurrentLinkedQueue[Double]).add(v)

  def samples(name: String, windows: String*): Seq[Double] =
    windows.flatMap(w => Option(sampleBuf.get((w, name))).map(_.asScala.toVector)
      .getOrElse(Vector.empty))

  def sampleNames(window: String): Seq[String] =
    sampleBuf.keySet().asScala.collect { case (w, n) if w == window => n }.toSeq.sorted

  /** Add `v` to a per-op total (planning phases, rows returned). */
  private def addOpStat(op: Long, name: String, v: Double): Unit =
    opStats.computeIfAbsent(op, _ => new ConcurrentHashMap[String, Double])
      .merge(name, v, (a: Double, b: Double) => a + b)

  def opStat(op: Long, name: String): Double =
    Option(opStats.get(op)).flatMap(m => Option(m.get(name))).getOrElse(0.0)

  /** Collect `df` inside the current op, recording Spark's own planning
    * phases (QueryExecution.tracker) and the rows returned as per-op totals,
    * and in a traced window the phases as spans plus an "execute" span from
    * the end of planning to the end of the action.
    */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    val done = epochMs(System.nanoTime())
    stack.get().headOption.foreach { q =>
      val phases = df.queryExecution.tracker.phases
      PhaseMetrics.foreach { case (phase, metric) =>
        phases.get(phase).foreach { p =>
          addOpStat(q.op, metric, (p.endTimeMs - p.startTimeMs).toDouble)
          if (tracing) spanBuf.add(Span(nextId.getAndIncrement(), q.id, q.op,
            metric.stripSuffix("_ms"), p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
      }
      addOpStat(q.op, "rows_out", rows.length.toDouble)
      if (tracing) {
        val planned = phases.values.map(_.endTimeMs).maxOption
          .map(_.toDouble).getOrElse(q.startMs)
        spanBuf.add(Span(nextId.getAndIncrement(), q.id, q.op, "execute", planned, done))
      }
    }
    rows
  }

  def ops(window: String): Vector[OpRecord] =
    records.asScala.collect { case (w, _, r) if w == window => r }.toVector

  def opsWithIds(window: String): Vector[(Long, OpRecord)] =
    records.asScala.collect { case (w, id, r) if w == window => (id, r) }.toVector

  def spans: Vector[Span] = spanBuf.asScala.toVector
  def peakHeapMb: Double = peakHeap / 1048576.0
  def resetPeakHeap(): Unit = peakHeap = 0L
}

object Harness {
  /** An op that runs longer than this counts as failed. */
  val OpTimeoutNs: Long = 60L * 1000000000L

  val PhaseMetrics: Seq[(String, String)] = Seq(
    "parsing" -> "sql.parse_ms", "analysis" -> "sql.analyze_ms",
    "optimization" -> "catalyst.optimize_ms", "planning" -> "catalyst.plan_ms")

  /** Metric names carry their unit: `recdb.rebuild_s`, `recdb.create_s.svd`. */
  def inSeconds(name: String): Boolean = name.endsWith("_s") || name.contains("_s.")

  /** Whole-stage and expression classes Spark has compiled in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time the JVM's JIT compilers have spent, summed over their threads. */
  def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("").take(200)
}
