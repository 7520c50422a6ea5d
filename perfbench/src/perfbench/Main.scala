package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work-dir <dir>`. Prints the inputs'
  * digest, every end-to-end metric by name, op counts per kind, and as the
  * last line one JSON object with the run's result.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** The traced run runs this many untraced and as many traced slices, in
    * the order untraced, traced, traced, untraced, … so that JIT warm-up
    * lowers both alike and their p50s give the tracer's cost.
    */
  val TraceSlices = 4

  /** The end-to-end metrics the result line carries (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "query_p50_ms" -> "ms", "heap_mb" -> "MB")

  /** Every end-to-end metric the benchmark defines; those a workload has no
    * op for print as n/a.
    */
  val AllEndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "query_p50_ms" -> "ms", "query_p90_ms" -> "ms", "query_qps" -> "ops/s",
    "write_p50_ms" -> "ms", "refresh_s" -> "s", "heap_mb" -> "MB",
    "error_rate" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: String, traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work-dir"), m.get("trace-out"))
  }

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    progress("main")
    val wl = Workload(a.workload, a.seed)
    println(s"perfbench: workload=${wl.name} seed=${a.seed} inputs=${wl.digest}")
    progress("inputs generated")
    val s0 = System.nanoTime()
    val spark = session(a.workDir)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val code =
      try run(a, wl, new Harness(spark), sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  /** Median duration of each module call of a window, for the report. */
  private def calls(h: Harness, window: String): String =
    "calls (median): " + h.sampleNames(window).map(n =>
      s"$n=${Json.num(Stats.median(h.samples(n, window)).get)}").mkString(" ")

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Heap in use after full GCs. Spark's ContextCleaner frees blocks and
    * broadcasts only after a GC has cleared their weak references, so a few
    * GC cycles run and the lowest reading counts.
    */
  private def heapAfterGcMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** One timed window of the workload's clients; returns the reader's
    * window in seconds, from the start to the end of its last read.
    */
  private def window(h: Harness, wl: Workload, name: String, seconds: Double): Double = {
    h.window = name
    val t0 = System.nanoTime()
    wl.run(h, t0 + (seconds * 1e9).toLong)
    val lastRead = h.ops(name).filter(_.kind == "read").map(_.end).maxOption
    (lastRead.getOrElse(System.nanoTime()) - t0) / 1e9
  }

  /** End-to-end figures of one window. */
  final case class Window(ops: Vector[OpRecord], seconds: Double, samples: String => Seq[Double]) {
    private def kind(k: String) = ops.filter(_.kind == k)
    val reads: Vector[OpRecord] = kind("read")
    def readP50: Option[Double] = Stats.median(Stats.latencies(reads))
    def readP90: Option[Double] = Stats.percentile(Stats.latencies(reads), 0.9)
    def qps: Double = reads.count(_.ok) / seconds
    def writeP50: Option[Double] = Stats.median(Stats.latencies(kind("write")))
    def refreshS: Option[Double] = Stats.median(samples("refresh_s"))
  }

  /** Every window ops are recorded in. */
  val Windows: Seq[String] = Seq("setup", "timed", "untraced", "traced", "check")

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Wall-clock progress since the JVM started, on standard error. */
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what")

  /** Runs the set-ups, the timed window, in a traced run the alternating
    * slices, and the final checks; prints the report and the result line.
    * `sessionS` is how long the SparkSession took to start.
    */
  def run(a: Args, wl: Workload, h: Harness, sessionS: Double): Int = {
    val spark = h.spark
    progress("session ready")
    val setups = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(h, s"${a.workDir}/state$r")
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(setups).get
    val coldS = sessionS + setups.head
    println(f"setup: ${setups.map(s => f"$s%.3f").mkString(" ")} s (cold, with session " +
      f"start: $coldS%.3f s); ${calls(h, "setup")}")
    progress("set-ups done")
    val timedS = window(h, wl, "timed", a.seconds)
    val timed = Window(h.ops("timed"), timedS, h.samples(_, "timed"))
    val heapMb = heapAfterGcMb

    val layers = if (!a.trace) None else {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      h.resetPeakHeap()
      var gc = 0.0
      val slices = (0 until 2 * TraceSlices).map { j =>
        h.tracing = j % 4 == 1 || j % 4 == 2
        val gc0 = gcMs
        val secs = window(h, wl, if (h.tracing) "traced" else "untraced",
          a.seconds / TraceSlices)
        if (h.tracing) gc += gcMs - gc0
        (h.tracing, secs)
      }
      h.tracing = false
      tracer.quiesce()
      spark.sparkContext.removeSparkListener(tracer)
      def part(name: String, traced: Boolean) = Window(h.ops(name),
        slices.filter(_._1 == traced).map(_._2).sum, h.samples(_, name))
      val l = Layers(h, tracer.snapshot(), part("untraced", traced = false),
        part("traced", traced = true), gc, coldS)
      a.traceOut.foreach { path =>
        val out = java.nio.file.Paths.get(path)
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, l.spanLines.toSeq.asJava)
        println(s"spans: $path")
      }
      println(l.overheadReport)
      Some(l)
    }

    progress("timed windows done")
    h.window = "check"
    wl.finalChecks(h)
    progress("checks done")

    val all = Windows.flatMap(h.ops)
    val failed = all.count(!_.ok)
    val wrong = all.exists(_.error.startsWith("check:"))
    val e2e: Map[String, Option[Double]] = Map(
      "setup_s" -> Some(setupS),
      "query_p50_ms" -> timed.readP50,
      "query_p90_ms" -> timed.readP90,
      "query_qps" -> Some(timed.qps),
      "write_p50_ms" -> timed.writeP50,
      "refresh_s" -> timed.refreshS,
      "heap_mb" -> Some(heapMb),
      "error_rate" -> Some(failed.toDouble / all.size))
    println("metrics: " + AllEndToEnd.map { case (n, u) =>
      e2e(n).map(v => s"$n=${Json.num(v)} $u").getOrElse {
        if (n == "query_p90_ms") s"$n=n/a (${timed.reads.size} reads, needs " +
          s"${Stats.MinBeyond} beyond p90)"
        else s"$n=n/a"
      }
    }.mkString(", "))
    println(s"reads in timed window: ${timed.reads.size} over ${Json.num(timedS)} s, ms: " +
      h.opsWithIds("timed").filter(_._2.kind == "read").map { case (id, r) =>
        f"${r.latencyMs}%.0f" + (if (h.opStat(id, "codegen_compiles") > 0) "*" else "")
      }.mkString(" ") + " (* compiled new query code); " + calls(h, "timed"))
    println("ops (attempted/failed): " + Stats.counts(all)
      .map { case (k, n, f) => s"$k=$n/$f" }.mkString(" "))

    val metrics: Seq[(String, Double, String)] = layers match {
      case Some(l) => l.metrics
      case None => EndToEnd.map { case (n, u) =>
        (n, e2e(n).getOrElse(Double.NaN), u) }
    }
    println(Json.result(!wrong, all.size, failed, metrics))
    0
  }
}

/** Minimal JSON output. */
object Json {
  /** Failed ops count as this long in a latency figure. */
  private val Cap = Harness.OpTimeoutNs / 1e6

  def num(v: Double): String =
    if (v.isNaN) "null" else if (v.isInfinite) Cap.toString else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"
}
