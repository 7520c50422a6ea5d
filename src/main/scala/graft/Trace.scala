package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.{ArrayBuffer, HashSet}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What one traced run of a body cost: the engine's one trace record (the
  * Spark side of EXPLAIN ANALYZE). Times are in ms; `idleMs` is the part
  * of the wall time during which none of the body's tasks ran (driver
  * work: planning, codegen, scheduling, commits). Shuffle bytes are the
  * bytes written plus read, spill bytes the in-memory plus on-disk bytes
  * spilled; `rowsRead` counts input records; `gcMs` is JVM-wide.
  */
final case class Trace(wallMs: Double, jobs: Int, stages: Int, tasks: Int,
    taskRunMs: Long, taskCpuMs: Double, idleMs: Double, shuffleBytes: Long,
    spillBytes: Long, rowsRead: Long, gcMs: Long) {
  def line: String =
    f"wall=${wallMs / 1e3}%.3fs jobs=$jobs stages=$stages tasks=$tasks " +
      f"taskRun=${taskRunMs / 1e3}%.3fs taskCpu=${taskCpuMs / 1e3}%.3fs " +
      f"idle=${idleMs / 1e3}%.3fs shuffle=${shuffleBytes}B " +
      f"spill=${spillBytes}B rowsRead=$rowsRead gc=${gcMs / 1e3}%.3fs"
}

object Trace {

  /** Local property naming the traces a job belongs to (comma-separated
    * ids: traces nest). Threads the body starts inherit it, so jobs they
    * run are counted; the caller's job group is left alone. */
  val Key = "graft.trace"

  /** Run `body` and trace the Spark jobs it starts, on this thread or on
    * threads it spawns. A sentinel job run after the body flushes the
    * listener bus, which delivers one listener's events in order. */
  def run[A](sc: SparkContext)(body: => A): (A, Trace) = {
    val id = java.util.UUID.randomUUID().toString
    val listener = new Listener(id)
    val outer = Option(sc.getLocalProperty(Key))
    sc.addSparkListener(listener)
    try {
      val gc0 = gcMs()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      sc.setLocalProperty(Key, (outer.toSeq :+ id).mkString(","))
      val out = try body finally sc.setLocalProperty(Key, outer.orNull)
      val wallMs = (System.nanoTime() - n0) / 1e6
      val gc = gcMs() - gc0
      sc.setLocalProperty(Key, s"$id.flush")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Key, outer.orNull)
      if (!listener.flushed.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "trace: the listener bus did not deliver the flush job")
      (out, listener.record(t0, wallMs, gc))
    } finally sc.removeSparkListener(listener)
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private final class Listener(id: String) extends SparkListener {
    val flushed = new CountDownLatch(1)
    private var jobs = 0
    private var stages = 0
    private val stageIds = HashSet.empty[Int]
    private val ends = ArrayBuffer.empty[SparkListenerTaskEnd]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
        case Some(v) if v == s"$id.flush" => flushed.countDown()
        case Some(v) if v.split(',').contains(id) =>
          jobs += 1; stageIds ++= e.stageIds
        case _ => ()
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (stageIds(e.stageInfo.stageId)) stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId) && e.taskInfo != null) ends += e
    }

    /** The record of a body that started at wall-clock ms `start`. */
    def record(start: Long, wallMs: Double, gc: Long): Trace = synchronized {
      val ms = ends.flatMap(e => Option(e.taskMetrics))
      val busy = covered(ends.map(e =>
        (e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble)).toSeq,
        start.toDouble, start + wallMs)
      Trace(wallMs, jobs, stages, ends.size, ms.map(_.executorRunTime).sum,
        ms.map(_.executorCpuTime).sum / 1e6, wallMs - busy,
        ms.map(m => m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead).sum,
        ms.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum,
        ms.map(_.inputMetrics.recordsRead).sum, gc)
    }
  }

  /** Length of the union of `spans`, clipped to [start, end]. */
  private def covered(spans: Seq[(Double, Double)], start: Double,
      end: Double): Double = {
    var (sum, reach) = (0.0, start)
    spans.map { case (a, b) => (a max start, b min end) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { sum += b - (a max reach); reach = b }
      }
    sum
  }
}
