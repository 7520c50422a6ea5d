package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spark-side half of the traced run: a listener that keeps, for every job
  * tagged with an op id (the [[Tracer.OpKey]] local property the harness
  * sets on the issuing thread), the job, its stages and its tasks. Events
  * arrive on Spark's listener bus thread; readers call [[quiesce]] first.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobEnd = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      jobs += JobRec(e.jobId, op.toLong, e.time, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobEnd(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      stages(i.stageId) = StageRec(i.stageId, j,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    if (stageJob.contains(e.stageId) && m != null && e.taskInfo != null)
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime / 1e6,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead)
  }

  /** Wait until every tagged job has ended and the bus has been idle for a
    * moment, so the snapshot holds each op's complete job tree.
    */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(jobs.forall(j => jobEnd.contains(j.jobId))) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def snapshot(): Snapshot = synchronized {
    Snapshot(jobs.toVector.map(j => j.copy(endMs = jobEnd.getOrElse(j.jobId, j.startMs))),
      stages.values.toVector, tasks.toVector)
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class JobRec(jobId: Int, op: Long, startMs: Long,
      stageIds: Seq[Int], endMs: Long = 0L)
  final case class StageRec(stageId: Int, jobId: Int, submitMs: Long, endMs: Long)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuMs: Double, shuffleBytes: Long, spillBytes: Long,
      recordsRead: Long)

  final case class Snapshot(jobs: Vector[JobRec], stages: Vector[StageRec],
      tasks: Vector[TaskRec])

  /** Per-op Spark totals. */
  final case class OpSpark(jobs: Int, stages: Int, tasks: Int, idleMs: Double,
      taskRunMs: Double, taskCpuMs: Double, shuffleBytes: Double,
      spillBytes: Double, recordsRead: Double)

  /** Attach Spark's job and stage spans to the harness spans of each op:
    * a job hangs under the innermost harness span of its op that contains
    * the job's start, a stage under its job. Returns every span, harness
    * spans included, with fresh ids for the Spark ones.
    */
  def assemble(harness: Seq[Span], snap: Snapshot): Vector[Span] = {
    val byOp = harness.groupBy(_.op)
    var next = harness.map(_.id).maxOption.getOrElse(0L) + 1
    val out = Vector.newBuilder[Span] ++= harness
    val stagesByJob = snap.stages.groupBy(_.jobId)
    snap.jobs.foreach { j =>
      byOp.get(j.op).foreach { spans =>
        val holders = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        val parent = (if (holders.nonEmpty) holders else spans).minBy(_.durMs)
        val jid = next; next += 1
        out += Span(jid, parent.id, j.op, s"spark.job", j.startMs.toDouble,
          math.max(j.endMs, j.startMs).toDouble)
        stagesByJob.getOrElse(j.jobId, Nil).foreach { st =>
          out += Span(next, jid, j.op, "spark.stage", st.submitMs.toDouble,
            math.max(st.endMs, st.submitMs).toDouble)
          next += 1
        }
      }
    }
    out.result()
  }

  /** Spark totals for one op, whose wall interval is `[startMs, endMs]`.
    * Idle time is the part of the op's wall time during which none of its
    * tasks ran.
    */
  def opSpark(snap: Snapshot, op: Long, startMs: Double, endMs: Double): OpSpark = {
    val js = snap.jobs.filter(_.op == op)
    val stageIds = js.flatMap(_.stageIds).toSet
    val ts = snap.tasks.filter(t => stageIds.contains(t.stageId))
    val busy = Stats.covered(ts.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)),
      startMs, endMs)
    OpSpark(js.size, snap.stages.count(s => stageIds.contains(s.stageId)), ts.size,
      (endMs - startMs) - busy, ts.map(_.runMs.toDouble).sum, ts.map(_.cpuMs).sum,
      ts.map(_.shuffleBytes.toDouble).sum, ts.map(_.spillBytes.toDouble).sum,
      ts.map(_.recordsRead.toDouble).sum)
  }
}
