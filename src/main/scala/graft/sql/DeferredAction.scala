package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** EXPLAIN-SAFE action relations — the execution-time home for the
  * GRAFT_VACUUM / GRAFT_SWEEP "DELETE … RETURNING" semantics.
  *
  * The GRAFT_* placeholders are substituted at ANALYSIS time
  * ([[ResolveRecommend]]); running the GC inside that substitution meant
  * `EXPLAIN SELECT * FROM GRAFT_VACUUM(...)` performed the vacuum — an
  * EXPLAIN-that-deletes, a least-surprise violation even though pins and
  * idempotence made it safe. This leaf plan defers the effect to
  * EXECUTION: analysis only records the action's schema and a thunk;
  * planning (including EXPLAIN, with this node visible in the plan tree)
  * runs nothing; the first execute/collect of the statement runs the
  * action exactly once per executed plan (the memoized `result`) and
  * serves its returned rows. Re-executing the same statement re-runs the
  * action — idempotent by the GC operations' own contract (a re-run
  * drops nothing new and reports the empty set).
  */
final case class DeferredActionRelation(output: Seq[Attribute],
    label: String, thunk: () => Seq[Row]) extends LeafNode {
  // the once-per-statement memo lives in the THUNK CLOSURE, built at
  // analysis time ([[DeferredAction.once]]) — not on this node or the
  // exec node. Node-level memos are identity-scoped: AQE (or any
  // physical re-planning) builds fresh exec nodes, and a Catalyst
  // transform that COPIES this case class would get a fresh lazy val —
  // either way the second, idempotent run returns the empty set,
  // silently blanking the statement's RETURNING rows. The closure is
  // copied BY REFERENCE through every node copy, so all physical
  // instantiations of one analyzed statement observe the same action
  // run. Action relations are therefore SINGLE-SHOT per analyzed
  // statement: re-collecting the same DataFrame handle replays the
  // first run's rows; re-issue the SQL to re-run the action.
  override def computeStats(): Statistics = Statistics(sizeInBytes = 1L)
}

object DeferredAction {
  /** Memoize an action thunk at analysis time — the once-per-statement
    * guarantee of the GRAFT_VACUUM/SWEEP/RETIRE relations rides this
    * closure (see [[DeferredActionRelation]]'s memo note). Scala's lazy
    * val gives the thread-safe once-only evaluation.
    */
  def once(thunk: () => Seq[Row]): () => Seq[Row] = {
    lazy val rows = thunk()
    () => rows
  }
}

final case class DeferredActionExec(output: Seq[Attribute], label: String,
    @transient thunk: () => Seq[Row]) extends LeafExecNode {
  // once per executed plan: collect() after execute() (or the gate
  // harness's count-then-write) must observe the SAME action run, not
  // re-fire a second (empty-by-idempotence) one mid-statement.
  // Rows are emitted as UnsafeRow (the LocalTableScanExec discipline):
  // an exchange fed by this leaf (ORDER BY / GROUP BY / JOIN over the
  // RETURNING set) serializes with UnsafeRowSerializer, which
  // ClassCastExceptions on the converter's GenericInternalRow output.
  // Thunk and rows are driver-only: a parent's task closure may serialize
  // this node, and the thunk holds the SparkSession, which an Observation
  // makes unserializable.
  @transient private lazy val result: Array[InternalRow] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    val proj = UnsafeProjection.create(output, output)
    thunk().map(r =>
      proj(conv(r).asInstanceOf[InternalRow]).copy(): InternalRow).toArray
  }
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(result.toIndexedSeq, 1)
  override def executeCollect(): Array[InternalRow] = result
  override def nodeName: String = s"GraftAction($label)"
}

class GraftActionStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeferredActionRelation(out, label, thunk) =>
      // the thunk is already the parse-time memoizing closure
      // ([[DeferredAction.once]]) — every exec instance shares it
      DeferredActionExec(out, label, thunk) :: Nil
    case _ => Nil
  }
}
