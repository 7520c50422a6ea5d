package graft.recdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental model maintenance — the Spark-native form of RecDB's INSERT
  * hook (R17, SURVEY.md §2.1): every ExecInsert bumps the recommender's
  * updateCounter, and once the counter reaches
  * `update_threshold × eventTotal` (default 0.5 from RecDBProperties,
  * utility.c:907) the model is FULLY rebuilt and the counters reset
  * (recathon.c:951-1203). The reference is batch-incremental — a full
  * retrain, not online learning — and so is this.
  *
  * Spark shape: the events table is a stream; [[attach]] drives
  * `foreachBatch`, each micro-batch appends to the events store, bumps the
  * catalog counter (durable, driver-side — survives executor loss), and
  * triggers the rebuild when the threshold crosses. Rebuild cost is the same
  * one-shot distributed similarity/ALS job as create — no executor state.
  *
  * For cosine models at scales where even the threshold-gated full rebuild
  * is too expensive, [[IncrementalSimilarity]] maintains the model's
  * sufficient statistics as mergeable state (delta-batch cost ∝ the delta
  * users' activity) — the beyond-reference alternative to this hook's
  * faithful rebuild semantics.
  */
final class IncrementalMaintainer(
    catalog: RecCatalog,
    eventsPath: String,
    // None = the reference's behavior: re-read update_threshold from the
    // RecDBProperties store on every maintenance check
    // (getUpdateThreshold, recathon.c:908-948)
    updateThresholdOverride: Option[Double] = None) {

  private def updateThreshold: Double =
    updateThresholdOverride.getOrElse(catalog.properties.updateThreshold)

  /** Process one inserted micro-batch for `name`: append + count + maybe
    * retrain. Returns true if a rebuild was triggered. `batchId` makes the
    * at-least-once foreachBatch contract idempotent: a replayed batch (driver
    * restart between append and checkpoint commit) is skipped instead of
    * double-appending events and double-counting the update counter.
    *
    * Each catalog write is a [[RecCatalog.update]] of this batch's own
    * fields: point reads bump the entry's query counter, and a
    * materialization may publish a view, while the batch works.
    */
  def processBatch(name: String, batch: DataFrame,
      batchId: Long = Long.MinValue): Boolean = {
    val entry = catalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"unknown recommender: $name"))
    if (batchId != Long.MinValue && batchId <= entry.lastBatchId) return false
    def stamped(e: RecEntry): RecEntry =
      if (batchId == Long.MinValue) e else e.copy(lastBatchId = batchId)
    val n = batch.count()
    if (n == 0) { catalog.update(name)(stamped); return false }
    batch.write.mode("append").parquet(eventsPath)
    // recathon.c:1089: counter >= update_threshold × eventtotal → full rebuild
    if (entry.updateCounter + n >= updateThreshold * entry.eventTotal) {
      rebuild(name, entry, stamped)
      true
    } else {
      catalog.update(name)(e =>
        stamped(e).copy(updateCounter = e.updateCounter + n))
      false
    }
  }

  /** Full retrain over the current events store; counters reset and
    * eventTotal re-recorded (recathon.c:1174-1180).
    */
  private def rebuild(name: String, entry: RecEntry,
      stamped: RecEntry => RecEntry): Unit = {
    // CREATE's own train-and-persist path over the grown events store: the
    // NBRHOOD bound is re-applied (a rebuild must not silently widen a
    // sparsified model back to all pairs) and the corpus stats re-measured
    val events = org.apache.spark.sql.SparkSession.active.read.parquet(eventsPath)
    val t = Recommender.train(events, entry)
    // a rebuilt model invalidates any materialized prediction view — the
    // one the catalog names when the retrain commits
    var stale: Option[String] = None
    catalog.update(name) { e =>
      stale = e.viewPath
      stamped(e).copy(eventTotal = t.eventTotal, nUsers = t.nUsers,
        nItems = t.nItems, modelRows = t.modelRows, updateCounter = 0,
        viewPath = None, viewComplete = false, viewTopK = -1L)
    }
    // its files go only after the catalog stops naming them, so point reads
    // keep serving the pre-rebuild view through the retrain instead of
    // failing on a missing path
    stale.foreach(Recommender.deleteViewVersions(_, keepFrom = Long.MaxValue))
  }

  /** Attach to a streaming events DataFrame: the R17 hook as a sink. */
  def attach(stream: DataFrame, name: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(name, batch, batchId); ()
      }
      .start()
}

object IncrementalMaintainer {
  /** RecDBProperties default update_threshold (utility.c:907). The full
    * three-knob properties row lives in [[RecCatalog.properties]]:
    * update_threshold is live-read per maintenance check (as the
    * reference's getUpdateThreshold does); tail_length / verbose_queries
    * round-trip with the reference's own vestigiality (no code path reads
    * them there either).
    */
  val DefaultThreshold = 0.5
}
