package graft.recdb

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DELTA model maintenance — the beyond-reference alternative to
  * [[IncrementalMaintainer]]'s faithful threshold-gated FULL rebuild
  * (recathon.c:1089-1170). Each micro-batch merges into the model's
  * mergeable sufficient statistics ([[IncrementalSimilarity]]), so per-batch
  * cost tracks the DELTA's co-rating activity instead of the corpus, and the
  * served model is fresh after every batch rather than every
  * threshold-crossing.
  *
  * Durability layout (local-FS rendering of what a transactional table
  * format provides on a real cluster — swap in Delta/Iceberg commits there):
  *   - events store: `eventsDir/batch=<v>/` — one overwrite-idempotent
  *     partition dir per applied batch (replays rewrite the same dir, never
  *     double-append);
  *   - state: `stateDir/v<v>/<frame>.parquet`, committed by a
  *     [[graft.StateCommit.writeFile]] of the `_LATEST` pointer AFTER
  *     state + events + model are all written. A crash mid-batch leaves
  *     `_LATEST` at the previous version; the foreachBatch replay
  *     overwrites the orphaned dirs and re-commits;
  *   - model: `modelPath`, a [[graft.StateCommit.writeDir]] swap per
  *     batch, so a reader sees one whole model.
  *
  * Supports the four similarity methods (cosine + Pearson, item + user
  * based); SVD factors are not sum-mergeable — use the full-rebuild
  * maintainer for SVD.
  */
final class DeltaSimilarityMaintainer(
    eventsDir: String, stateDir: String, modelPath: String,
    c: EventCols = EventCols(),
    method: RecMethod = RecMethod.ItemCosCF) {
  require(method != RecMethod.SVD,
    "SVD factors are not sum-mergeable; use IncrementalMaintainer")

  private val pearson =
    method == RecMethod.ItemPearCF || method == RecMethod.UserPearCF
  private val (out1, out2) =
    if (RecMethod.isUserBased(method)) ("user1", "user2") else ("item1", "item2")

  private def latestPath = Paths.get(stateDir, "_LATEST")

  /** Version of the last committed state, -1 before init. */
  def latestVersion: Long =
    if (Files.exists(latestPath))
      new String(Files.readAllBytes(latestPath)).trim.toLong
    else -1L

  private def commit(v: Long): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    graft.StateCommit.writeFile(latestPath.toString, v.toString.getBytes)
    // keep the previous version for post-crash replay reads, gc older
    graft.StateCommit.reap(stateDir, "v(\\d+)".r)(n => n == v || n == v - 1)
  }

  private def frameNames: Seq[String] =
    if (pearson) Seq("pairs", "entity") else Seq("dots", "norms2")

  private def writeState(frames: Seq[DataFrame], v: Long): Unit =
    frameNames.zip(frames).foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$stateDir/v$v/$n.parquet")
    }

  private def readFrames(spark: SparkSession, v: Long): Seq[DataFrame] =
    frameNames.map(n => spark.read.parquet(s"$stateDir/v$v/$n.parquet"))

  private def events(spark: SparkSession, upTo: Long): DataFrame =
    spark.read.parquet(eventsDir)
      .where(col("batch") <= upTo)
      .select(col(c.user), col(c.item), col(c.rating))

  /** The model frame the equivalent full build would produce, from the
    * committed state.
    */
  def model(spark: SparkSession): DataFrame = modelAt(spark, latestVersion)

  private def modelAt(spark: SparkSession, v: Long): DataFrame = {
    val fs = readFrames(spark, v)
    if (pearson)
      IncrementalSimilarity.pearsonFromState(
        IncrementalSimilarity.PearsonState(fs.head, fs(1)), out1, out2)
    else
      IncrementalSimilarity.cosineFromState(
        IncrementalSimilarity.SimState(fs.head, fs(1)), out1, out2)
  }

  private def writeModel(spark: SparkSession, v: Long): Unit =
    graft.StateCommit.writeDir(modelPath)(
      modelAt(spark, v).write.mode("overwrite").parquet(_))

  /** Initialize from a base events snapshot (version 0). */
  def init(base: DataFrame): Unit = {
    val spark = base.sparkSession
    base.select(col(c.user), col(c.item), col(c.rating))
      .write.mode("overwrite").parquet(s"$eventsDir/batch=0")
    val e = events(spark, 0L)
    val st =
      if (pearson) {
        val s = if (RecMethod.isUserBased(method))
          IncrementalSimilarity.userPearsonState(e, c)
        else IncrementalSimilarity.itemPearsonState(e, c)
        Seq(s.pairs, s.entity)
      } else {
        val s = if (RecMethod.isUserBased(method))
          IncrementalSimilarity.userCosineState(e, c)
        else IncrementalSimilarity.itemCosineState(e, c)
        Seq(s.dots, s.norms2)
      }
    writeState(st, 0L)
    writeModel(spark, 0L)
    commit(0L)
  }

  /** Merge one micro-batch (idempotent on `batchId`; foreachBatch ids start
    * at 0, stored as version batchId+1). Returns false on a skipped replay.
    */
  def processBatch(batch: DataFrame, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val v = batchId + 1
    val prev = latestVersion
    require(prev >= 0, "call init(base) before streaming batches")
    if (v <= prev) return false // replayed, already committed
    require(v == prev + 1, s"batch $batchId arrived over state v$prev")
    val delta = batch.select(col(c.user), col(c.item), col(c.rating))
      .localCheckpoint() // micro-batch sources can't be re-read across jobs
    val hist = events(spark, prev)
    val fs = readFrames(spark, prev)
    val merged =
      if (pearson) {
        val st = IncrementalSimilarity.PearsonState(fs.head, fs(1))
        val m = if (RecMethod.isUserBased(method))
          IncrementalSimilarity.updateUserPearsonState(st, hist, delta, c)
        else IncrementalSimilarity.updateItemPearsonState(st, hist, delta, c)
        Seq(m.pairs, m.entity)
      } else {
        val st = IncrementalSimilarity.SimState(fs.head, fs(1))
        val m = if (RecMethod.isUserBased(method))
          IncrementalSimilarity.updateUserCosineState(st, hist, delta, c)
        else IncrementalSimilarity.updateItemCosineState(st, hist, delta, c)
        Seq(m.dots, m.norms2)
      }
    writeState(merged, v)
    delta.write.mode("overwrite").parquet(s"$eventsDir/batch=$v")
    writeModel(spark, v)
    commit(v)
    true
  }

  /** Attach as a streaming sink (the R17 hook shape, delta semantics). */
  def attach(stream: DataFrame, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId); ()
      }
      .start()
}
