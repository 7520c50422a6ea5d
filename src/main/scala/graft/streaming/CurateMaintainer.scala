package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.{Corpus, TextOps}

/** Incremental curation: the streaming face of [[Corpus.curate]]. The two
  * corpus-scan-heavy stages of the pipeline — exact-dedup content hashing
  * and stride-1 window digesting — are maintained INCREMENTALLY per
  * micro-batch (each document is hashed and window-scanned once, ever),
  * and the curated selection DERIVES from the accumulated state plus one
  * cheap batch pass for the map-side stages (gopher rules, span cuts, LM
  * scoring, budget).
  *
  * Per batch:
  *   1. gopher-filter the batch (stateless map) — failed docs never touch
  *      state, matching one-shot stage order (a window duplicated only by
  *      a rejected doc must NOT count);
  *   2. find the batch texts whose content digest is NEW corpus-wide
  *      (against the replay-safe pre-batch state view) and window-index
  *      ONE doc per new digest (the batch's min id): identical text has
  *      identical windows, so indexing one occurrence per distinct text
  *      reproduces exactly the window multiset one-shot curate hashes
  *      over its dedup survivors;
  *   3. persist the (indexed id → digest) sidecar so derivation can
  *      relabel index rows to the CURRENT representative (out-of-order
  *      arrival can crown a lower id after the text was indexed);
  *   4. update the exact-dedup digest state with the whole gopher-passed
  *      batch.
  *
  * Every write is an overwrite-idempotent `b<batchId>/` dir ([[BatchDirs]]
  * contract), so replaying a batch after a crash rewrites identical
  * content — step 2's "new digest" view explicitly excludes the replayed
  * batch's own prior write.
  *
  * The retroactivity of exact-substring dedup (a new doc can make an old
  * doc's window duplicated) and of representative displacement (a lower
  * id can arrive late) both come free from derivation-over-state: spans
  * and reps are re-derived from the bounded index, never from the corpus.
  */
object CurateMaintainer {

  private def mapSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("__h1", LongType),
    StructField("__h2", LongType)))

  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, width: Int, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val audit = TextOps.gopherAudit(batch, idCol, textCol, minStopwords = 1)
    val passed = batch.select(col(idCol), col(textCol))
      .join(audit.where(col("fail_mask") === 0).select(col(idCol)), Seq(idCol))
      .persist()
    try {
      val keyed = passed.select(col(idCol).cast("long").as("id"),
        xxhash64(col(textCol)).as("__h1"),
        xxhash64(length(col(textCol)), col(textCol)).as("__h2"))
      val newReps = keyed.groupBy("__h1", "__h2").agg(min(col("id")).as("id"))
        .join(ExactDedupMaintainer.stateKeysBefore(
            spark, s"$stateDir/exact", batchId),
          Seq("__h1", "__h2"), "left_anti")
        .persist()
      try {
        graft.Exec.stage(s"curate.map b$batchId") {
          BatchDirs.stateParts(
            newReps.select(col("id"), col("__h1"), col("__h2")))
            .write.mode("overwrite").parquet(s"$stateDir/map/b$batchId")
        }
        SubstrIndexMaintainer.processBatch(
          passed.join(newReps.select(col("id").cast("long").as("__nid")),
            col(idCol).cast("long") === col("__nid"), "semi"),
          batchId, idCol, textCol, width, s"$stateDir/substr")
        ExactDedupMaintainer.processBatch(passed, batchId, idCol, textCol,
          s"$stateDir/exact")
      } finally { newReps.unpersist(blocking = false); () }
    } finally { passed.unpersist(blocking = false); () }
  }

  /** Fold all three state families (replay horizon: newest batch stays). */
  def compact(spark: SparkSession, stateDir: String,
      upToOpt: Option[Long] = None): Unit =
    graft.Exec.stage("curate.compact") {
      ExactDedupMaintainer.compact(spark, s"$stateDir/exact", upToOpt)
      SubstrIndexMaintainer.compact(spark, s"$stateDir/substr", upToOpt)
      BatchDirs.compact(spark, s"$stateDir/map", mapSchema, None, upToOpt)
    }

  /** The duplicated-span set of the CURRENT dedup survivors, derived
    * purely from state: index spans (keyed by the first-indexed id per
    * distinct text) relabeled to the current representative through the
    * digest sidecar. (doc_id, span_start, span_len).
    */
  def spans(spark: SparkSession, stateDir: String, width: Int): DataFrame = {
    val m = readMap(spark, stateDir)
    SubstrIndexMaintainer.spans(spark, s"$stateDir/substr", width)
      .join(m.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .join(ExactDedupMaintainer.repsWithKeys(spark, s"$stateDir/exact")
        .select(col("__h1"), col("__h2"), col("doc_id").as("__rep")),
        Seq("__h1", "__h2"))
      .select(col("__rep").as("doc_id"), col("span_start"), col("span_len"))
  }

  /** The curated selection as of the last committed batch — identical to
    * one-shot [[Corpus.curate]] over everything ingested (the s_curate
    * gate and StreamingSpec assert the equality). `docs` is the batch view
    * of the ingested corpus (the cheap stages re-run over it; the
    * hash/window scans do NOT).
    */
  def curated(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, width: Int = 30, pplKeepBelow: Double = 3.43,
      tokenBudget: Long = 6000L): DataFrame =
      // the stage line covers plan assembly + Corpus.curate's EAGER
      // internal materializations (the bulk of derivation cost); the
      // returned frame's final lazy tail executes at the caller's action
      graft.Exec.stage("curate.curated") {
    val spark = docs.sparkSession
    // state dirs are rewritten out-of-band (batch overwrite, replay, LSM
    // fold): drop any cached listing/plan over them so a derivation after
    // a rewrite cannot chase the previous write's part files
    spark.catalog.refreshByPath(stateDir)
    val reps = ExactDedupMaintainer
      .representatives(spark, s"$stateDir/exact")
      .select(col("doc_id").as(idCol))
    Corpus.curate(docs, idCol, textCol, width, pplKeepBelow, tokenBudget,
      repsOpt = Some(reps),
      spansOpt = Some(spans(spark, stateDir, width)
        .withColumnRenamed("doc_id", idCol)))
  }

  /** The TRAINING MANIFEST as of the last committed batch — identical to
    * one-shot [[Corpus.trainManifest]] over everything ingested: the
    * curated selection (with cleaned text) derives from state, then the
    * shared pack + epoch-order tail runs over it verbatim.
    */
  def manifest(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, merges: Seq[(String, String)],
      seqLen: Int = 128, epochs: Int = 2, width: Int = 30,
      pplKeepBelow: Double = 3.43, tokenBudget: Long = 6000L): DataFrame = {
    val spark = docs.sparkSession
    spark.catalog.refreshByPath(stateDir)
    val reps = ExactDedupMaintainer
      .representatives(spark, s"$stateDir/exact")
      .select(col("doc_id").as(idCol))
    val sel = Corpus.curateWithText(docs, idCol, textCol, width,
        pplKeepBelow, tokenBudget,
        repsOpt = Some(reps),
        spansOpt = Some(spans(spark, stateDir, width)
          .withColumnRenamed("doc_id", idCol)))
      .select(col(idCol), col("clean_text").as(textCol))
    Corpus.trainManifestFrom(sel, idCol, textCol, merges, seqLen, epochs)
  }

  /** DRIFT-TRIGGERED re-curation — the reference's R17 threshold-
    * maintenance idea (recathon.c:1089 rebuilds a recommender once
    * inserts cross 0.5× the build-time event total) applied to
    * DISTRIBUTION SHIFT instead of insert volume: every batch maintains
    * the cheap incremental state (curation scans via [[processBatch]],
    * word-frequency counts), but the EXPENSIVE selection re-derivation
    * runs only when the corpus's token distribution has actually moved —
    * KL(current ‖ baseline snapshot) ≥ `klThreshold`, computed from two
    * state reads ([[graft.ops.Corpus.klTotal]]), never a corpus re-scan.
    * When it fires, the selection re-derives from state ([[curated]] over
    * `ingested`, the batch view of everything so far), persists to
    * `stateDir/selection`, and the baseline advances to this batch; when
    * it does not, the persisted selection keeps serving unchanged.
    * Volume-only triggering re-curates on every growth spurt even when
    * the new data is distributionally identical (wasted derivations) and
    * sleeps through a same-size drift (stale selection) — the KL trigger
    * keys on the thing curation actually depends on.
    *
    * Replay-safe: word-freq/state writes are overwrite-idempotent batch
    * dirs, and the baseline marker is written AFTER the selection lands —
    * a crashed firing replays with the old baseline, recomputes the same
    * KL, and rewrites the identical selection. Returns true iff this
    * batch re-derived.
    */
  def processBatchDriftTriggered(batch: DataFrame, ingested: DataFrame,
      batchId: Long, idCol: String, textCol: String, width: Int,
      stateDir: String, klThreshold: Double = 0.05,
      pplKeepBelow: Double = 3.43, tokenBudget: Long = 6000L): Boolean = {
    val spark = batch.sparkSession
    processBatch(batch, batchId, idCol, textCol, width, s"$stateDir/cur")
    BatchDirs.stateParts(graft.ops.Bpe.wordFreq(batch, idCol, textCol))
      .write.mode("overwrite").parquet(s"$stateDir/freq/b$batchId")
    val baseline = selectionBaseline(stateDir)
    // first firing is unconditional (R17's initial build); after that,
    // the KL between the baseline snapshot and now decides
    val fire = baseline < 0L || graft.ops.Corpus.klTotal(
      BpeMaintainer.stateWordFreq(spark, s"$stateDir/freq", baseline),
      BpeMaintainer.stateWordFreq(spark, s"$stateDir/freq", batchId)) >=
      klThreshold
    if (fire)
      deriveSelection(ingested, batchId, idCol, textCol, width, stateDir,
        pplKeepBelow, tokenBudget)
    fire
  }

  /** Re-derive the selection from state and land it as generation
    * `selection/s<batchId>` — the firing body of
    * [[processBatchDriftTriggered]], exposed so an out-of-band executor
    * ([[MaintenancePlanner]]'s `recurate` decision) can run the same
    * re-derivation. Generations are APPEND-ONLY and committed by
    * [[graft.StateCommit.writeDir]] (written aside first), so a
    * reader always finds a complete selection — the previous generation
    * stays in place until the new one's commit lands, and a crash in
    * between leaves only an ignored temp dir (no window where
    * [[currentSelection]] has nothing to serve). The generation id IS
    * the version axis: [[selectionAsOf]] re-reads any historical
    * selection from the current files, the same `batch_id ≤ asOf`
    * discipline the shard/postings/ANN states time-travel on. The
    * baseline marker advances only after the generation is durable
    * (crash replays re-derive the identical selection).
    */
  def deriveSelection(ingested: DataFrame, batchId: Long, idCol: String,
      textCol: String, width: Int, stateDir: String,
      pplKeepBelow: Double = 3.43, tokenBudget: Long = 6000L): Unit = {
    val sel = curated(ingested, idCol, textCol, s"$stateDir/cur", width,
      pplKeepBelow, tokenBudget)
    // a replay rewrites its own generation
    graft.StateCommit.writeDir(s"$stateDir/selection/s$batchId")(
      sel.write.mode("overwrite").parquet(_))
    new java.io.File(stateDir, s"selbase$batchId").mkdirs()
  }

  /** The batch at which the selection was last re-derived (−1 before the
    * first firing). */
  def selectionBaseline(stateDir: String): Long =
    Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("selbase"))
      .flatMap(_.getName.stripPrefix("selbase").toLongOption)
      .sorted.lastOption.getOrElse(-1L)

  /** The selection currently being served — whatever the last firing
    * persisted (callers between firings read a stable artifact, not a
    * recomputation). */
  def currentSelection(spark: SparkSession, stateDir: String): DataFrame =
    selectionAsOf(spark, stateDir, Long.MaxValue)

  /** TIME-TRAVEL read of the curation selection: the generation the
    * state was serving after batch `asOf` committed — the newest
    * `selection/s<b>` with b ≤ asOf, re-read from the CURRENT files
    * (generations are append-only; nothing is snapshotted or replayed).
    * Answers "which documents was I training on at version N?" for the
    * selection itself, completing the version axis the shard, postings,
    * ANN, and near-dup states already carry. Horizons before the first
    * firing throw (there was no selection to serve then) — the explicit
    * error contract, never silently-wrong history.
    */
  def selectionAsOf(spark: SparkSession, stateDir: String,
      asOf: Long): DataFrame = {
    val gens = BatchDirs.listDirs(s"$stateDir/selection", "s")
      .filter(_._1 <= asOf)
    require(gens.nonEmpty,
      Retention.belowFloorMsg(Retention.selectionMarker(stateDir), asOf,
          s"selection horizon in $stateDir")
        .getOrElse(
          s"no selection generation at or below batch $asOf in $stateDir " +
            "(the first firing had not happened at that horizon)"))
    val dir = gens.last._2
    spark.catalog.refreshByPath(dir)
    spark.read.parquet(dir)
  }

  private def readMap(spark: SparkSession, stateDir: String): DataFrame = {
    val dir = s"$stateDir/map"
    val maxC = BatchDirs.listDirs(dir, "c").lastOption
    val dirs = maxC.map(_._2).toSeq ++ BatchDirs.listDirs(dir, "b")
      .filter { case (id, _) => id > maxC.fold(-1L)(_._1) }
      .map(_._2)
    BatchDirs.readUnion(spark, dirs, mapSchema, partitioned = false)
      .getOrElse(BatchDirs.emptyFrame(spark, mapSchema))
  }

  /** Attach to a streaming document source. */
  def attach(docs: DataFrame, idCol: String, textCol: String, width: Int,
      stateDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, width, stateDir)
        ()
      }
      .start()
}
