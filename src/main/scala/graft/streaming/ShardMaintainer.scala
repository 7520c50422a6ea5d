package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Packing

/** Append-stable shard-file maintenance — the streaming face of
  * [[graft.ops.Corpus.writeShards]]: packed payload rows (seq_id, ids_str,
  * n_tok) arrive in micro-batches and EXTEND the on-disk hive-partitioned
  * shard layout (`epoch=…/shard_id=…`) instead of rewriting it.
  *
  * The order law is [[Packing.epochOrderBatchMajor]] (batch-major, md5
  * draw within batch): an ingested sequence's (epoch, ord) never changes
  * when later data arrives, so a batch touches exactly
  *   - the boundary shard (the last, possibly partial, pre-batch shard),
  *     whose surviving rows are merged with the delta's head, and
  *   - the strictly-new shards the delta fills —
  * ≤ ⌈nΔ/shardSize⌉ + 1 partitions per epoch, cost ∝ delta. The global
  * md5 shuffle ([[Packing.epochOrder]], used by the one-shot
  * [[graft.ops.Corpus.trainShards]]) would reshuffle every ord on any
  * growth and force a full-corpus rewrite per batch; batch-major trades
  * corpus-wide epoch mixing for that append-stability (documented on
  * [[Packing.epochOrderBatchMajor]]).
  *
  * Replay safety (the [[BatchDirs]] `b<batchId>/` discipline, rendered
  * here as one sidecar dir per batch plus a `batch_id` column in the data
  * files): the base offset counts only batches STRICTLY before the
  * current id, and the boundary merge drops rows the crashed attempt
  * itself wrote — replaying a batch rewrites byte-identical content.
  * Partition updates use dynamic partition overwrite, the same move a
  * transactional table format (or a rename-based commit) supplies on a
  * real cluster.
  */
object ShardMaintainer {

  /** The shard rows; [[compactTombstones]] swaps it whole, so every
    * access goes through [[graft.StateCommit.live]]. */
  private def dataDir(dir: String) = graft.StateCommit.live(s"$dir/data")
  private def metaDir(dir: String) = s"$dir/meta"
  private def seqsDir(dir: String) = s"$dir/seqs"

  /** Items ingested by batches strictly before `batchId` (replay-safe:
    * a crashed attempt's own sidecar is excluded by the strict bound). */
  def countBefore(spark: SparkSession, dir: String, batchId: Long): Long = {
    val metas = BatchDirs.listDirs(metaDir(dir), "b")
      .filter(_._1 < batchId).map(_._2)
    if (metas.isEmpty) 0L
    else spark.read.parquet(metas: _*)
      .agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
  }

  /** Ingest one micro-batch of payload rows (seq_id, ids_str, n_tok).
    * `epochs` and `shardSize` are layout constants of the directory and
    * must be identical across every batch fed to it.
    */
  def processBatch(payload: DataFrame, batchId: Long, epochs: Int,
      shardSize: Int, dir: String): Unit = {
    require(shardSize >= 1, "shardSize must be >= 1")
    val spark = payload.sparkSession
    // eager-materialized: the delta feeds both the order build and the
    // shard join (the CurateMaintainer localCheckpoint rule)
    val p = graft.Exec.materializeLocal(
      payload.select(col("seq_id"), col("ids_str"), col("n_tok")))
    val nDelta = p.count()
    val base = countBefore(spark, dir, batchId)
    if (nDelta == 0L) {
      writeSeqs(p, dir, batchId)
      writeMeta(spark, dir, batchId, 0L)
      return
    }
    val fresh = Packing.epochOrderAppended(p.select(col("seq_id")),
        "seq_id", epochs, base)
      .withColumn("shard_id",
        floor(col("ord") / shardSize).cast("long"))
      .join(p, Seq("seq_id"))
      .select(col("epoch"), col("shard_id"), col("seq_id"), col("ord"),
        col("n_tok"), col("ids_str"), lit(batchId).as("batch_id"))
    val boundary = base / shardSize
    val withPrev =
      if (base % shardSize == 0L) fresh
      else fresh.unionByName(
        spark.read.parquet(dataDir(dir))
          .where(col("shard_id") === boundary &&
            col("batch_id") < batchId)
          .select(col("epoch").cast("int").as("epoch"),
            col("shard_id").cast("long").as("shard_id"),
            col("seq_id").cast("long").as("seq_id"),
            col("ord").cast("long").as("ord"),
            col("n_tok").cast("long").as("n_tok"), col("ids_str"),
            col("batch_id").cast("long").as("batch_id")))
    // eager checkpoint: the write replaces partitions its own lineage
    // read (the boundary shard) — rows must be off those files first
    val rows = graft.Exec.materializeLocal(withPrev)
    rows.repartition(
        math.max(1, spark.sparkContext.defaultParallelism / 2),
        col("epoch"), col("shard_id"))
      .sortWithinPartitions(col("epoch"), col("shard_id"), col("ord"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch", "shard_id").parquet(dataDir(dir))
    writeSeqs(p, dir, batchId)
    writeMeta(spark, dir, batchId, nDelta)
  }

  /** The batch's appended seq ids as a `seqs/b<batchId>` sidecar — the
    * seq-id-sized append log [[liveSeqIdsBefore]] and [[deadFraction]]
    * derive last-append horizons from, so neither ever scans the data
    * dir (whose size is the corpus, not the membership history). One row
    * per appended seq per batch; overwrite-idempotent like every other
    * sidecar. [[compactTombstones]] leaves it untouched: append history
    * is what makes a physically-dropped seq's liveness derivable without
    * its tombstone.
    */
  private def writeSeqs(p: DataFrame, dir: String, batchId: Long): Unit =
    p.select(col("seq_id").cast("long").as("seq_id"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${seqsDir(dir)}/b$batchId")

  /** RECONCILE the layout against the CURRENT full selection — the
    * retroactivity policy for curation-fed shards: incremental curation
    * can retroactively DE-select an already-sharded sequence (a late
    * duplicate displaces it, a budget re-ranking drops it). Policy:
    *   - sequences in `selection` not currently LIVE are appended via
    *     [[processBatch]] (their ords extend the batch-major order) —
    *     this includes RESURRECTIONS: a seq tombstoned by an earlier
    *     reconcile and later re-selected re-enters under a NEW ord with
    *     this batch's id, which out-ranks its old tombstone (tombstones
    *     are batch-versioned: a tombstone kills only rows APPENDED
    *     before it);
    *   - live sequences no longer selected are TOMBSTONED
    *     (`tomb/b<batchId>` sidecars, a batch-versioned read-time
    *     anti-join in [[readShardsLive]]) — never a shard rewrite, so
    *     write cost stays ∝ delta and surviving ords never move (holes
    *     remain where tombstoned ords were; the data loader skips them).
    * A tombstone-heavy layout can be compacted by a full rewrite when the
    * dead fraction warrants it (the LSM trade; not needed while removal
    * rates are curation-typical). Replay-safe like [[processBatch]]'s
    * boundary merge: live-ness is computed ONLY from rows and tombstones
    * committed strictly before this batch, so a crashed reconcile — even
    * one whose data/tombstone writes landed — recomputes the identical
    * delta and rewrites identical content.
    */
  def reconcile(selection: DataFrame, batchId: Long, epochs: Int,
      shardSize: Int, dir: String): Unit = {
    val spark = selection.sparkSession
    val p = graft.Exec.materializeLocal(
      selection.select(col("seq_id"), col("ids_str"), col("n_tok")))
    val live = liveSeqIdsBefore(spark, dir, batchId)
    val fresh = p.join(live, Seq("seq_id"), "left_anti")
    val removed = live.join(p.select("seq_id"), Seq("seq_id"), "left_anti")
    graft.Exec.materializeLocal(removed).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/tomb/b$batchId")
    processBatch(fresh, batchId, epochs, shardSize, dir)
  }

  /** Per-seq LAST APPEND batch over batches committed strictly before
    * `batchId`, derived from the `seqs/b*` append sidecars — a
    * seq-id-sized read (one row per append event), never a data-dir
    * scan, so liveness joins and [[deadFraction]] stay metadata-cost on
    * a corpus-sized layout. Empty before the first batch.
    */
  private def ingestedSeqBatchesBefore(spark: SparkSession, dir: String,
      batchId: Long): DataFrame = {
    val dirs = BatchDirs.listDirs(seqsDir(dir), "b").filter(_._1 < batchId)
    // MIGRATION fallback: batches written before the seqs/ append log
    // existed committed meta/ and data but no seqs sidecar — treating
    // them as never-ingested would make every pre-migration seq read as
    // dead-or-new (a reconcile would silently re-append duplicates and
    // deadFraction would report 0 forever). Batches with meta but no
    // seqs sidecar get their append events from the data dir instead
    // (one pruned scan of exactly those batch ids); post-migration
    // batches keep the sidecar-only path.
    val seqIds = dirs.map(_._1).toSet
    val missing = BatchDirs.listDirs(metaDir(dir), "b").map(_._1)
      .filter(id => id < batchId && !seqIds.contains(id))
    val legacy =
      if (missing.isEmpty || !new java.io.File(dataDir(dir)).exists()) None
      else Some(spark.read.parquet(dataDir(dir))
        .where(col("batch_id").isin(missing: _*))
        .select(col("seq_id").cast("long").as("seq_id"),
          col("batch_id").cast("long").as("last_append")))
    val fromSidecars =
      if (dirs.isEmpty) None
      else Some(dirs.map { case (id, p) =>
        spark.read.parquet(p)
          .select(col("seq_id").cast("long").as("seq_id"),
            lit(id).as("last_append"))
      }.reduce(_ unionByName _))
    (fromSidecars.toSeq ++ legacy.toSeq).reduceOption(_ unionByName _)
      .map(_.groupBy("seq_id").agg(max(col("last_append")).as("last_append")))
      .getOrElse(spark.range(0).select(col("id").as("seq_id"),
        col("id").as("last_append")))
  }

  /** Seq ids LIVE as of state committed strictly before `batchId`: last
    * append out-ranks the last tombstone (or no tombstone at all). */
  private def liveSeqIdsBefore(spark: SparkSession, dir: String,
      batchId: Long): DataFrame =
    ingestedSeqBatchesBefore(spark, dir, batchId)
      .join(tombstoneBatchesBefore(spark, dir, batchId)
        .groupBy("seq_id").agg(max(col("tomb_batch")).as("__mt")),
        Seq("seq_id"), "left_outer")
      .where(col("__mt").isNull || col("last_append") > col("__mt"))
      .select("seq_id")

  /** Tombstones written by batches strictly before `batchId`, each tagged
    * with the batch that wrote it — the version axis that lets a later
    * re-append out-rank an older tombstone. Sidecar count ∝ reconciles
    * (bounded; [[compactTombstones]] retires them).
    */
  private def tombstoneBatchesBefore(spark: SparkSession, dir: String,
      batchId: Long): DataFrame = {
    val dirs = BatchDirs.listDirs(s"$dir/tomb", "b")
      .filter(_._1 < batchId)
    if (dirs.isEmpty)
      spark.range(0).select(col("id").as("seq_id"),
        col("id").as("tomb_batch"))
    else dirs.map { case (id, p) =>
      spark.read.parquet(p)
        .select(col("seq_id").cast("long").as("seq_id"),
          lit(id).as("tomb_batch"))
    }.reduce(_ unionByName _)
  }

  /** All tombstoned seq ids (seqs whose latest tombstone out-ranks any
    * later re-append are dead; see [[readShardsLive]]). */
  def tombstones(spark: SparkSession, dir: String): DataFrame =
    tombstoneBatchesBefore(spark, dir, Long.MaxValue).select("seq_id")
      .distinct()

  /** [[readShards]] minus dead rows — what the data loader consumes after
    * reconciles (surviving ords unchanged, holes where tombstoned ords
    * sat). Batch-versioned: a row is dead iff SOME tombstone is newer
    * than the row's appending batch, so a de-selected-then-re-selected
    * seq serves its resurrected row while its pre-tombstone row stays
    * dead.
    */
  def readShardsLive(spark: SparkSession, dir: String): DataFrame =
    dropDeadRows(readShardsWithBatch(spark, dir),
      tombstoneBatchesBefore(spark, dir, Long.MaxValue))

  /** The batch-versioned kill rule shared by live, as-of, and compaction
    * reads: keep a row unless the seq's newest (visible) tombstone
    * out-ranks the row's appending batch. */
  private def dropDeadRows(rows: DataFrame, tombs: DataFrame): DataFrame =
    rows.join(tombs.groupBy("seq_id").agg(max(col("tomb_batch")).as("__mt")),
        Seq("seq_id"), "left_outer")
      .where(col("__mt").isNull || col("batch_id") > col("__mt"))
      .select(col("epoch"), col("shard_id"), col("seq_id"), col("ord"),
        col("n_tok"), col("ids_str"))

  private def readShardsWithBatch(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(dataDir(dir))
      .select(col("epoch").cast("int").as("epoch"),
        col("shard_id").cast("long").as("shard_id"),
        col("seq_id").cast("long").as("seq_id"),
        col("ord").cast("long").as("ord"),
        col("n_tok").cast("long").as("n_tok"), col("ids_str"),
        col("batch_id").cast("long").as("batch_id"))

  /** COMPACT a tombstone-heavy layout: rewrite the data dir with every
    * row tombstoned by batches ≤ `upTo` physically dropped, then retire
    * those tombstone sidecars — the LSM rewrite the reconcile policy
    * defers until the dead fraction warrants it ([[deadFraction]] is the
    * trigger measurement). The live view is BIT-IDENTICAL before and
    * after (surviving rows rewrite verbatim, batch_id included, ords
    * never move), and as-of reads at horizons ≥ upTo still answer
    * exactly. HISTORY SEAL, documented: horizons < upTo can no longer
    * resurrect rows whose tombstones were folded — compaction trades
    * time-travel depth for scan width, the same trade a table format's
    * VACUUM makes; compact only below your oldest pinned corpus version.
    * Crash-safe: the rewrite commits through
    * [[graft.StateCommit.writeDir]]; sidecars are deleted only after the
    * swap lands.
    */
  def compactTombstones(spark: SparkSession, dir: String,
      upTo: Long): Unit = {
    val d = dataDir(dir)
    if (!new java.io.File(d).exists()) return
    val folded = tombstoneBatchesBefore(spark, dir, upTo + 1L)
    graft.StateCommit.writeDir(d)(spark.read.parquet(d)
      .join(folded.groupBy("seq_id").agg(max(col("tomb_batch")).as("__mt")),
        Seq("seq_id"), "left_outer")
      .where(col("__mt").isNull || col("batch_id") > col("__mt"))
      .drop("__mt")
      .repartition(math.max(1, spark.sparkContext.defaultParallelism / 2),
        col("epoch"), col("shard_id"))
      .sortWithinPartitions(col("epoch"), col("shard_id"), col("ord"))
      .write.mode("overwrite").partitionBy("epoch", "shard_id").parquet(_))
    // SEAL the history below the folded horizon BEFORE retiring the
    // sidecars: once the marker exists, readShardsAsOf refuses horizons
    // the folded tombstones can no longer reproduce — an explicit error,
    // never silently wrong history. (Marker first, deletion second: a
    // crash in between over-seals, which is safe.)
    new java.io.File(dir, s"sealed$upTo").mkdirs()
    BatchDirs.listDirs(s"$dir/tomb", "b").filter(_._1 <= upTo)
      .foreach { case (_, p) => graft.Exec.deletePath(p) }
  }

  /** [[compactTombstones]] with the seal contract ENFORCED at the acting
    * site, not just documented: the fold horizon is LOWERED to the
    * oldest `shards` pin any supplied manifest holds on this layout
    * (a pin at h needs every tombstone ≤ h alive to reproduce that
    * corpus version, so the fold may seal at most h), and a missing
    * manifest dir fails the call — the [[Retention]] fail-safe rule
    * applied to the compaction/seal lifecycle. "Compact only below your
    * oldest pinned version" stops being an operator's promise and
    * becomes the operation's own behavior; [[SnapshotManifest.verify]]
    * stays as the after-the-fact audit for folds that bypassed this.
    * Skips (returning −1) when nothing at or below the effective
    * horizon is foldable — a fully-pinned layout is never rewritten.
    * Returns the horizon actually sealed otherwise.
    */
  def compactTombstonesPinAware(spark: SparkSession, dir: String,
      upTo: Long, manifestDirs: Seq[String]): Long = {
    val eff = sealablePinAware(spark, dir, upTo, manifestDirs)
    if (eff >= 0L) compactTombstones(spark, dir, eff)
    eff
  }

  /** DRY RUN of [[compactTombstonesPinAware]]'s decision: the horizon an
    * acting call with the same arguments would seal at, or −1 when it
    * would skip (fully pinned, nothing foldable, or already sealed
    * there) — plan and action agree by construction, which is what lets
    * the nightly discovery sweep ([[Retention.sweep]]) report the shard
    * family's droppable work without touching the data dir. Sidecar- and
    * manifest-sized, never a data scan. */
  def sealablePinAware(spark: SparkSession, dir: String,
      upTo: Long, manifestDirs: Seq[String]): Long = {
    val canon = new java.io.File(dir).getCanonicalPath
    val pinned = manifestDirs
      .flatMap(m => SnapshotManifest.pins(spark, m))
      .filter(p => p.kind == "shards" &&
        new java.io.File(p.dir).getCanonicalPath == canon)
      .map(_.asOf)
    val eff = (upTo +: pinned).min
    // foldability is a ROW check, not a dir check: reconcile writes a
    // (possibly empty) tombstone sidecar every batch, and a fold with
    // nothing to drop would still rewrite the whole layout — at corpus
    // scale, a pointless data-dir rewrite. The probe is sidecar-sized.
    val foldable = eff >= 0L &&
      tombstoneBatchesBefore(spark, dir, eff + 1L).limit(1).count() > 0L
    if (!foldable || eff <= sealedHorizon(dir)) -1L else eff
  }

  /** The layout's sealed time-travel floor: the highest compaction
    * horizon, −1 when never compacted. As-of reads strictly below this
    * fail explicitly ([[readShardsAsOf]]). */
  def sealedHorizon(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sealed"))
      .flatMap(_.getName.stripPrefix("sealed").toLongOption)
      .sorted.lastOption.getOrElse(-1L)

  /** Dead fraction of the layout — tombstoned seq ids over ingested seq
    * ids, both derived from sidecars (`seqs/b*` append log, `tomb/b*`
    * tombstones): the measurement is membership-history-sized, never a
    * data scan, so a fleet-wide planner sweep ([[MaintenancePlanner]])
    * can threshold it on a schedule at corpus scale. The measured
    * quantity decides when [[compactTombstones]] pays for itself.
    */
  def deadFraction(spark: SparkSession, dir: String): Double = {
    val ingested = ingestedSeqBatchesBefore(spark, dir, Long.MaxValue)
    val n = ingested.count()
    if (n == 0L) 0.0
    else (n - ingested
      .join(tombstoneBatchesBefore(spark, dir, Long.MaxValue)
        .groupBy("seq_id").agg(max(col("tomb_batch")).as("__mt")),
        Seq("seq_id"), "left_outer")
      .where(col("__mt").isNull || col("last_append") > col("__mt"))
      .count()).toDouble / n
  }

  /** TIME-TRAVEL read: the layout exactly as a data loader saw it after
    * batch `asOf` committed — data rows written by batches ≤ asOf minus
    * tombstones written by batches ≤ asOf. Every historical corpus
    * version stays addressable from the SAME files (`batch_id` is the
    * version axis; no snapshot copies), which is the data-versioning
    * contract a training run pins its exact corpus with: re-reading at
    * the run's recorded horizon reproduces its input bit-for-bit, however
    * much the layout has grown or reconciled since. Batch-major ords make
    * this exact — later batches only APPEND ranks, so the as-of slice IS
    * the state that existed then. Cost: the batch_id predicate prunes
    * row groups; the tombstone anti-join is sized by removals, not the
    * corpus.
    *
    * ERROR CONTRACT: horizons strictly below the sealed compaction floor
    * ([[sealedHorizon]]) throw — [[compactTombstones]] physically dropped
    * rows and retired the tombstones those horizons need, so the request
    * is unanswerable and failing loudly beats silently-wrong history.
    */
  def readShardsAsOf(spark: SparkSession, dir: String,
      asOf: Long): DataFrame = {
    val floor = sealedHorizon(dir)
    if (asOf < floor)
      throw new IllegalArgumentException(
        s"as-of horizon $asOf is below the sealed compaction floor " +
          s"$floor of $dir: tombstone sidecars <= $floor were folded and " +
          "retired, so this corpus version is no longer reproducible " +
          "(compact only below your oldest pinned version)")
    dropDeadRows(
      readShardsWithBatch(spark, dir).where(col("batch_id") <= asOf),
      tombstoneBatchesBefore(spark, dir, asOf + 1L))
  }

  /** Re-read the maintained layout in [[graft.ops.Corpus.readShards]]'
    * shape (the `batch_id` bookkeeping column stays internal).
    */
  def readShards(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dataDir(dir))
      .select(col("epoch").cast("int").as("epoch"),
        col("shard_id").cast("long").as("shard_id"),
        col("seq_id").cast("long").as("seq_id"),
        col("ord").cast("long").as("ord"),
        col("n_tok").cast("long").as("n_tok"), col("ids_str"))

  private def writeMeta(spark: SparkSession, dir: String, batchId: Long,
      n: Long): Unit = {
    import spark.implicits._
    Seq((batchId, n)).toDF("batch_id", "n")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${metaDir(dir)}/b$batchId")
  }
}
