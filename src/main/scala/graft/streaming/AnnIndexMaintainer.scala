package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Ann

/** Streaming ANN index maintenance — the similarity-search face of the R17
  * maintenance idea (recathon.c:951-1203) for a continuously-ingested
  * embedding corpus: each micro-batch of vectors is assigned its IVF cell
  * ONCE (codegen'd nearest-centroid loop against the fixed, pre-trained
  * coarse quantizer) and appended to a persistent inverted file laid out as
  * `cell=<id>/` parquet partitions, so a query probes `nprobe` cells of the
  * whole accumulated corpus with static partition pruning — per-batch write
  * cost tracks the batch, per-query read cost tracks nprobe/nlist of the
  * corpus, and nothing is ever re-assigned or re-indexed.
  *
  * Centroids are deliberately FROZEN (trained once, e.g. on the bootstrap
  * corpus via [[graft.ops.Ann.ivfTrain]]): a coarse quantizer's recall comes
  * from nprobe, not centroid freshness, and FAISS-style practice is to
  * re-train offline and rebuild rather than drift centroids under a live
  * index (a moved centroid silently invalidates every already-assigned
  * row's cell).
  *
  * Durability layout: same contract as [[NearDupMaintainer]] — one
  * overwrite-idempotent `b<batchId>/` dir per batch (each internally
  * partitioned by cell), so a crash-replay rewrites its dir byte-identically
  * and can neither double-append nor observe its own partial output.
  */
object AnnIndexMaintainer {

  private val indexSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("v", ArrayType(DoubleType), nullable = true),
    StructField("batch_id", LongType),
    StructField("cell", IntegerType)))

  /** One micro-batch: assign cells, persist as a cell-partitioned batch dir.
    * Exposed for direct (non-streaming) batch ingestion too. Each row
    * carries its ingest batch id — the version axis [[searchAsOf]]
    * time-travels on: the inverted file is append-only, so every
    * historical index version stays addressable from the CURRENT files
    * even after [[compact]] folds batch dirs (the fold preserves
    * `batch_id`).
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cents: Array[Array[Double]], indexDir: String,
      roundScale: Int = -1): Unit = {
    batch.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("cell", graft.functions.VectorFns.nearestCellNative(
        col("v"), cents, roundScale))
      // cluster by cell before the partitioned write: without this every
      // task emits a file per distinct cell it holds (≈ tasks × nlist tiny
      // files per batch — quadratic-feeling FS overhead once nlist follows
      // the √N law); clustered — with an EXPLICIT partition count, or AQE
      // coalesces the write to 1-2 tasks that create every cell dir's
      // file sequentially ([[BatchDirs.clusterForWrite]]) — the batch
      // writes ≈ one file per cell
      .transform(BatchDirs.clusterForWrite(_, "cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/b$batchId")
  }

  /** The accumulated inverted file: the highest compacted dir (covering all
    * batches ≤ its id) plus every batch dir above it, each read with its own
    * basePath so the `cell=` directory column survives — a `cell IN (...)`
    * filter prunes whole partition directories in every branch of the union.
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val maxC = BatchDirs.listDirs(indexDir, "c").lastOption
    val dirs = maxC.map(_._2).toSeq ++ BatchDirs.listDirs(indexDir, "b")
      .filter(_._1 > maxC.fold(-1L)(_._1)).map(_._2) ++
      // growth dirs are never folded by [[compact]] (their mover copies
      // exist nowhere else), so they join the union regardless of the
      // compaction horizon
      growthDirs(indexDir).map(_._2 + "/data")
    BatchDirs.readUnion(spark, dirs, indexSchema, partitioned = true)
      .getOrElse(BatchDirs.emptyFrame(spark, indexSchema))
  }

  /** The inverted file as it stood after batch `asOf` committed: rows
    * stamped ≤ asOf, with the pre-growth copies of rows moved by
    * quantizer growths at or below the horizon hidden — THE shared
    * horizon-aware read every as-of consumer must go through
    * ([[searchAsOf]]'s scan, [[SnapshotManifest]]'s `ann` leg, a
    * [[retrain]] input at MaxValue). Skipping the move exclusion
    * returns BOTH copies of every moved row (duplicate ids).
    */
  def readIndexAsOf(spark: SparkSession, indexDir: String,
      asOf: Long): DataFrame =
    excludeMoved(spark, indexDir,
      readIndex(spark, indexDir).where(col("batch_id") <= asOf), asOf)

  /** Fold committed batch dirs into one consolidated, still-cell-partitioned
    * `c<upTo>/` dir (default upTo: max batch − 1, keeping the newest batch
    * replayable) — see [[BatchDirs.compact]] for the durability contract.
    */
  def compact(spark: SparkSession, indexDir: String,
      upToOpt: Option[Long] = None): Unit =
    BatchDirs.compact(spark, indexDir, indexSchema, Some("cell"), upToOpt)

  /** Probe the persistent index: top-k cosine neighbors per query vector.
    * Probe cells are computed DRIVER-SIDE ([[Ann.nearestCellsLocal]] — the
    * same distance form the distributed probe uses) so the scan carries a
    * static `cell IN (...)` predicate that prunes partition directories
    * before any file is opened; scoring and ranking are
    * [[Ann.ivfSearchAssigned]], identical to the one-shot IVF path.
    */
  def search(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], queryVecs: Seq[(Long, Array[Double])],
      k: Int, nprobe: Int = 4,
      rankOnRoundedTo: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val probeCells = queryVecs
      .flatMap(q => Ann.nearestCellsLocal(q._2, cents, nprobe)).distinct
    val idx = excludeMoved(spark, indexDir,
      readIndex(spark, indexDir).where(col("cell").isin(probeCells: _*)),
      Long.MaxValue)
    val qdf = queryVecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    Ann.ivfSearchAssigned(idx, qdf, "id", "v", k, nprobe, cents,
      rankOnRoundedTo)
  }

  /** TIME-TRAVEL probe: the top-k exactly as the index answered after
    * batch `asOf` committed — the scan sees only rows with
    * `batch_id <= asOf` (read from the CURRENT files; exact through
    * compaction because the inverted file is append-only, and through
    * quantizer GROWTH because move exclusions are batch-stamped too).
    * Partition pruning is unchanged: the `cell IN (...)` filter lands
    * before the version predicate.
    */
  def searchAsOf(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], queryVecs: Seq[(Long, Array[Double])],
      k: Int, asOf: Long, nprobe: Int = 4,
      rankOnRoundedTo: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val probeCells = queryVecs
      .flatMap(q => Ann.nearestCellsLocal(q._2, cents, nprobe)).distinct
    val idx = excludeMoved(spark, indexDir,
      readIndex(spark, indexDir)
        .where(col("cell").isin(probeCells: _*) && col("batch_id") <= asOf),
      asOf)
    val qdf = queryVecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    Ann.ivfSearchAssigned(idx, qdf, "id", "v", k, nprobe, cents,
      rankOnRoundedTo)
  }

  // ---- drift-monitored maintenance: distortion metrics + offline retrain --

  private val metricsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("n", LongType),
    StructField("sum_d2", DoubleType)))

  private val reconSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("n", LongType),
    StructField("sum_r2", DoubleType)))

  /** [[processBatch]] plus a per-batch QUANTIZATION-DISTORTION record — the
    * drift signal for the frozen-quantizer policy. The batch's rows (read
    * back from the dir the batch just wrote — the metric measures what the
    * index actually holds) join the broadcast centroid frame on their
    * assigned cell and accumulate Σ‖v − c(cell)‖² = Σ(v·v − 2·v·c + c·c)
    * (three codegen dots, one map-side agg) into
    * `indexDir/m/b<batchId>` as (batch_id, n, sum_d2). The sufficient
    * statistic is mergeable, so the drift decision ([[driftRatio]]) is two
    * sums over a per-batch-sized sidecar — never a corpus re-scan — and
    * the write is overwrite-idempotent (replay recomputes the identical
    * row from the identically-rewritten batch dir).
    */
  def processBatchMonitored(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cents: Array[Array[Double]], indexDir: String,
      roundScale: Int = -1): Unit = {
    processBatch(batch, batchId, idCol, vecCol, cents, indexDir, roundScale)
    val spark = batch.sparkSession
    val written = spark.read.schema(indexSchema)
      .option("basePath", s"$indexDir/b$batchId")
      .parquet(s"$indexDir/b$batchId")
    writeMetrics(spark, written, batchId, cents, indexDir)
  }

  /** [[processBatchPq]] plus the per-batch distortion record — the drift
    * signal works identically for the compressed index (the metric is
    * coarse-quantizer distortion; codes ride along untouched), so
    * [[driftRatio]]/[[postFraction]]/[[shouldRetrain]] read PQ states
    * with no changes and the maintenance loop closes over them too
    * ([[retrainPq]] / [[growPq]] as the remedies). */
  def processBatchPqMonitored(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, cents: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], indexDir: String,
      roundScale: Int = -1): Unit = {
    processBatchPq(batch, batchId, idCol, vecCol, cents, codebooks,
      indexDir, roundScale)
    val spark = batch.sparkSession
    val written = spark.read.schema(indexPqSchema)
      .option("basePath", s"$indexDir/b$batchId")
      .parquet(s"$indexDir/b$batchId")
    writeMetrics(spark, written, batchId, cents, indexDir)
    writeReconMetrics(spark, written, batchId, codebooks, indexDir)
  }

  /** Per-batch RECONSTRUCTION-ERROR record — the CODEBOOK drift signal,
    * orthogonal to the coarse-quantizer distortion the `m/` sidecar
    * tracks: Σ‖v − decode(codes)‖² = Σ(v·v − 2·v·x̂ + |x̂|²), with x̂
    * re-assembled from the frozen codebooks (|x̂|² is the stored `rn2`,
    * exact because subspaces are disjoint coordinates). A distribution
    * that moves into regions the codebooks never saw raises this even
    * when new cells could cover it — the signal that growing the
    * quantizer would spread bad codes, and only a codebook retrain
    * ([[retrainPq]]) restores ADC fidelity. `mr/b<batch>` rows are
    * (batch_id, n, sum_r2): mergeable sufficient statistics, so
    * [[codebookDriftRatio]] is two sums over a batch-count-sized sidecar.
    */
  private def writeReconMetrics(spark: SparkSession, rows: DataFrame,
      batchId: Long, codebooks: Array[Array[Array[Double]]],
      indexDir: String): Unit = {
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val xhat = flatten(zip_with(col("codes"),
      sequence(lit(0), lit(codebooks.length - 1)),
      (c, j) => element_at(element_at(cbLit, j + 1), c + 1)))
    rows.select((graft.functions.VectorFns.dotNative(col("v"), col("v"))
        - lit(2.0) * graft.functions.VectorFns.dotNative(col("v"), xhat)
        + col("rn2")).as("r2"))
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("r2")), lit(0.0)).as("sum_r2"))
      .select(lit(batchId).as("batch_id"), col("n"), col("sum_r2"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/mr/b$batchId")
  }

  /** Mean post-baseline reconstruction error over the training-era mean —
    * [[driftRatio]]'s shape applied to the `mr/` sidecar. None before a
    * baseline, before any post rows, or on states ingested without
    * [[processBatchPqMonitored]]. Growth never rewrites codes, so there
    * is no growth-subsumption here; [[retrainPq]] restarts the sidecar in
    * its new generation dir with the fresh-codes whole-index row.
    *
    * The era split is [[codeBaseBatch]], NOT [[trainedBatch]]: a
    * committed growth advances the QUANTIZER baseline (its `g<G>/m` row
    * re-measures distortion under the grown centroid set) but never
    * touches a code — splitting the recon sidecar at the
    * growth-advanced horizon would fold every pre-growth recon row,
    * drifted tail included, into the BASELINE side, inflating the
    * denominator and biasing [[graft.streaming.MaintenancePlanner]]'s
    * pqRemedy away from the forced retrainPq exactly in the state that
    * already drifted once. Codes are defined by the original train or
    * the last [[retrainPq]] — the explicit `trainbase` markers — so the
    * recon split stays there through any number of growths. */
  def codebookDriftRatio(spark: SparkSession,
      indexDir: String): Option[Double] = {
    val base = codeBaseBatch(indexDir)
    if (base < 0L) return None
    val dirs = BatchDirs.listDirs(s"$indexDir/mr", "b").map(_._2)
    val m = BatchDirs.readUnion(spark, dirs, reconSchema,
      partitioned = false).getOrElse(return None)
    val r = m.agg(
      sum(when(col("batch_id") <= base, col("sum_r2"))).as("bd2"),
      sum(when(col("batch_id") <= base, col("n"))).as("bn"),
      sum(when(col("batch_id") > base, col("sum_r2"))).as("pd2"),
      sum(when(col("batch_id") > base, col("n"))).as("pn")).head()
    if (r.isNullAt(0) || r.isNullAt(2)) return None
    val (bd2, bn, pd2, pn) =
      (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    if (bn == 0L || pn == 0L || bd2 <= 0.0) None
    else Some((pd2 / pn) / (bd2 / bn))
  }

  private def writeMetrics(spark: SparkSession, rows: DataFrame,
      batchId: Long, cents: Array[Array[Double]], indexDir: String): Unit = {
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "c")
    rows.join(broadcast(centsDf), Seq("cell"))
      .select((graft.functions.VectorFns.dotNative(col("v"), col("v"))
        - lit(2.0) * graft.functions.VectorFns.dotNative(col("v"), col("c"))
        + graft.functions.VectorFns.dotNative(col("c"), col("c"))).as("d2"))
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("d2")), lit(0.0)).as("sum_d2"))
      .select(lit(batchId).as("batch_id"), col("n"), col("sum_d2"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/m/b$batchId")
  }

  /** Record that the active quantizer was trained with batch `batchId` as
    * the last batch of its training-era data — the baseline horizon
    * [[driftRatio]] splits the metrics at. Marker-dir rendering (the
    * [[CurateMaintainer]] `selbase` pattern): crash-safe because it is
    * written AFTER the quantizer artifact exists.
    */
  def markTrained(indexDir: String, batchId: Long): Unit = {
    new java.io.File(indexDir, s"trainbase$batchId").mkdirs()
    ()
  }

  /** The baseline horizon (−1 when never marked). A committed growth
    * ([[grow]]'s atomically-renamed `g<batch>/` dir) IS a baseline
    * advance — the growth dir doubles as the marker, so the re-baseline
    * and the growth data become visible in the same rename.
    */
  def trainedBatch(indexDir: String): Long =
    (trainbaseMarkers(indexDir) ++ growthDirs(indexDir).map(_._1))
      .sorted.lastOption.getOrElse(-1L)

  private def trainbaseMarkers(indexDir: String): Seq[Long] =
    Option(new java.io.File(indexDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("trainbase"))
      .flatMap(_.getName.stripPrefix("trainbase").toLongOption).toSeq

  /** The CODE-defining baseline: the last horizon at which the PQ codes
    * themselves were (re)trained — an explicit [[markTrained]] marker
    * from the bootstrap train or a [[retrainPq]] — EXCLUDING growth
    * advances, which change the quantizer but leave every code intact.
    * −1 when never marked. The recon-sidecar split
    * ([[codebookDriftRatio]]) uses this; the distortion-sidecar split
    * ([[driftRatio]]) uses the growth-aware [[trainedBatch]]. */
  def codeBaseBatch(indexDir: String): Long =
    trainbaseMarkers(indexDir).sorted.lastOption.getOrElse(-1L)

  /** Per-batch distortion rows that still COUNT: a growth's `g<G>/m`
    * whole-index row (measured under the grown quantizer) SUBSUMES every
    * metric row at or below G — the pre-growth per-batch rows measured
    * the same data under the RETIRED quantizer, and summing both sides
    * double-counts every row and re-reports the very distortion the
    * growth just remedied. So the effective set is the latest growth's
    * whole-index row plus the plain per-batch rows strictly above it
    * (older growths' rows are subsumed transitively). Nothing is ever
    * deleted — subsumption is a read rule, so it holds through any crash.
    */
  private def readMetrics(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val latestG = growthDirs(indexDir).lastOption
    val dirs = BatchDirs.listDirs(s"$indexDir/m", "b")
      .filter(_._1 > latestG.fold(-1L)(_._1)).map(_._2) ++
      latestG.map(_._2 + "/m").toSeq
    BatchDirs.readUnion(spark, dirs, metricsSchema, partitioned = false)
  }

  /** mean ‖v−c‖² of data ingested AFTER the baseline horizon, over the
    * same mean for the training-era data — the FAISS-practice drift
    * signal for a frozen coarse quantizer: recall comes from nprobe while
    * the data distribution holds, but data that lands far from every
    * centroid (ratio ≫ 1) concentrates into few cells and degrades both
    * recall and probe cost, and the remedy is an OFFLINE retrain+rebuild
    * ([[retrain]]), never in-place centroid movement. None while either
    * side of the split is empty or the baseline distortion is zero.
    */
  def driftRatio(spark: SparkSession, indexDir: String): Option[Double] = {
    val base = trainedBatch(indexDir)
    if (base < 0L) return None
    val m = readMetrics(spark, indexDir).getOrElse(return None)
    val r = m.agg(
      sum(when(col("batch_id") <= base, col("sum_d2"))).as("bd2"),
      sum(when(col("batch_id") <= base, col("n"))).as("bn"),
      sum(when(col("batch_id") > base, col("sum_d2"))).as("pd2"),
      sum(when(col("batch_id") > base, col("n"))).as("pn")).head()
    if (r.isNullAt(0) || r.isNullAt(2)) return None
    val (bd2, bn, pd2, pn) =
      (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    if (bn == 0L || pn == 0L || bd2 <= 0.0) None
    else Some((pd2 / pn) / (bd2 / bn))
  }

  /** The maintenance decision: retrain when post-baseline distortion has
    * drifted past `ratioThreshold`× the training-era distortion. */
  def shouldRetrain(spark: SparkSession, indexDir: String,
      ratioThreshold: Double): Boolean =
    driftRatio(spark, indexDir).exists(_ >= ratioThreshold)

  /** Fraction of the index ingested AFTER the training baseline — the
    * remedy-sizing signal next to [[driftRatio]]'s remedy trigger: a
    * SMALL drifted tail is the [[grow]] case (delta cost), a drifted
    * majority the [[retrain]] case (the union quantizer would carry too
    * few cells for most of the data). Two sums over the same per-batch
    * metrics sidecar — never a corpus scan. None before a baseline or
    * before any batch.
    */
  def postFraction(spark: SparkSession, indexDir: String): Option[Double] = {
    val base = trainedBatch(indexDir)
    if (base < 0L) return None
    val m = readMetrics(spark, indexDir).getOrElse(return None)
    val r = m.agg(
      coalesce(sum(when(col("batch_id") > base, col("n"))), lit(0L)).as("pn"),
      coalesce(sum(col("n")), lit(0L)).as("tn")).head()
    val (pn, tn) = (r.getLong(0), r.getLong(1))
    if (tn == 0L) None else Some(pn.toDouble / tn)
  }

  // ---- versioned quantizer artifacts: which centroids served WHEN ----

  /** Persist a quantizer GENERATION: the centroid frame that starts
    * serving once batch `batchId` commits — `qg<batchId>/`, committed
    * like every other artifact. Growth and retrain both CHANGE
    * the active quantizer, so a reproducibility audit at an old horizon
    * needs not just the historical rows ([[readIndexAsOf]]) but the
    * historical centroid set; generations are append-only and re-read
    * from current files, the same version discipline as the index
    * itself. Call it after the bootstrap train and after each remedy
    * (the executor's grow path does this automatically).
    */
  def persistCentroids(spark: SparkSession, indexDir: String,
      batchId: Long, cdf: DataFrame): Unit =
    graft.StateCommit.writeDir(s"$indexDir/qg$batchId")(
      cdf.coalesce(1).write.mode("overwrite").parquet(_))

  /** The quantizer that was SERVING at horizon `asOf`: the newest
    * persisted generation at or below it. Horizons before the first
    * generation throw — the explicit error contract, never a silently
    * wrong quantizer. */
  def centroidsAsOf(spark: SparkSession, indexDir: String,
      asOf: Long): Array[Array[Double]] = {
    val gens = BatchDirs.listDirs(indexDir, "qg").filter(_._1 <= asOf)
    require(gens.nonEmpty,
      Retention.belowFloorMsg(Retention.quantizerMarker(indexDir), asOf,
          s"quantizer horizon in $indexDir")
        .getOrElse(
          s"no quantizer generation at or below batch $asOf in $indexDir " +
            "(persistCentroids had not run at that horizon)"))
    Ann.ivfCentroidsFromDf(spark.read.parquet(gens.last._2))
  }

  /** Persist a CODEBOOK generation (`cbg<batchId>/`) — the
    * [[persistCentroids]] discipline applied to the PQ state's second
    * generation artifact: [[retrainPq]] changes the codebooks, so a
    * reproducibility audit at an old horizon needs the codebook serving
    * THEN (growth never re-encodes, so a growth advances only the
    * quantizer generation and the codebook generation carries over). */
  def persistCodebook(spark: SparkSession, indexDir: String,
      batchId: Long, cbDf: DataFrame): Unit =
    graft.StateCommit.writeDir(s"$indexDir/cbg$batchId")(
      cbDf.coalesce(1).write.mode("overwrite").parquet(_))

  /** The codebooks SERVING at horizon `asOf`: the newest persisted
    * generation at or below it. Horizons before the first generation
    * throw — or report the retention floor when a vacuum removed them. */
  def codebooksAsOf(spark: SparkSession, indexDir: String,
      asOf: Long): Array[Array[Array[Double]]] = {
    val gens = BatchDirs.listDirs(indexDir, "cbg").filter(_._1 <= asOf)
    require(gens.nonEmpty,
      Retention.belowFloorMsg(Retention.quantizerMarker(indexDir), asOf,
          s"codebook horizon in $indexDir")
        .getOrElse(
          s"no codebook generation at or below batch $asOf in $indexDir " +
            "(persistCodebook had not run at that horizon)"))
    Ann.pqCodebookFromDf(spark.read.parquet(gens.last._2))
  }

  /** [[searchAsOf]] with the quantizer RESOLVED from the persisted
    * generations — the horizon picks both the rows and the centroid set,
    * so a time-travel probe across a growth or retrain reproduces the
    * answer the index actually served then, with no caller-side
    * quantizer bookkeeping. */
  def searchAsOfAuto(spark: SparkSession, indexDir: String,
      queryVecs: Seq[(Long, Array[Double])], k: Int, asOf: Long,
      nprobe: Int = 4, rankOnRoundedTo: Option[Int] = None): DataFrame =
    searchAsOf(spark, indexDir, centroidsAsOf(spark, indexDir, asOf),
      queryVecs, k, asOf, nprobe, rankOnRoundedTo)

  /** How many extra centroids a [[grow]] of this state should train —
    * the √N law applied to the drifted TAIL: the post-baseline region
    * gets cells sized to its own mass (`cellsPerSqrtN·⌈√pn⌉`), exactly
    * how [[graft.ops.Ann.ivfTrainBalanced]] would size a standalone
    * index over it. Sized from the metrics sidecar (one sum) — never a
    * corpus scan. 1 when the tail is empty or unmeasured (grow itself
    * then rejects the call with its own error).
    */
  def growKNew(spark: SparkSession, indexDir: String,
      cellsPerSqrtN: Int = 4): Int = {
    val base = trainedBatch(indexDir)
    val pn = readMetrics(spark, indexDir) match {
      case None => 0L
      case Some(m) => m.where(col("batch_id") > base)
        .agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
    }
    math.max(1, cellsPerSqrtN *
      math.ceil(math.sqrt(pn.toDouble)).toInt)
  }

  /** Offline re-train + REBUILD — the remedy side of the frozen-centroid
    * policy (class doc): train a fresh √N-law quantizer
    * ([[graft.ops.Ann.ivfTrainBalanced]]) on the ACCUMULATED corpus, then
    * re-assign every row in one pass and land the rebuilt inverted file in
    * `newIndexDir` as a single consolidated `c<maxBatch>/` dir. Rows keep
    * their ingest `batch_id`, so [[searchAsOf]] reproduces every
    * historical answer through the rebuild; the metrics sidecar restarts
    * with the whole-corpus distortion under the fresh quantizer as the new
    * baseline, and the caller swaps serving to `newIndexDir` (the
    * previous-generation dir stays readable while in-flight queries
    * drain — the served-view re-materialization discipline). Returns the
    * retrained centroid frame for the caller to persist. Once the swap
    * is durable, stamp the pre-rebuild dir with
    * [[Retention.markSuperseded]] (the closed loop's executor does this
    * automatically) so the nightly discovery sweep reclaims it when no
    * pin holds it — otherwise every rebuild doubles the index's
    * footprint until a manual [[Retention.retireState]].
    */
  def retrain(spark: SparkSession, indexDir: String, newIndexDir: String,
      cellsPerSqrtN: Int = 4, roundScale: Int = -1): DataFrame = {
    // guards BEFORE any destructive step: the rebuild must land in a NEW
    // generation (the old dir stays readable while in-flight queries
    // drain — same-path retrain would destroy the live index), and an
    // empty state has nothing to rebuild (and would otherwise surface as
    // an opaque empty-max error below)
    require(new java.io.File(newIndexDir).getCanonicalPath !=
        new java.io.File(indexDir).getCanonicalPath,
      s"retrain target '$newIndexDir' must be a new generation dir, not " +
        s"the live index dir '$indexDir'")
    val gens = BatchDirs.listDirs(indexDir, "b") ++
      BatchDirs.listDirs(indexDir, "c") ++ growthDirs(indexDir)
    require(gens.nonEmpty,
      s"retrain: no batch or compacted dirs under '$indexDir' — nothing " +
        "to rebuild")
    val maxB = gens.map(_._1).max
    val idx = readIndexAsOf(spark, indexDir, Long.MaxValue)
      .select("id", "v", "batch_id")
    val (cdf, _) = graft.ops.Ann.ivfTrainBalanced(idx, "v", cellsPerSqrtN)
    val cents = graft.ops.Ann.ivfCentroidsFromDf(cdf)
    graft.Exec.deletePath(newIndexDir)
    idx.withColumn("cell", graft.functions.VectorFns.nearestCellNative(
        col("v"), cents, roundScale))
      .transform(BatchDirs.clusterForWrite(_, "cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$newIndexDir/c$maxB")
    val rebuilt = spark.read.schema(indexSchema)
      .option("basePath", s"$newIndexDir/c$maxB")
      .parquet(s"$newIndexDir/c$maxB")
    writeMetrics(spark, rebuilt, maxB, cents, newIndexDir)
    markTrained(newIndexDir, maxB)
    cdf
  }

  /** [[retrain]] for the PQ-CODED inverted file: a fresh √N quantizer AND
    * fresh codebooks train on the accumulated VECTORS — the PQ rows carry
    * `v` precisely so the rebuild remedy exists for the compressed index
    * (codes alone cannot retrain themselves: a new codebook invalidates
    * every old code, class doc on [[processBatchPq]]) — then one
    * re-assign + re-encode pass lands the rebuilt file in
    * `newIndexDir/c<maxBatch>`. Rows keep their ingest `batch_id`
    * ([[readIndexPqAsOf]] reproduces history through the rebuild), the
    * metrics sidecar restarts with the fresh whole-corpus distortion, and
    * the caller persists BOTH returned frames — (centroids, codebooks) —
    * as the new generation's serving artifacts: the codebook is part of
    * the generation contract exactly like the centroid set.
    */
  def retrainPq(spark: SparkSession, indexDir: String, newIndexDir: String,
      m: Int = 8, kCode: Int = 32, cellsPerSqrtN: Int = 4,
      roundScale: Int = -1): (DataFrame, DataFrame) = {
    require(new java.io.File(newIndexDir).getCanonicalPath !=
        new java.io.File(indexDir).getCanonicalPath,
      s"retrainPq target '$newIndexDir' must be a new generation dir, " +
        s"not the live index dir '$indexDir'")
    val gens = BatchDirs.listDirs(indexDir, "b") ++
      BatchDirs.listDirs(indexDir, "c") ++ growthDirs(indexDir)
    require(gens.nonEmpty,
      s"retrainPq: no batch or compacted dirs under '$indexDir' — " +
        "nothing to rebuild")
    val maxB = gens.map(_._1).max
    val idx = readIndexPqAsOf(spark, indexDir, Long.MaxValue)
      .select("id", "v", "batch_id")
    val (cdf, _) = graft.ops.Ann.ivfTrainBalanced(idx, "v", cellsPerSqrtN)
    val cents = graft.ops.Ann.ivfCentroidsFromDf(cdf)
    val codebooks = graft.ops.Ann.pqTrain(idx, "v", m, kCode)
    graft.Exec.deletePath(newIndexDir)
    val asn = idx.withColumn("cell",
      graft.functions.VectorFns.nearestCellNative(col("v"), cents,
        roundScale))
    asn.join(
        graft.ops.Ann.pqEncode(asn, "id", "v", codebooks,
          if (roundScale >= 0) Some(roundScale) else None),
        Seq("id"))
      .select(col("id"), col("v"), col("codes"), col("rn2"),
        col("batch_id"), col("cell"))
      .transform(BatchDirs.clusterForWrite(_, "cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$newIndexDir/c$maxB")
    val rebuilt = spark.read.schema(indexPqSchema)
      .option("basePath", s"$newIndexDir/c$maxB")
      .parquet(s"$newIndexDir/c$maxB")
    writeMetrics(spark, rebuilt, maxB, cents, newIndexDir)
    // recon sidecar restarts too: the fresh-codes whole-index row is the
    // new codebook-drift baseline
    writeReconMetrics(spark, rebuilt, maxB, codebooks, newIndexDir)
    markTrained(newIndexDir, maxB)
    (cdf, graft.ops.Ann.pqCodebookDf(spark, codebooks))
  }

  // ---- incremental quantizer GROWTH: the delta-cost retrain remedy ----

  private val movesSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("cell", IntegerType),
    StructField("batch_id", LongType)))

  /** Committed quantizer growths: each is one atomically-renamed
    * `g<batch>/` dir holding `data/` (the movers under their new cells),
    * `mv/` (the (id, old cell) exclusion pairs), and `m/` (the
    * whole-index distortion baseline). The single rename is the commit
    * point — data, exclusions, metrics, and the baseline advance become
    * visible together, so no reader can ever observe a partial growth.
    */
  private def growthDirs(indexDir: String): Seq[(Long, String)] =
    BatchDirs.listDirs(indexDir, "g")

  /** Rows displaced by quantizer growths, visible at `horizon`: the
    * (id, old cell) pairs whose copies must be hidden once the growth
    * batch is at or below the read horizon. Bounded by movers, not the
    * corpus. (Also reads the flat `mv<batch>/` sidecars an earlier
    * layout wrote, so pre-g-dir states stay servable.) */
  private def movedPairs(spark: SparkSession, indexDir: String,
      horizon: Long): Option[DataFrame] = {
    val dirs = (BatchDirs.listDirs(indexDir, "mv") ++
        growthDirs(indexDir).map { case (id, p) => (id, p + "/mv") })
      .filter(_._1 <= horizon).map(_._2)
    BatchDirs.readUnion(spark, dirs, movesSchema, partitioned = false)
      .map(_.where(col("batch_id") <= horizon).select(col("id"), col("cell")))
  }

  /** Hide pre-growth copies of moved rows from a slice of the inverted
    * file — the read-time half of [[grow]]'s contract. The anti-join is
    * movers-sized and horizon-aware: a read below a growth's batch sees
    * the ORIGINAL assignment (the growth never happened yet on that
    * timeline), exactly like every other row on the version axis.
    */
  private def excludeMoved(spark: SparkSession, indexDir: String,
      rows: DataFrame, horizon: Long): DataFrame =
    movedPairs(spark, indexDir, horizon) match {
      case None => rows
      case Some(mv) => rows.join(mv, Seq("id", "cell"), "left_anti")
    }

  /** INCREMENTAL quantizer growth — the delta-cost alternative to
    * [[retrain]]'s full rebuild when drift is ADDITIVE (a new data region
    * the frozen quantizer has no cells for, rather than wholesale
    * movement): train `kNew` EXTRA centroids on the post-baseline rows
    * only, and re-home exactly the rows a new centroid wins. Because the
    * OLD centroids never move, a row's nearest cell changes iff some new
    * centroid beats its current assignment — one pass with
    * (1 + kNew)-centroid work per row decides every move EXACTLY (the
    * result is bit-equal to a from-scratch assignment against the union
    * centroid set; rounded-distance compare, lowest-cid ties keep the old
    * cell, matching the oracle's re-derivation order since old cids sort
    * below new ones). Write cost ∝ movers, committed as ONE
    * `g<growBatch>/` dir by a single rename (built aside as
    * `.g<growBatch>.tmp` first — a crash at any point leaves the
    * pre-growth state fully intact and a re-run replays cleanly):
    *   - `g<G>/data`: the moved rows under their new cells
    *     (cell-partitioned; never folded by [[compact]] — these copies
    *     exist nowhere else);
    *   - `g<G>/mv`: the (id, old cell, G) exclusion pairs applied at
    *     read time — batch-stamped, so [[searchAsOf]] below the growth
    *     still serves the ORIGINAL assignment and time travel stays
    *     exact through the growth;
    *   - `g<G>/m`: the whole-index distortion under the grown quantizer
    *     — the new baseline. The committed dir itself advances
    *     [[trainedBatch]], and [[readMetrics]] treats this row as
    *     SUBSUMING every older metric row (they measured the same data
    *     under the retired quantizer), so a drifted state measures
    *     healthy after the remedy and later [[driftRatio]] /
    *     [[postFraction]] reads never double-count the pre-growth mass.
    * Offline operation like [[retrain]] (not a replayable batch): run it
    * once per maintenance decision. Within the generation, every horizon
    * stays exact; moved rows carry the GROWTH batch as their stamp, so a
    * LATER full [[retrain]] (which keeps only surviving copies) can
    * reproduce horizons at or above the growth — read deeper horizons
    * from the pre-rebuild generation, which retrain's contract keeps on
    * disk. Returns the UNION centroid frame
    * (old cids 0..n−1, new cids n..n+kNew−1) for the caller to persist —
    * every subsequent ingest and probe uses the grown quantizer.
    * Cost: O(N·(1+kNew)·dim) scan + movers-sized writes, vs the full
    * rebuild's O(N·nlist·dim) re-assignment + corpus-sized rewrite.
    */
  def grow(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], kNew: Int, seed: Long = 42L,
      kmeansIter: Int = 8, roundScale: Int = -1): DataFrame =
    growImpl(spark, indexDir, cents, kNew, seed, kmeansIter, roundScale,
      pq = false)

  /** [[grow]] for the PQ-CODED inverted file: the same union-set math
    * over the raw vectors, with the movers' PQ codes travelling
    * UNCHANGED — codes encode v against the frozen codebooks,
    * independent of the cell, so re-homing a row never re-encodes it.
    * The delta remedy costs the compressed index the same one
    * (1+kNew)-distance pass plus movers-sized writes as the plain one.
    */
  def growPq(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], kNew: Int, seed: Long = 42L,
      kmeansIter: Int = 8, roundScale: Int = -1): DataFrame =
    growImpl(spark, indexDir, cents, kNew, seed, kmeansIter, roundScale,
      pq = true)

  private def growImpl(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], kNew: Int, seed: Long,
      kmeansIter: Int, roundScale: Int, pq: Boolean): DataFrame = {
    import spark.implicits._
    require(kNew >= 1, "grow: kNew must be >= 1")
    // layout guard: growing a PQ state through the plain entry point
    // would write CODE-LESS mover copies (silent ADC corruption on the
    // next probe), and vice versa — check the actual file schema once
    (BatchDirs.listDirs(indexDir, "c") ++ BatchDirs.listDirs(indexDir, "b"))
      .lastOption.foreach { case (_, p) =>
        val hasCodes = spark.read.parquet(p)
          .schema.fieldNames.contains("codes")
        require(hasCodes == pq,
          if (pq) s"growPq: '$indexDir' holds a PLAIN inverted file " +
            "(no codes column) — use grow"
          else s"grow: '$indexDir' holds a PQ-coded inverted file — " +
            "use growPq (plain grow would drop the movers' codes)")
      }
    val base = trainedBatch(indexDir)
    require(base >= 0L,
      s"grow: no training baseline under '$indexDir' (markTrained) — " +
        "growth extends a trained quantizer")
    val gens = BatchDirs.listDirs(indexDir, "b") ++
      BatchDirs.listDirs(indexDir, "c") ++
      BatchDirs.listDirs(indexDir, "mv") ++ growthDirs(indexDir)
    require(gens.nonEmpty, s"grow: no index dirs under '$indexDir'")
    val growB = gens.map(_._1).max + 1L
    val idx = if (pq) readIndexPqAsOf(spark, indexDir, Long.MaxValue)
      else readIndexAsOf(spark, indexDir, Long.MaxValue)
    val post = idx.where(col("batch_id") > base).select(col("v"))
    require(post.limit(1).count() > 0L,
      s"grow: no post-baseline rows under '$indexDir' — nothing drifted " +
        "to grow cells for")
    val newCents = graft.ops.Ann.ivfCentroidsFromDf(
      graft.ops.Ann.ivfTrain(post, "v", kNew, seed, kmeansIter))
    val oldDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "__oc")
    val newDf = newCents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("__ncell", "__nc")
    def d2(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) = {
      val raw = graft.functions.VectorFns.dotNative(v, v) -
        lit(2.0) * graft.functions.VectorFns.dotNative(v, c) +
        graft.functions.VectorFns.dotNative(c, c)
      if (roundScale >= 0) round(raw, roundScale) else raw
    }
    // one assignment pass: d to the CURRENT cell + argmin over the new
    // centroids only (old centroids unmoved ⇒ old argmin unchanged)
    def scored = idx
      .withColumn("__ncell", graft.functions.VectorFns.nearestCellNative(
        col("v"), newCents, roundScale))
      .join(broadcast(oldDf), Seq("cell"))
      .join(broadcast(newDf), Seq("__ncell"))
      .withColumn("__dold", d2(col("v"), col("__oc")))
      .withColumn("__dnew", d2(col("v"), col("__nc")))
    // movers-sized frames: sidecar + metrics from a v-free projection
    // (bounded memory); the mover rewrite re-runs the scan once with v
    val small = graft.Exec.materializeLocal(scored.select(col("id"),
      col("cell"), col("__ncell"), col("__dold"), col("__dnew")))
    val movers = small.where(col("__dnew") < col("__dold"))
    // build the whole growth aside, commit it as ONE dir — data,
    // exclusions, metrics baseline, and the trainedBatch advance become
    // visible together (no duplicate-copy or missing-copy window, ever)
    val moverCols = Seq(col("id"), col("v")) ++
      (if (pq) Seq(col("codes"), col("rn2")) else Nil) ++
      Seq(lit(growB).as("batch_id"),
        (col("__ncell") + lit(cents.length)).cast("int").as("cell"))
    // the three growth legs are independent once `small` is
    // checkpointed (mv + metrics read it; data re-runs the scan with v)
    // and all land under tmpRoot before the single commit — overlap them
    // (guide §2.6)
    graft.StateCommit.writeDir(s"$indexDir/g$growB")(tmpRoot =>
      graft.Exec.inParallel(
        () => scored.where(col("__dnew") < col("__dold"))
          .select(moverCols: _*)
          .transform(BatchDirs.clusterForWrite(_, "cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$tmpRoot/data"),
        () => movers.select(col("id"), col("cell"), lit(growB).as("batch_id"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpRoot/mv"),
        // whole-index distortion under the grown quantizer = the new
        // baseline
        () => small.select(least(col("__dold"), col("__dnew")).as("__d"))
          .agg(count(lit(1)).cast("long").as("n"),
            coalesce(sum(col("__d")), lit(0.0)).as("sum_d2"))
          .select(lit(growB).as("batch_id"), col("n"), col("sum_d2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpRoot/m")))
    (cents ++ newCents).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "c")
  }

  // ---- IVF-PQ variant: the inverted file carries PQ codes alongside ----

  private val indexPqSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("v", ArrayType(DoubleType), nullable = true),
    StructField("codes", ArrayType(IntegerType), nullable = true),
    StructField("rn2", DoubleType),
    StructField("batch_id", LongType),
    StructField("cell", IntegerType)))

  /** [[processBatch]] with PQ codes: each row is cell-assigned AND encoded
    * against the frozen codebooks in the same pass, so the accumulated
    * inverted file serves [[searchPq]] (ADC over m-byte codes) without any
    * re-encoding — the streaming face of [[Ann.ivfPqTopK]]. Codebooks are
    * frozen for the same reason centroids are: a changed codebook silently
    * invalidates every already-written code.
    */
  def processBatchPq(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cents: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], indexDir: String,
      roundScale: Int = -1): Unit = {
    val asn = batch.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", graft.functions.VectorFns.nearestCellNative(
        col("v"), cents, roundScale))
    asn.join(
        Ann.pqEncode(asn, "id", "v", codebooks,
          if (roundScale >= 0) Some(roundScale) else None),
        Seq("id"))
      .select(col("id"), col("v"), col("codes"), col("rn2"),
        lit(batchId).as("batch_id"), col("cell"))
      .transform(BatchDirs.clusterForWrite(_, "cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/b$batchId")
  }

  /** The accumulated PQ inverted file ([[readIndex]]'s contract, code-bearing
    * schema).
    */
  def readIndexPq(spark: SparkSession, indexDir: String): DataFrame = {
    val maxC = BatchDirs.listDirs(indexDir, "c").lastOption
    val dirs = maxC.map(_._2).toSeq ++ BatchDirs.listDirs(indexDir, "b")
      .filter(_._1 > maxC.fold(-1L)(_._1)).map(_._2) ++
      growthDirs(indexDir).map(_._2 + "/data")
    BatchDirs.readUnion(spark, dirs, indexPqSchema, partitioned = true)
      .getOrElse(BatchDirs.emptyFrame(spark, indexPqSchema))
  }

  /** [[readIndexAsOf]] for the PQ-coded inverted file. */
  def readIndexPqAsOf(spark: SparkSession, indexDir: String,
      asOf: Long): DataFrame =
    excludeMoved(spark, indexDir,
      readIndexPq(spark, indexDir).where(col("batch_id") <= asOf), asOf)

  def compactPq(spark: SparkSession, indexDir: String,
      upToOpt: Option[Long] = None): Unit =
    BatchDirs.compact(spark, indexDir, indexPqSchema, Some("cell"), upToOpt)

  /** Probe the PQ index: driver-computed `cell IN (...)` partition pruning,
    * then [[Ann.ivfPqTopK]]'s ADC + exact-rerank stages over the persisted
    * (id, cell, codes, rn2) — the original vectors are read only for the
    * shortlist join, and nothing is re-assigned or re-encoded per query.
    */
  def searchPq(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      queryVecs: Seq[(Long, Array[Double])], k: Int, nprobe: Int = 4,
      rerank: Int = 4, rankOnRoundedTo: Option[Int] = None): DataFrame =
    searchPqAsOf(spark, indexDir, cents, codebooks, queryVecs, k,
      Long.MaxValue, nprobe, rerank, rankOnRoundedTo)

  /** [[searchAsOf]] for the PQ-coded inverted file: the ADC shortlist and
    * the exact rerank both see only rows with `batch_id <= asOf` (move
    * exclusions applied at the same horizon), so a time-travel probe of
    * the compressed index reproduces the answer it served then — the
    * version axis is code-compression-agnostic. */
  def searchPqAsOf(spark: SparkSession, indexDir: String,
      cents: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      queryVecs: Seq[(Long, Array[Double])], k: Int, asOf: Long,
      nprobe: Int = 4, rerank: Int = 4,
      rankOnRoundedTo: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val probeCells = queryVecs
      .flatMap(q => Ann.nearestCellsLocal(q._2, cents, nprobe)).distinct
    val idx = excludeMoved(spark, indexDir,
      readIndexPq(spark, indexDir)
        .where(col("cell").isin(probeCells: _*) && col("batch_id") <= asOf),
      asOf)
    val qdf = queryVecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    Ann.ivfPqTopK(idx.select(col("id"), col("v")), qdf, "id", "v", k,
      cents, codebooks, nprobe, rerank, rankOnRoundedTo,
      indexOpt = Some(idx.select("id", "cell", "codes", "rn2")))
  }

  /** Attach to a streaming embedding source: (idCol LONG-castable, vecCol
    * ARRAY<numeric>). The index accumulates under `indexDir/b<batch>/`;
    * [[search]] over it equals [[Ann.ivfTopK]] over the union corpus with
    * the same frozen centroids (StreamingSpec asserts exact parity).
    */
  def attach(embeddings: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], indexDir: String,
      checkpointDir: String): StreamingQuery =
    embeddings.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, vecCol, cents, indexDir)
        ()
      }
      .start()
}
