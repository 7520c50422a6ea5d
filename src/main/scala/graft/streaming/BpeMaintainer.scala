package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Bpe

/** Streaming BPE-tokenizer maintenance — the R17 threshold-retrain idea
  * (recathon.c:951-1203) applied to the tokenizer: the (word, freq) table
  * is the EXACT sufficient statistic for merge learning, so each
  * micro-batch appends only its own word counts (one aggregation over the
  * batch — the corpus is never re-tokenized), and when the corpus has
  * grown by `growthFactor` × the size at the last learn, the merges
  * relearn from the MERGED state — cost ∝ vocabulary, not corpus.
  *
  * Durability contract (the [[NearDupMaintainer]] / [[BatchDirs]] shape):
  * per-batch overwrite-idempotent `b<batchId>/` word-count dirs with LSM
  * compaction, and a versioned merges model (`v<N>/merges.parquet`)
  * committed by an atomic `_LATEST` pointer AFTER the parquet lands — a
  * crash mid-learn leaves the previous version serving. Replay is
  * idempotent end to end: batch dirs rewrite byte-identically, the
  * learn trigger derives from the (idempotent) state totals rather than
  * counters, and learning itself is deterministic.
  */
object BpeMaintainer {

  final case class Config(numMerges: Int = 40, minCount: Long = 2L,
      growthFactor: Double = 0.5,
      // byte-level mode: the state is the byte-mode (word, freq) table
      // (whitespace pre-tokenization, case preserved) and relearning runs
      // over UTF-8 hex-pair symbols — the sufficient-statistic argument is
      // mode-independent, so incremental maintenance stays exact
      byteLevel: Boolean = false)

  private def wfSchema: StructType = StructType(Seq(
    StructField("word", StringType),
    StructField("freq", LongType)))

  /** Aggregated word counts from batches with id ≤ `upTo` (compacted dir +
    * later batch dirs). Same replay-horizon guard as
    * [[NearDupMaintainer.priorIndex]]: replaying a batch at or below the
    * compaction horizon would double its rows inside the fold.
    */
  def stateWordFreq(spark: SparkSession, stateDir: String,
      upTo: Long): DataFrame = {
    val maxC = BatchDirs.listDirs(stateDir, "c").lastOption
    maxC.foreach { case (k, _) =>
      require(k <= upTo,
        s"replaying batch below compaction horizon $k — " +
          "compact only durably-committed batches")
    }
    val dirs = maxC.map(_._2).toSeq ++ BatchDirs.listDirs(stateDir, "b")
      .filter { case (id, _) => id > maxC.fold(-1L)(_._1) && id <= upTo }
      .map(_._2)
    BatchDirs.readUnion(spark, dirs, wfSchema, partitioned = false)
      .getOrElse(BatchDirs.emptyFrame(spark, wfSchema))
      .groupBy("word").agg(sum(col("freq")).as("freq"))
  }

  def compact(spark: SparkSession, stateDir: String,
      upToOpt: Option[Long] = None): Unit =
    BatchDirs.compact(spark, stateDir, wfSchema, None, upToOpt)

  private def latestPath(modelDir: String) = Paths.get(modelDir, "_LATEST")

  /** (version, corpus word-occurrence total at learn time), or None.
    * Fails with a DIAGNOSABLE error on a payload that is not the
    * two-token `version total` stamp this maintainer writes — other
    * maintainers (e.g. [[graft.recdb]]'s delta states) use a `_LATEST`
    * pointer with a different payload, and a raw `MatchError` from a
    * mis-aimed read names neither the file nor the mismatch. */
  def latestMeta(modelDir: String): Option[(Long, Long)] =
    if (!Files.exists(latestPath(modelDir))) None
    else {
      val raw = new String(Files.readAllBytes(latestPath(modelDir))).trim
      raw.split(' ') match {
        case Array(v, t) if v.toLongOption.isDefined &&
            t.toLongOption.isDefined =>
          Some((v.toLong, t.toLong))
        case _ => throw new IllegalArgumentException(
          s"${latestPath(modelDir)} is not a BPE merges-model pointer: " +
            s"payload '$raw' does not parse as 'version total' (is this " +
            "a different maintainer's _LATEST state dir?)")
      }
    }

  /** The committed merge rules in rank order (empty before any learn). */
  def latestMerges(spark: SparkSession,
      modelDir: String): Seq[(String, String)] =
    latestMeta(modelDir).map { case (v, _) =>
      Bpe.loadMerges(spark, s"$modelDir/v$v/merges.parquet")
    }.getOrElse(Seq.empty)

  /** The `_LATEST` committed version's merges frame (rank, l, r, merged)
    * — stamp-independent, so legacy (pre-`_meta`) models serve too; the
    * no-horizon form of the SQL relation. */
  def latestMergesDf(spark: SparkSession, modelDir: String): DataFrame = {
    val (v, _) = latestMeta(modelDir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed merges model under $modelDir"))
    spark.read.parquet(s"$modelDir/v$v/merges.parquet")
  }

  /** COMMITTED model versions, oldest first: (version, learn batch,
    * corpus total at learn), read from each version dir's `_meta` stamp.
    * Only versions at or below the `_LATEST` pointer count (a crash
    * between the version write and the pointer move leaves an orphan dir
    * invisible here, exactly like every other aside artifact). Versions
    * written before the stamp existed carry learn batch −1 — readable by
    * [[latestMerges]] but excluded from the horizon axis ([[mergesAsOf]])
    * and never dropped by the vacuum (their horizon is unprovable).
    */
  def versions(modelDir: String): Seq[(Long, Long, Long)] = {
    val latest = latestMeta(modelDir).map(_._1).getOrElse(return Seq.empty)
    Option(Paths.get(modelDir).toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(f => f.getName.stripPrefix("v").toLongOption.map(_ -> f))
      .filter(_._1 <= latest)
      .map { case (v, f) =>
        val meta = new java.io.File(f, "_meta")
        // a truncated/corrupted stamp (crash mid-write of _meta) folds
        // into the UNSTAMPED classification — horizon unprovable, so the
        // version reads via latestMerges but is excluded from the
        // [[mergesAsOf]] axis and never vacuumed — instead of surfacing
        // a raw MatchError from every read path
        val stamp =
          if (!meta.isFile) None
          else Files.readString(meta.toPath).trim.split(' ') match {
            case Array(b, t) => for {
              bl <- b.toLongOption; tl <- t.toLongOption
            } yield (bl, tl)
            case _ => None
          }
        stamp.fold((v, -1L, -1L)) { case (b, t) => (v, b, t) }
      }
      .sortBy(_._1)
  }

  /** The version dir serving horizon `asOf`: the newest stamped version
    * learned at a batch ≤ asOf. Horizons below every stamped version
    * throw — reporting the retention floor when a vacuum explains it
    * (the [[Retention]] error contract), the never-learned message
    * otherwise.
    */
  private def versionAt(modelDir: String, asOf: Long): (Long, String) = {
    val at = versions(modelDir).filter(v => v._2 >= 0L && v._2 <= asOf)
    require(at.nonEmpty,
      Retention.belowFloorMsg(Retention.mergesMarker(modelDir), asOf,
          s"tokenizer horizon in $modelDir")
        .getOrElse(s"no merges version learned at or below batch $asOf " +
          s"in $modelDir"))
    (at.last._1, s"$modelDir/v${at.last._1}")
  }

  /** TIME-TRAVEL read of the tokenizer: the merge rules that were SERVING
    * once batch `asOf` committed — the version axis for the model
    * artifact every downstream token count depends on (a training-run
    * audit that pins shards and selections but re-tokenizes with today's
    * merges reproduces nothing). Generation read from current files, no
    * recompute — the [[CurateMaintainer.selectionAsOf]] discipline.
    */
  def mergesAsOf(spark: SparkSession, modelDir: String,
      asOf: Long): Seq[(String, String)] =
    Bpe.loadMerges(spark, s"${versionAt(modelDir, asOf)._2}/merges.parquet")

  /** [[mergesAsOf]] as the persisted merges frame (rank, l, r, merged) —
    * the [[SnapshotManifest]] `bpe` resolver. */
  def mergesAsOfDf(spark: SparkSession, modelDir: String,
      asOf: Long): DataFrame =
    spark.read.parquet(s"${versionAt(modelDir, asOf)._2}/merges.parquet")

  private def commit(modelDir: String, v: Long, total: Long): Unit = {
    Files.createDirectories(Paths.get(modelDir))
    graft.StateCommit.writeFile(latestPath(modelDir).toString,
      s"$v $total".getBytes)
    // version retention: with a persisted policy
    // ([[Retention.setMergesPolicy]]) the model dir is APPEND-ONLY and
    // truncation belongs to the pin-aware vacuum
    // ([[Retention.vacuumMergeVersions]] — a SnapshotManifest pin can
    // then durably hold any horizon); without one, the legacy keep-two
    // window applies at commit time (serving + one rollback).
    if (Retention.readPolicy(Retention.mergesPolicyPath(modelDir)).isEmpty)
      graft.StateCommit.reap(modelDir, "v(\\d+)".r)(n => n == v || n == v - 1)
  }

  /** One micro-batch: aggregate the batch's word counts into its state
    * dir, then relearn iff the corpus total has grown past
    * (1 + growthFactor) × the total at the last learn (first batch always
    * learns). Returns true when a learn ran. Exposed for direct batch
    * ingestion too.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, stateDir: String, modelDir: String,
      cfg: Config = Config()): Boolean = {
    val spark = batch.sparkSession
    BatchDirs.stateParts(Bpe.wordFreq(batch, idCol, textCol,
        cfg.byteLevel))
      .write.mode("overwrite").parquet(s"$stateDir/b$batchId")
    val state = stateWordFreq(spark, stateDir, upTo = batchId)
      .localCheckpoint() // consumed by total + (maybe) the learning loop
    val total = state.agg(coalesce(sum(col("freq")), lit(0L)))
      .head().getLong(0)
    val due = latestMeta(modelDir) match {
      case None => total > 0
      case Some((_, lastTotal)) =>
        total >= ((1 + cfg.growthFactor) * lastTotal).toLong
    }
    if (due) {
      val v = latestMeta(modelDir).fold(0L)(_._1 + 1)
      val merges = Bpe.learnMergesFromWordFreq(state, cfg.numMerges,
        cfg.minCount, byteLevel = cfg.byteLevel)
      Bpe.mergesDf(spark, merges).coalesce(1)
        .write.mode("overwrite").parquet(s"$modelDir/v$v/merges.parquet")
      // the version's horizon stamp — which batch this learn fired at —
      // lands INSIDE the version dir before the _LATEST move, so every
      // committed version carries its place on the time-travel axis
      // ([[mergesAsOf]]) and replay rewrites it byte-identically
      Files.writeString(Paths.get(modelDir, s"v$v", "_meta"),
        s"$batchId $total")
      commit(modelDir, v, total)
    }
    due
  }

  /** Attach to a streaming document source. */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, modelDir: String, checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, stateDir, modelDir, cfg)
        ()
      }
      .start()
}
