package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TfIdf

/** Streaming BM25 search index: each micro-batch of documents is tokenized
  * ONCE into persisted postings rows (doc, term, tf) — the inverted-index
  * state — and queries derive [[TfIdf.bm25FromPostings]] from the
  * accumulated state. Corpus statistics (N, avgdl, df) come from the
  * postings alone, so ranking is retroactively consistent: a new batch
  * shifts every document's idf and length normalization exactly as a
  * one-shot rebuild would.
  *
  * Durability: the [[BatchDirs]] contract — overwrite-idempotent
  * `b<batchId>/` dirs, LSM-folded by [[compact]] (pure row union; a doc's
  * postings land wholly in its ingest batch, so folding is exact).
  */
object SearchIndexMaintainer {

  private def postSchema(idCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField("term", StringType),
    StructField("tf", LongType),
    StructField("batch_id", LongType)))

  /** One micro-batch: tokenize + persist the postings. Each row carries
    * its ingest batch id — the version axis [[searchAsOf]] time-travels
    * on: postings are append-only (no tombstones), so every historical
    * index version stays addressable from the CURRENT files even after
    * [[compact]] folds batch dirs (the fold is a pure row union that
    * preserves `batch_id`).
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, stateDir: String): Unit =
    // stateParts: a micro-batch's postings are bounded state — the
    // BatchDirs coalesce discipline the digest/window maintainers apply
    // (uncoalesced this wrote up to one file per task per batch)
    BatchDirs.stateParts(TfIdf.postings(batch, idCol, textCol)
        .withColumn("batch_id", lit(batchId)))
      .write.mode("overwrite").parquet(s"$stateDir/b$batchId")

  /** The accumulated postings as of the last committed batch. */
  def readPostings(spark: SparkSession, idCol: String,
      stateDir: String): DataFrame = {
    val schema = postSchema(idCol)
    val maxC = BatchDirs.listDirs(stateDir, "c").lastOption
    val dirs = maxC.map(_._2).toSeq ++ BatchDirs.listDirs(stateDir, "b")
      .filter { case (id, _) => id > maxC.fold(-1L)(_._1) }
      .map(_._2)
    BatchDirs.readUnion(spark, dirs, schema, partitioned = false)
      .getOrElse(BatchDirs.emptyFrame(spark, schema))
  }

  /** BM25 top-k over everything ingested — identical to a one-shot
    * [[TfIdf.bm25Search]] over the full corpus, derived purely from the
    * persisted postings. When a compacted lengths sidecar covers the
    * folded horizon, per-doc lengths (and with them N, avgdl) come from
    * STATE plus the un-folded delta batches — a query never re-collapses
    * the full per-(doc, term) postings into lengths again.
    */
  def search(spark: SparkSession, stateDir: String, idCol: String,
      query: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundTo: Int = 6): DataFrame = {
    val post = readPostings(spark, idCol, stateDir)
    lengthsFromState(spark, idCol, stateDir) match {
      case Some(dl) => TfIdf.bm25FromPostingsWithLengths(post, dl, idCol,
        query, k, k1, b, roundTo)
      case None => TfIdf.bm25FromPostings(post, idCol, query, k, k1, b,
        roundTo)
    }
  }

  /** [[search]] for a BATCH of queries ([[TfIdf.bm25SearchBatch]]) — the
    * continuous-decontamination shape: a whole eval suite ranks against
    * the maintained index in one pass, lengths from the compacted sidecar
    * plus un-folded deltas when available.
    */
  def searchBatch(spark: SparkSession, stateDir: String, idCol: String,
      queries: DataFrame, qidCol: String, termCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 6): DataFrame = {
    val post = readPostings(spark, idCol, stateDir)
    lengthsFromState(spark, idCol, stateDir) match {
      case Some(dl) => TfIdf.bm25SearchBatchWithLengths(post, dl, idCol,
        queries, qidCol, termCol, k, k1, b, roundTo)
      case None => TfIdf.bm25SearchBatch(post, idCol, queries, qidCol,
        termCol, k, k1, b, roundTo)
    }
  }

  /** TIME-TRAVEL search: the top-k exactly as the index answered after
    * batch `asOf` committed — ranking (N, avgdl, df, lengths included)
    * derives from postings rows with `batch_id <= asOf` only, read from
    * the CURRENT files ([[processBatch]]'s version axis; exact through
    * compaction because postings are append-only). Lengths re-aggregate
    * from the as-of postings slice — the current sidecar covers the
    * current horizon, not a historical one; an audit read pays that
    * one-pass collapse.
    */
  def searchAsOf(spark: SparkSession, stateDir: String, idCol: String,
      query: Seq[String], k: Int, asOf: Long, k1: Double = 1.2,
      b: Double = 0.75, roundTo: Int = 6): DataFrame =
    TfIdf.bm25FromPostings(
      readPostings(spark, idCol, stateDir).where(col("batch_id") <= asOf),
      idCol, query, k, k1, b, roundTo)

  private def lenSchema(idCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField("len", LongType)))

  /** Per-doc lengths from state: the compacted `len_c<upTo>` sidecar plus
    * a fold of only the batches newer than the horizon (cost ∝ delta).
    * None — with fallback to full re-aggregation — when no sidecar
    * matches the current compaction horizon.
    */
  def lengthsFromState(spark: SparkSession, idCol: String,
      stateDir: String): Option[DataFrame] = {
    val maxC = BatchDirs.listDirs(stateDir, "c").lastOption.map(_._1)
    val side = Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("len_c"))
      .flatMap(f => f.getName.stripPrefix("len_c").toLongOption
        .map(_ -> f.getPath))
      .sortBy(_._1).lastOption
    side.collect { case (upTo, p) if maxC.contains(upTo) =>
      val base = spark.read.schema(lenSchema(idCol)).parquet(p)
      val deltaDirs = BatchDirs.listDirs(stateDir, "b")
        .filter(_._1 > upTo).map(_._2)
      BatchDirs.readUnion(spark, deltaDirs, postSchema(idCol),
          partitioned = false)
        .map(d => base.unionByName(
            d.groupBy(col(idCol)).agg(sum(col("tf")).as("len")))
          // a doc whose postings straddle the sidecar and a delta batch
          // would otherwise surface two (id, len) rows and inflate
          // N/avgdl — re-collapse the union (cheap: one row per doc)
          .groupBy(col(idCol)).agg(sum(col("len")).as("len")))
        .getOrElse(base)
    }
  }

  /** Fold committed batch dirs (default horizon: max batch − 1), then
    * derive the lengths sidecar FROM the folded postings (committed like
    * the fold, [[graft.StateCommit.writeDir]]; superseded sidecars are
    * dropped). A doc's postings land wholly in its ingest batch, so the
    * sidecar is exact for everything at or below the horizon.
    */
  def compact(spark: SparkSession, idCol: String, stateDir: String,
      upToOpt: Option[Long] = None): Unit = {
    BatchDirs.compact(spark, stateDir, postSchema(idCol), None, upToOpt)
    BatchDirs.listDirs(stateDir, "c").lastOption.foreach {
      case (upTo, dir) =>
        graft.StateCommit.writeDir(s"$stateDir/len_c$upTo")(
          BatchDirs.stateParts(
            spark.read.schema(postSchema(idCol)).parquet(dir)
              .groupBy(col(idCol)).agg(sum(col("tf")).as("len")))
            .write.mode("overwrite").parquet(_))
        Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("len_c") &&
            f.getName != s"len_c$upTo")
          .foreach(f => graft.Exec.deletePath(f.getPath))
    }
  }

  /** Attach to a streaming document source: (idCol LONG, textCol STRING). */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, stateDir)
        ()
      }
      .start()
}
