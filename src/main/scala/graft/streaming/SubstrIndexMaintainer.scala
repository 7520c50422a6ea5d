package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Dedup

/** Streaming exact-substring dedup with a PERSISTENT window-digest index —
  * the streaming face of [[Dedup.duplicateSpans]]. Each micro-batch of
  * documents is scanned and window-hashed ONCE ([[Dedup.windowDigests]]):
  * the batch's (id, pos, digest) rows land in an overwrite-idempotent
  * `b<batchId>/` dir and never need the text again. The duplicated-span
  * set is DERIVED from the index on demand ([[spans]]): merged counts ≥ 2
  * → island merge — a scan of the bounded index, not of the corpus.
  *
  * Exact-substring duplication is inherently RETROACTIVE: a newly ingested
  * document can make a window in an old document duplicated for the first
  * time, so the span set of old docs legitimately grows as batches arrive.
  * Persisting positions (not just counts) is what makes that cheap — the
  * affected old spans re-derive from index rows; no document is ever
  * re-read or re-hashed.
  *
  * Durability: same contract as [[NearDupMaintainer]] — per-batch
  * overwrite-idempotent dirs, LSM-folded by [[compact]] (pure row union;
  * counts are derived at read so folding can never double-count a key
  * whose rows span the fold boundary).
  */
object SubstrIndexMaintainer {

  private def indexSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("pos", IntegerType),
    StructField("__k1", LongType),
    StructField("__k2", LongType)))

  /** One micro-batch: window-hash the batch docs, persist the digests.
    * Exposed for direct (non-streaming) batch ingestion too.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, width: Int, indexDir: String): Unit =
    graft.Exec.stage(s"substr.processBatch b$batchId") {
      val delta = batch.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text"))
      BatchDirs.stateParts(
        Dedup.windowDigests(delta, "id", "text", width)
          .select(col("id"), col("pos").cast("int").as("pos"),
            col("__k1"), col("__k2")))
        .write.mode("overwrite").parquet(s"$indexDir/b$batchId")
    }

  private def keyCountSchema: StructType = StructType(Seq(
    StructField("__k1", LongType),
    StructField("__k2", LongType),
    StructField("__n", LongType)))

  /** The corpus-wide duplicated-span set as of the last committed batch —
    * identical to a one-shot [[Dedup.duplicateSpans]] over everything
    * ingested (StreamingSpec asserts the equality), derived purely from
    * the persisted index.
    *
    * The duplicated-key filter is where a long-lived index's read cost
    * concentrates (the count aggregation touches every position row ever
    * written), so the compacted segment contributes its PRE-AGGREGATED
    * per-key counts (`kc<upTo>/` sidecar, written by [[compact]]) and only
    * the fresh post-horizon batches are counted at read time: per-read
    * aggregation cost ∝ sidecar keys + delta, not index positions. Counts
    * are mergeable (sum per key), so sidecar + delta counts are exactly
    * the full recount; position rows still feed the island merge, which
    * needs them regardless. A missing sidecar (pre-upgrade index, or a
    * crash between the two compaction renames) falls back to counting the
    * consolidated rows — never wrong, just unamortized.
    */
  def spans(spark: SparkSession, indexDir: String, width: Int): DataFrame = {
    val maxC = BatchDirs.listDirs(indexDir, "c").lastOption
    val bDirs = BatchDirs.listDirs(indexDir, "b")
      .filter { case (id, _) => id > maxC.fold(-1L)(_._1) }.map(_._2)
    val cRows = maxC.map { case (_, d) =>
      spark.read.schema(indexSchema).parquet(d) }
    val bRows = BatchDirs.readUnion(spark, bDirs, indexSchema,
      partitioned = false)
    val allRows = (cRows.toSeq ++ bRows.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(BatchDirs.emptyFrame(spark, indexSchema))
    val cCounts = maxC.map { case (cid, _) =>
      val kd = new java.io.File(indexDir, s"kc$cid")
      if (kd.exists())
        spark.read.schema(keyCountSchema).parquet(kd.getPath)
      else cRows.get.groupBy("__k1", "__k2").agg(count(lit(1)).as("__n"))
    }
    val bCounts = bRows.map(
      _.groupBy("__k1", "__k2").agg(count(lit(1)).as("__n")))
    val dupKeys = (cCounts.toSeq ++ bCounts.toSeq)
      .reduceOption(_ unionByName _)
      .map(_.groupBy("__k1", "__k2").agg(sum(col("__n")).as("__n"))
        .where(col("__n") >= 2).select("__k1", "__k2"))
      .getOrElse(BatchDirs.emptyFrame(spark,
        StructType(keyCountSchema.take(2))))
    Dedup.dupSpansFromWindowsWithKeys(allRows, dupKeys, "id", width)
      .withColumnRenamed("id", "doc_id")
  }

  /** Fold committed batch dirs into one consolidated `c<upTo>/` dir
    * (default upTo: max batch − 1, keeping the newest batch replayable),
    * then write the segment's per-key count sidecar `kc<upTo>/` — the
    * key-sized frame [[spans]] reads instead of re-counting positions.
    * The sidecar commits ([[graft.StateCommit.writeDir]]) AFTER the segment:
    * a crash in between leaves a consolidated segment with no sidecar,
    * which [[spans]] handles by recounting (fallback, not corruption).
    */
  def compact(spark: SparkSession, indexDir: String,
      upToOpt: Option[Long] = None): Unit = {
    BatchDirs.compact(spark, indexDir, indexSchema, None, upToOpt)
    BatchDirs.listDirs(indexDir, "c").lastOption.foreach { case (cid, cdir) =>
      val kd = new java.io.File(indexDir, s"kc$cid")
      if (!kd.exists()) {
        graft.StateCommit.writeDir(kd.getPath)(
          spark.read.schema(indexSchema).parquet(cdir)
            .groupBy("__k1", "__k2").agg(count(lit(1)).as("__n"))
            .write.mode("overwrite").parquet(_))
      }
      // superseded sidecars (their segment dirs are gone) are dead weight
      BatchDirs.listDirs(indexDir, "kc").filter(_._1 < cid)
        .foreach { case (_, d) => graft.Exec.deletePath(d) }
    }
  }

  /** Attach to a streaming document source: (idCol LONG-castable,
    * textCol STRING).
    */
  def attach(docs: DataFrame, idCol: String, textCol: String, width: Int,
      indexDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, width, indexDir)
        ()
      }
      .start()
}
