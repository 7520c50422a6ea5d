package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared lifecycle machinery for the batch-dir persistent indexes
  * ([[NearDupMaintainer]], [[AnnIndexMaintainer]]): one
  * overwrite-idempotent `b<batchId>/` dir per micro-batch, periodically
  * folded into a consolidated `c<upTo>/` dir (covering all batches ≤ upTo)
  * so read fan-in stays bounded no matter how many batches have ever
  * arrived — the LSM-compaction shape rendered on a local FS (a
  * transactional table format supplies the same moves on a real cluster).
  */
private[streaming] object BatchDirs {

  /** Cluster rows by the partition-layout column with an EXPLICIT partition
    * count before a dynamic-partition write. A bare `repartition(col)`
    * leaves the count to AQE, which coalesces a small batch's shuffle to
    * 1-2 partitions — and then ONE task writes every partition directory's
    * file sequentially (~15 ms/file writer open+close; measured 4.4 s vs
    * 1.5 s for a 282-cell batch at local[32]; OPTIMIZATION_r16.md, batch
    * 1). An explicit count is exempt from AQE coalescing, so write
    * parallelism stays at the executors' while each key still hashes wholly
    * into one task — still ≈ one file per partition value, any scale.
    */
  def clusterForWrite(df: DataFrame, c: String): DataFrame =
    df.repartition(
      math.max(1, df.sparkSession.sparkContext.defaultParallelism),
      org.apache.spark.sql.functions.col(c))

  /** Cap the file count of a per-batch STATE write at one. A micro-batch's
    * persisted statistic (digest partials, window digests, rep sidecars,
    * word frequencies) is small relative to the batch, but an uncoalesced
    * write emits one part-file per task — up to 32 per dir per stage at
    * local[32] — and on a metadata-slow FS the file churn (create +
    * footer read + eventual recursive delete) dominates the actual work
    * (round 14: s_dedup_exact 1.1 s on one host, 13.6 s on another). This is
    * the coalesce discipline [[AnnIndexMaintainer]]'s sidecars already
    * apply.
    */
  def stateParts(df: DataFrame): DataFrame = df.coalesce(1)

  def listDirs(indexDir: String, prefix: String): Seq[(Long, String)] =
    Option(new java.io.File(indexDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .flatMap(f => f.getName.stripPrefix(prefix).toLongOption
        .map(_ -> f.getPath))
      .sortBy(_._1)

  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  def readUnion(spark: SparkSession, dirs: Seq[String], schema: StructType,
      partitioned: Boolean): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(dirs.map { d =>
      val r = spark.read.schema(schema)
      (if (partitioned) r.option("basePath", d) else r).parquet(d)
    }.reduce(_ unionByName _))

  /** Merge the current compacted dir plus every batch dir with id ≤ `upTo`
    * into `c<upTo>/`, then remove the absorbed dirs. Only compact batches
    * the stream has durably COMMITTED (default: max batch − 1, so the
    * newest batch stays replayable — a crash-replay of an absorbed batch
    * would double its rows). Crash-safe: the consolidated dir commits
    * ([[graft.StateCommit.writeDir]]) before any source dir is deleted; a
    * crash in between leaves covered dirs that readers ignore.
    */
  def compact(spark: SparkSession, indexDir: String, schema: StructType,
      partitionCol: Option[String], upToOpt: Option[Long]): Unit = {
    val bs = listDirs(indexDir, "b")
    if (bs.isEmpty) return
    val upTo = upToOpt.getOrElse(bs.map(_._1).max - 1)
    val prevC = listDirs(indexDir, "c")
    val absorb = prevC.filter(_._1 <= upTo) ++ bs.filter(_._1 <= upTo)
    if (absorb.isEmpty) return
    require(prevC.forall(_._1 <= upTo),
      s"compact($upTo) below existing compaction ${prevC.map(_._1).max}")
    val merged = readUnion(spark, absorb.map(_._2), schema,
      partitioned = partitionCol.isDefined).get
    // cluster rows by the layout column first so the fold writes ≈ one
    // file per partition value instead of one per (task, value) pair;
    // unpartitioned (small-statistic) folds take the stateParts cap for
    // the same reason the per-batch writes do
    val clustered = partitionCol.fold(stateParts(merged))(c =>
      clusterForWrite(merged, c))
    val writer = clustered.write.mode("overwrite")
    // crash recovery: an existing c<upTo> is in `absorb` (its rows are
    // already in the new fold), so the commit replaces it
    val dest = new java.io.File(indexDir, s"c$upTo")
    graft.StateCommit.writeDir(dest.getPath)(
      partitionCol.fold(writer)(c => writer.partitionBy(c)).parquet(_))
    absorb.filter(_._2 != dest.getPath)
      .foreach { case (_, d) => graft.Exec.deletePath(d) }
  }
}
