package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for scan pruning at scale.
  *
  * Parquet scans prune ROW GROUPS (and whole files) whose column min/max
  * stats exclude the pushed-down predicate. That only bites when the layout
  * makes the stats selective: a randomly-laid-out 100 TB table has every row
  * group spanning the full value range of every column, so nothing prunes
  * and a needle query still reads 100 TB. Sorting solves it for ONE column;
  * Z-ORDER (Morton) interleaving gives MULTI-column locality — each row
  * group covers a small hyper-rectangle of the key space, so a conjunction
  * of range predicates on any subset of the z-columns skips the overwhelming
  * majority of row groups.
  *
  * The reference engine leans on B-tree indexes for this (SURVEY.md §2.2
  * IndexScan); an immutable-file analytics stack replaces them with layout +
  * statistics, which is what this writer produces. The same z-value also
  * serves as a range-bucketing key for co-located joins.
  */
object Layout {

  /** Morton-interleave already-quantized non-negative int columns (each
    * < 2^bits). Pure bit arithmetic — stays inside whole-stage codegen; for
    * k columns × `bits` bits the z-value has k·bits significant bits (keep
    * ≤ 63).
    */
  def interleaveBits(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"z-value needs cols*bits <= 63, got ${cols.size} x $bits")
    val n = cols.size
    var z: Column = lit(0L)
    for (b <- 0 until bits; (c, j) <- cols.zipWithIndex) {
      z = z.bitwiseOR(shiftleft(
        shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + j))
    }
    z
  }

  /** Rank-free min/max quantization of a numeric column onto [0, 2^bits).
    * Resolution, not correctness: skewed columns cluster coarsely (use a
    * rank/percentile pre-map if the skew matters); results never change.
    */
  def quantize(c: Column, min: Double, max: Double, bits: Int = 16): Column = {
    val span = math.max(max - min, java.lang.Double.MIN_NORMAL)
    val buckets = (1L << bits) - 1
    least(greatest(
      ((c.cast("double") - lit(min)) / lit(span) * lit(buckets.toDouble))
        .cast("long"), lit(0L)), lit(buckets))
  }

  /** Z-value over numeric columns, quantized by their measured min/max (one
    * aggregation job at write time — amortized over every future scan).
    */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 16): Column = {
    val row = df.agg(
      cols.flatMap(c => Seq(min(col(c)).cast("double"),
        max(col(c)).cast("double"))).head,
      cols.flatMap(c => Seq(min(col(c)).cast("double"),
        max(col(c)).cast("double"))).tail: _*).head()
    interleaveBits(cols.zipWithIndex.map { case (c, i) =>
      // an empty frame has null min/max — any constant keeps the write a
      // valid (empty) parquet dir instead of an NPE
      if (row.isNullAt(2 * i)) lit(0L)
      else quantize(col(c), row.getDouble(2 * i), row.getDouble(2 * i + 1), bits)
    }, bits)
  }

  /** Compact a parquet directory to ~`targetFileBytes` output files — the
    * small-file hygiene pass every long-running ingest needs: streaming
    * sinks and per-batch appends accumulate thousands of KB-sized files
    * whose open/footer overhead eventually dominates scans and whose count
    * explodes driver file-listing memory. Sizing reads the CURRENT on-disk
    * bytes (compressed) from the filesystem, not a row count, so it holds
    * at any schema/scale. The rewrite commits through
    * [[graft.StateCommit.writeDir]]: a reader sees the old layout or the
    * new one, never neither (at cluster scale a table format makes this a
    * metadata transaction instead).
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        Seq(f)
      else Seq.empty
    val before = parquetFiles(new java.io.File(graft.StateCommit.live(path)))
    val bytes = before.map(_.length()).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // coalesce, not repartition: narrow dependency, no shuffle — compaction
    // is an I/O rewrite, the data need not move between keys
    graft.StateCommit.writeDir(path) { tmp =>
      spark.read.parquet(path).coalesce(n)
        .write.mode("overwrite").parquet(tmp)
      (before.size, parquetFiles(new java.io.File(tmp)).size)
    }
  }

  /** Write `df` as parquet clustered by the z-order of `cols`:
    * range-partition on the z-value (each output file covers a contiguous
    * z-range, i.e. a tight hyper-rectangle) and sort within partitions so
    * row-group stats inside large files stay tight too. `files` sizes the
    * layout — at cluster scale pick data-size/128 MB, not a row count.
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      files: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zValue(df, cols, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
