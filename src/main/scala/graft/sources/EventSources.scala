package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.recdb.EventCols

/** Event-table loaders mirroring the reference's ingestion paths: its
  * example workloads bulk-load delimited text (COPY … DELIMITER ':' —
  * examples/ml-100/script.py:49; MovieLens .dat files use ';'), and the
  * engine validates that the three clause columns exist in the relation at
  * parse time (recathon.c:846-865). Keys coerce to integral, events to
  * numeric (getTupleInt/getTupleFloat, recathon.c:467-555 — here LONG/DOUBLE
  * per FIXTURES.md).
  */
object EventSources {

  def eventsSchema(c: EventCols): StructType = StructType(Seq(
    StructField(c.user, LongType, nullable = false),
    StructField(c.item, LongType, nullable = false),
    StructField(c.rating, DoubleType, nullable = false)))

  /** Delimited text (the ML-100K / MovieLens shape). Extra columns beyond the
    * triple are permitted and ignored, like a wider events relation.
    */
  def csv(spark: SparkSession, path: String, c: EventCols = EventCols(),
      delimiter: String = ",", header: Boolean = false): DataFrame = {
    val raw =
      if (header)
        spark.read.option("header", "true").option("delimiter", delimiter).csv(path)
      else
        spark.read.option("delimiter", delimiter)
          .schema(eventsSchema(c)).csv(path)
    validate(coerce(raw, c), c)
  }

  def json(spark: SparkSession, path: String, c: EventCols = EventCols()): DataFrame =
    validate(coerce(spark.read.json(path), c), c)

  def parquet(spark: SparkSession, path: String, c: EventCols = EventCols()): DataFrame =
    validate(coerce(spark.read.parquet(path), c), c)

  /** Date-partitioned event sink: Hive-style `day=YYYY-MM-DD` directories
    * derived from the nanosecond timestamp column. At 100 TB this is the
    * layout that makes time-ranged queries read only their partitions —
    * a filter on `day` becomes a PartitionFilter (directory pruning, zero
    * I/O for excluded days) instead of a row-level predicate.
    */
  def writePartitionedByDay(events: DataFrame, path: String,
      tsCol: String = "ts"): Unit =
    events
      .withColumn("day", to_date(timestamp_micros(expr(s"$tsCol DIV 1000"))))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Keyed UPSERT into a parquet directory — the ModifyTable UPDATE/DELETE
    * slot (SURVEY.md §2.2 sinks) for format-free parquet storage: merge the
    * delta with the existing table, keep the highest-`versionCol` row per
    * key (a null-payload delta row models a delete marker the caller can
    * filter on read), and commit through [[graft.StateCommit.writeDir]] —
    * the merge is written aside (parquet reads are lazy, so overwriting
    * the directory being read would corrupt the job), and a reader or the
    * next upsert sees every earlier merge or this one, at any crash point.
    *
    * `versionCol` should be unique per key (a timestamp/batch id); when it
    * may tie, pass `tieBreakCols` — they extend the window ordering (DESC)
    * so the survivor is deterministic. Scale note: this rewrites the whole
    * table — at 100 TB partition the path (e.g. by day) and upsert only the
    * touched partitions, or use a table format (Delta/Iceberg) whose
    * metadata layer makes the swap transactional; the merge-by-window logic
    * here is identical in both worlds.
    */
  def upsertByKey(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], versionCol: String,
      tieBreakCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.expressions.Window
    val existing =
      if (new java.io.File(graft.StateCommit.live(path)).exists())
        Some(spark.read.parquet(path))
      else None
    val unioned = existing.map(_.unionByName(delta)).getOrElse(delta)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((versionCol +: tieBreakCols).map(col(_).desc): _*)
    val merged = unioned.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    graft.StateCommit.writeDir(path)(merged.write.mode("overwrite").parquet(_))
  }

  /** Key/value coercion: int-like keys (floats truncate, recathon.c:487-506),
    * numeric event values.
    */
  private def coerce(df: DataFrame, c: EventCols): DataFrame = {
    val cols = df.columns.map {
      case n if n == c.user || n == c.item => col(n).cast(LongType).as(n)
      case n if n == c.rating => col(n).cast(DoubleType).as(n)
      case n => col(n)
    }
    df.select(cols.toSeq: _*)
  }

  /** Parse-time column validation (recathon.c:846-865): all three columns
    * must exist in ONE relation.
    */
  private def validate(df: DataFrame, c: EventCols): DataFrame = {
    val missing = Seq(c.user, c.item, c.rating).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"events table is missing column(s) ${missing.mkString(", ")} " +
        "(recathon.c:865 'no events table column')")
    df
  }
}
