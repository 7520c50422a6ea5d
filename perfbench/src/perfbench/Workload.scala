package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.recdb.{EventCols, RecCatalog, Recommender}
import graft.sql.GraftSql

/** One benchmark workload: a seeded input set, a set-up that builds the
  * program state from it, and a timed window of ops.
  */
trait Workload {
  def name: String

  /** Digest of every generated input. */
  def digest: String

  /** Build the state in the fresh directory `dir`, replacing whatever an
    * earlier set-up built, and run the workload's warm-up ops on it. Runs
    * several times per run; the last set-up's state serves the timed window.
    */
  def setup(h: Harness, dir: String): Unit

  /** Run the workload's clients until `deadlineNs`, recording ops. */
  def run(h: Harness, deadlineNs: Long): Unit

  /** Seeded sample checks against a second route, as "check" ops. */
  def finalChecks(h: Harness): Unit
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "rec_workload" => new RecServing(seed, viaView = false)
    case "view_topk" => new RecServing(seed, viaView = true)
    case "regression_mix" => new RegressionMix(seed)
    case "ingest_serve" => new IngestServe(seed)
    case "pipeline_hybrid" => new PipelineHybrid(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val Names: Seq[String] =
    Seq("rec_workload", "view_topk", "regression_mix", "ingest_serve", "pipeline_hybrid")

  /** Sleep until `due` (a `System.nanoTime` value); true when that is
    * still before `deadline`.
    */
  def waitFor(due: Long, deadline: Long): Boolean = {
    val wait = due - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
    System.nanoTime() < deadline
  }

  /** Run `bodies` on their own threads and wait for all; rethrows the first
    * failure.
    */
  def concurrently(bodies: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = bodies.map { b =>
      val t = new Thread(() => try b() catch { case e: Throwable => errors.add(e); () })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** Shared pieces of the RecDB workloads: the ratings table, the SQL point
  * query of the reference's `rec_workload.c`, and the second route the
  * answers are checked against.
  */
object RecDb {
  val Cols: EventCols = EventCols("userid", "itemid", "rating")
  val K = 10
  /** Extra reference rows, so ties at the cut can be told from errors. */
  val RefExtra = 10

  def ratingsFrame(spark: SparkSession, rows: Seq[Gen.Rating]): DataFrame = {
    import spark.implicits._
    rows.map(r => (r.user, r.item, r.rating)).toDF("userid", "itemid", "rating")
  }

  /** Write the ratings as the table's parquet files and register `table`
    * as a view over the path, re-resolved on every query so appended
    * files are visible.
    */
  def loadTable(spark: SparkSession, table: String, rows: Seq[Gen.Rating],
      path: String): Unit = {
    ratingsFrame(spark, rows).coalesce(1).write.mode("overwrite").parquet(path)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $table AS " +
      s"SELECT userid, itemid, rating FROM parquet.`$path`")
  }

  /** Point the session's RecDB catalog and model store at `dir`. */
  def useCatalog(spark: SparkSession, dir: String): RecCatalog = {
    spark.conf.set(GraftSql.CatalogDirKey, s"$dir/catalog")
    spark.conf.set(GraftSql.ModelsDirKey, s"$dir/models")
    GraftSql.catalog(spark)
  }

  def create(h: Harness, rec: String, table: String, method: String): Unit =
    h.call(s"recdb.create_s.${method.toLowerCase}") {
      h.spark.sql(s"CREATE RECOMMENDER $rec ON $table USERS FROM userid " +
        s"ITEMS FROM itemid EVENTS FROM rating USING $method").collect()
    }

  /** The reference's workload query (rec_workload.c), with the score
    * column selected too so the answer's order can be checked.
    */
  def pointQuery(rec: String, user: Long): String =
    s"SELECT itemid, rating FROM $rec RECOMMEND($K) userid = $user"

  def ranked(rows: Array[org.apache.spark.sql.Row], id: Int, score: Int): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(id), r.getDouble(score)))

  /** One point read: run the SQL form and check the answer's structure. */
  def pointRead(h: Harness, rec: String, user: Long, items: Long): Seq[(Long, Double)] = {
    val rows = ranked(h.collect(h.spark.sql(pointQuery(rec, user))), 0, 1)
    Checks.ranked(rows, K, i => i >= 1 && i <= items, full = true)
    rows
  }

  /** Second route: `Recommender.recommend` on the current events with the
    * view bypassed, then order and limit.
    */
  def reference(spark: SparkSession, table: String, method: String,
      users: Seq[Long], catalog: RecCatalog, limit: Int): DataFrame = {
    import spark.implicits._
    Recommender.recommend(spark, spark.table(table), table, Cols, method,
        Some(catalog), users = Some(users.toDF("userid")), serveFromView = false)
      .orderBy(col("score").desc, col("itemid"), col("userid")).limit(limit)
  }

  /** Each user's reference top-k (with [[RefExtra]] more rows), from one
    * scoring pass over all of `users`.
    */
  def referenceTopKs(spark: SparkSession, table: String, method: String,
      users: Seq[Long], catalog: RecCatalog): Map[Long, Seq[(Long, Double)]] =
    reference(spark, table, method, users, catalog, Int.MaxValue)
      .select("userid", "itemid", "score").collect().toSeq
      .groupBy(_.getLong(0)).map { case (u, rows) =>
        u -> rows.take(K + RefExtra).map(r => (r.getLong(1), r.getDouble(2)))
      }.withDefaultValue(Nil)

  def referenceTopK(spark: SparkSession, table: String, method: String,
      user: Long, catalog: RecCatalog): Seq[(Long, Double)] =
    referenceTopKs(spark, table, method, Seq(user), catalog)(user)

  def deleteDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }
}
