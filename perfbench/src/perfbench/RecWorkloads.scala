package perfbench

import org.apache.spark.sql.functions._

import graft.recdb.{IncrementalMaintainer, RecCatalog, RecDbProperties, Recommender}

/** Point serving: one closed-loop client reads the top-10 of Zipf-skewed
  * users from an itemCosCF recommender that also has a top-20 view (10 %
  * of the catalog). No model build runs in the timed window.
  *
  *   - `rec_workload` sends the reference's SQL point query
  *     (`rec_workload.c`). Fixed per-query cost (rewrite, analysis,
  *     catalog I/O, planning, job scheduling) is nearly all of each op; the
  *     SQL form serves only complete views, so it scores on every query.
  *   - `view_topk` calls the public `Recommender.recommendTopK`, which
  *     serves RECOMMEND(10) from the top-20 view: the resident serving path
  *     the SQL form bypasses.
  */
final class RecServing(seed: Long, viaView: Boolean) extends Workload {
  import RecServing._
  val name: String = if (viaView) "view_topk" else "rec_workload"
  private val shape = Gen.ServingShape
  private val events = Gen.ratings(shape, seed)
  private val users = Gen.zipfSequence((1L to shape.users).toVector, 200000, 1.0,
    seed, "readers")
  /** Users whose served answers are compared with the second route. */
  private val sampled = Gen.zipfSequence((1L to shape.users).toVector, 2, 1.0,
    seed, "sample").distinct.toSet
  private val kept = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Long, Double)]]
  private var catalog: RecCatalog = _
  private var dir: String = _
  /** Reads drawn from `users` so far; every window goes on from here. */
  private var next = 0

  def digest: String = Gen.digest(events.iterator.map(_.toString) ++
    users.iterator.take(1000).map(_.toString))

  def setup(h: Harness, dir: String): Unit = {
    val spark = h.spark
    if (catalog != null) { Recommender.drop("ic", catalog); RecDb.deleteDir(this.dir) }
    this.dir = dir
    RecDb.loadTable(spark, "ev", events, s"$dir/events")
    catalog = RecDb.useCatalog(spark, dir)
    RecDb.create(h, "ic", "ev", "itemCosCF")
    h.call("recdb.materialize_s") {
      Recommender.materializeView(spark, "ic", spark.table("ev"), catalog,
        s"$dir/views", Some(ViewK))
    }
    (1 to WarmUpReads).foreach { _ =>
      h.op("read")(read(h, users(next % users.size)))
      next += 1
    }
  }

  private def read(h: Harness, user: Long): Seq[(Long, Double)] =
    if (!viaView) RecDb.pointRead(h, "ic", user, shape.items)
    else {
      val rows = RecDb.ranked(h.collect(Recommender.recommendTopK(h.spark,
        h.spark.table("ev"), "ev", RecDb.Cols, "itemcoscf", Some(catalog), user,
        RecDb.K)), 1, 2)
      Checks.ranked(rows, RecDb.K, i => i >= 1 && i <= shape.items, full = true)
      rows
    }

  def run(h: Harness, deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs) {
      val u = users(next % users.size)
      h.op("read") {
        val rows = read(h, u)
        if (sampled.contains(u)) kept.putIfAbsent(u, rows)
      }
      next += 1
    }
  }

  def finalChecks(h: Harness): Unit = {
    val us = sampled.toSeq.sorted
    lazy val refs = RecDb.referenceTopKs(h.spark, "ev", "itemcoscf", us, catalog)
    // a sampled user the timed window never drew is checked on a fresh read
    us.foreach { u =>
      h.op("check") {
        val served = Option(kept.get(u)).getOrElse(read(h, u))
        Checks.sameTopK(served, refs(u), RecDb.K)
      }
    }
  }
}

object RecServing {
  /** A top-k view holding 10 % of the catalog, deep enough for RECOMMEND(10). */
  val ViewK = 20
  /** Warm-up reads at the end of each set-up. Per-op cost still falls over
    * a fresh JVM's first reads (JIT, and Spark compiling each new user's
    * query code), so the three set-ups leave six reads behind the window.
    */
  val WarmUpReads = 2
}

/** `regression_mix`: the reference regression file's query shapes, in a
  * seeded round-robin from one closed-loop client with uniform users and
  * no views. Every query reads a model and scores it, so scoring CPU and
  * jobs per query dominate and no serving cache applies.
  */
final class RegressionMix(seed: Long) extends Workload {
  val name = "regression_mix"
  private val shape = Gen.Sf01Shape
  private val events = Gen.ratings(shape, seed)
  private val dims = Gen.itemDims(shape.items, seed)
  private val methods = Seq("itemCosCF", "itemPearCF", "userCosCF", "userPearCF", "SVD")

  /** (shape name, users drawn for one op) → SQL text. */
  private val shapes: Vector[(String, Seq[Long] => String)] = {
    def point(table: String, m: String)(us: Seq[Long]) =
      s"SELECT userid, itemid, rating FROM $table RECOMMEND itemid TO userid " +
        s"ON rating USING $m WHERE userid = ${us.head} " +
        s"ORDER BY rating DESC, itemid LIMIT ${RecDb.K}"
    methods.map(m => s"rec_${m.toLowerCase}" -> point("ev", m) _) ++
      methods.map(m => s"fly_${m.toLowerCase}" -> point("ev_raw", m) _) ++
      Vector(
        "join_ilike" -> ((us: Seq[Long]) =>
          "SELECT r.userid, r.itemid, r.rating, i.genre FROM ev r, item_dim i " +
            "RECOMMEND r.itemid TO r.userid ON r.rating USING itemCosCF " +
            s"WHERE r.userid = ${us.head} AND r.itemid = i.itemid " +
            s"AND i.genre ILIKE '%dram%' ORDER BY r.rating DESC, r.itemid LIMIT ${RecDb.K}"),
        "multi_user" -> ((us: Seq[Long]) =>
          "SELECT userid, itemid, rating FROM ev RECOMMEND itemid TO userid " +
            s"ON rating USING itemCosCF WHERE userid IN (${us.mkString(", ")}) " +
            s"ORDER BY rating DESC, itemid, userid LIMIT ${RecDb.K}"))
  }.toVector

  /** The op sequence: rounds of every shape in a seeded order, each op with
    * uniformly drawn users.
    */
  private val sequence: Vector[(Int, Seq[Long])] = {
    val r = Gen.rng(seed, "mix")
    Vector.fill(200)(Gen.permutation(shapes.size, r).toVector).flatten.map { s =>
      (s, Seq.fill(5)(1L + r.nextInt(shape.users)).distinct)
    }
  }
  private val checkOps: Set[Int] = {
    val r = Gen.rng(seed, "mix-sample")
    Set.fill(3)(r.nextInt(shapes.size))
  }
  private val kept = new java.util.concurrent.ConcurrentHashMap[Int, (Seq[Long], Seq[(Long, Double)])]
  private var catalog: RecCatalog = _
  private var dir: String = _
  /** Ops of `sequence` run so far; every window goes on from here. */
  private var next = 0

  def digest: String = Gen.digest(events.iterator.map(_.toString) ++
    dims.iterator.map(_.toString) ++ sequence.iterator.take(1000).map(_.toString))

  def setup(h: Harness, dir: String): Unit = {
    val spark = h.spark
    if (catalog != null) {
      methods.foreach(m => Recommender.drop(s"r_${m.toLowerCase}", catalog))
      RecDb.deleteDir(this.dir)
    }
    this.dir = dir
    RecDb.loadTable(spark, "ev", events, s"$dir/events")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ev_raw AS " +
      s"SELECT userid, itemid, rating FROM parquet.`$dir/events`")
    import spark.implicits._
    dims.toDF("itemid", "genre").write.parquet(s"$dir/item_dim")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW item_dim AS " +
      s"SELECT itemid, genre FROM parquet.`$dir/item_dim`")
    catalog = RecDb.useCatalog(spark, dir)
    methods.foreach(m => RecDb.create(h, s"r_${m.toLowerCase}", "ev", m))
    shapes.indices.foreach(i => h.op("read")(read(h, i, Seq(1L + i))))
  }

  /** Rows of one answer as ranked (id, score) pairs; the multi-user shape
    * ranks by (score, item, user), so its id packs item and user.
    */
  private def read(h: Harness, s: Int, us: Seq[Long]): Seq[(Long, Double)] = {
    val t0 = System.nanoTime()
    val rows = h.collect(h.spark.sql(shapes(s)._2(us)))
    val ranked = shapes(s)._1 match {
      case "multi_user" => rows.toSeq.map(r =>
        (r.getLong(1) * 100000L + r.getLong(0), r.getDouble(2)))
      case _ => RecDb.ranked(rows, 1, 2)
    }
    val userOk = rows.forall(r => us.contains(r.getLong(0)))
    if (!userOk) Checks.fail("row for a user outside the query")
    Checks.ranked(ranked, RecDb.K, id => {
      val (item, user) = (id / 100000L, id % 100000L)
      if (shapes(s)._1 == "multi_user") item >= 1 && item <= shape.items &&
        user >= 1 && user <= shape.users
      else id >= 1 && id <= shape.items
    }, full = shapes(s)._1 != "join_ilike")
    h.sample(s"query_ms.${shapes(s)._1}", (System.nanoTime() - t0) / 1e6)
    ranked
  }

  def run(h: Harness, deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs) {
      val (s, us) = sequence(next % sequence.size)
      h.op("read") {
        val rows = read(h, s, us)
        if (checkOps.contains(s)) kept.putIfAbsent(s, (us, rows))
      }
      next += 1
    }
  }

  def finalChecks(h: Harness): Unit = {
    val spark = h.spark
    checkOps.toSeq.sorted.foreach { s =>
      h.op("check") {
        val (us, served) = Option(kept.get(s)).getOrElse {
          val us = sequence.find(_._1 == s).get._2
          (us, read(h, s, us))
        }
        val (sname, method) = (shapes(s)._1, shapes(s)._1.split('_').last)
        val ref = sname match {
          case "join_ilike" =>
            RecDb.reference(spark, "ev", "itemcoscf", us.take(1), catalog, Int.MaxValue)
              .join(spark.table("item_dim"), "itemid")
              .where(col("genre").ilike("%dram%"))
              .orderBy(col("score").desc, col("itemid")).limit(RecDb.K + RecDb.RefExtra)
              .select("itemid", "score").collect().toSeq
              .map(r => (r.getLong(0), r.getDouble(1)))
          case "multi_user" =>
            RecDb.reference(spark, "ev", "itemcoscf", us, catalog, RecDb.K + RecDb.RefExtra)
              .select("itemid", "userid", "score").collect().toSeq
              .map(r => (r.getLong(0) * 100000L + r.getLong(1), r.getDouble(2)))
          case n if n.startsWith("rec_") =>
            RecDb.referenceTopK(spark, "ev", method, us.head, catalog)
          case _ =>
            RecDb.referenceTopK(spark, "ev_raw", method, us.head, catalog)
        }
        Checks.sameTopK(served, ref, RecDb.K)
      }
    }
  }
}

object RegressionMix {
  val ShapeNames: Seq[String] = Layers.Methods.map("rec_" + _) ++
    Layers.Methods.map("fly_" + _) ++ Seq("join_ilike", "multi_user")
}

/** `ingest_serve`: an open-loop writer inserts seeded rating batches through
  * `IncrementalMaintainer.processBatch` while a closed-loop reader sends
  * the point query. `update_threshold` makes a full rebuild fire every
  * [[IngestServe.RebuildEvery]] batches; after each rebuild the writer
  * re-materializes the top-20 view, as an application would, and checks
  * sampled users' answers against the second route.
  */
final class IngestServe(seed: Long) extends Workload {
  import IngestServe._
  val name = "ingest_serve"
  private val shape = Gen.Sf01Shape
  private val events = Gen.ratings(shape, seed)
  private val batches = Gen.insertBatches(events, shape, batches = 400,
    perBatch = BatchRows, newUsers = 2, perNewUser = 5, seed = seed)
  private val users = Gen.zipfSequence((1L to shape.users).toVector, 200000, 1.0,
    seed, "readers")
  private val sampled = Gen.zipfSequence((1L to shape.users).toVector, 8, 1.0,
    seed, "sample").distinct
  private var checks = 0
  private var catalog: RecCatalog = _
  private var maintainer: IncrementalMaintainer = _
  private var dir: String = _
  private var nextBatch = 0
  /** Reads drawn from `users` so far; every window goes on from here. */
  private var nextRead = 0

  def digest: String = Gen.digest(events.iterator.map(_.toString) ++
    batches.iterator.flatten.map(_.toString) ++ users.iterator.take(1000).map(_.toString))

  def setup(h: Harness, dir: String): Unit = {
    val spark = h.spark
    if (catalog != null) { Recommender.drop("ic", catalog); RecDb.deleteDir(this.dir) }
    this.dir = dir
    nextBatch = 0
    RecDb.loadTable(spark, "ev", events, s"$dir/events")
    catalog = RecDb.useCatalog(spark, dir)
    RecDb.create(h, "ic", "ev", "itemCosCF")
    // the threshold is a share of the event total, re-read on every batch
    catalog.setProperties(RecDbProperties(
      updateThreshold = RebuildEvery * BatchRows.toDouble / events.size))
    maintainer = new IncrementalMaintainer(catalog, s"$dir/events")
    h.call("recdb.materialize_s") {
      Recommender.materializeView(spark, "ic", spark.table("ev"), catalog,
        s"$dir/views", Some(ViewK))
    }
    h.op("read")(RecDb.pointRead(h, "ic", users.head, shape.items))
  }

  private def maxItem = shape.items.toLong

  def run(h: Harness, deadlineNs: Long): Unit = {
    val spark = h.spark
    val t0 = System.nanoTime()
    val writer = () => {
      var i = 0
      var due = Stats.dueAt(t0, IntervalNs, i)
      while (due < deadlineNs && nextBatch < batches.size && Workload.waitFor(due, deadlineNs)) {
        val b = nextBatch
        nextBatch += 1
        var rebuilt = false
        var insertS = 0.0
        h.op("write", due) {
          val s0 = System.nanoTime()
          rebuilt = maintainer.processBatch("ic", RecDb.ratingsFrame(spark, batches(b)), b)
          insertS = (System.nanoTime() - s0) / 1e9
          if (rebuilt) h.sample("recdb.rebuild_s", insertS)
          else h.sample("recdb.append_ms", insertS * 1000)
        }
        if (rebuilt) {
          val r0 = System.nanoTime()
          val ok = h.op("refresh") {
            h.call("recdb.materialize_s") {
              Recommender.materializeView(spark, "ic", spark.table("ev"), catalog,
                s"$dir/views", Some(ViewK))
            }
          }
          if (ok) h.sample("refresh_s", insertS + (System.nanoTime() - r0) / 1e9)
          checkSampled(h)
        }
        i += 1
        due = Stats.dueAt(t0, IntervalNs, i)
      }
    }
    val reader = () => {
      while (System.nanoTime() < deadlineNs) {
        val u = users(nextRead % users.size)
        h.op("read")(RecDb.pointRead(h, "ic", u, maxItem))
        nextRead += 1
      }
    }
    Workload.concurrently(writer, reader)
  }

  /** The next sampled user's served answer equals the second route on the
    * current events; run by the writer after each refresh, so a stale or
    * torn answer fails.
    */
  private def checkSampled(h: Harness): Unit = {
    val u = sampled(checks % sampled.size)
    checks += 1
    h.op("check") {
      Checks.sameTopK(RecDb.pointRead(h, "ic", u, maxItem),
        RecDb.referenceTopK(h.spark, "ev", "itemcoscf", u, catalog), RecDb.K)
    }
  }

  def finalChecks(h: Harness): Unit = checkSampled(h)
}

object IngestServe {
  val BatchRows = 50
  val RebuildEvery = 3
  val ViewK = 20
  /** Open-loop insert rate: one batch every 2 s, which the writer sustains
    * through a rebuild cycle on a 4-core host.
    */
  val IntervalNs: Long = 2000L * 1000000L
}
