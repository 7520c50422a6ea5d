package graft.recdb

import graft.SparkSpec
import java.nio.file.Files

/** CREATE/DROP/RECOMMEND lifecycle (SURVEY.md §2.1 R1/R4/R5/R18) + SVD
  * ranking sanity (the metric-based gate for the ALS divergence, §7.3).
  */
class RecommenderSpec extends SparkSpec {
  import spark.implicits._

  val c: EventCols = EventCols("userid", "itemid", "rating")
  def ratings = new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")

  def freshDirs(): (RecCatalog, String) = {
    val base = Files.createTempDirectory("graft-rec").toString
    (new RecCatalog(s"$base/catalog"), s"$base/models")
  }

  /** Answer rows as (user, item, score), in order. */
  def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().toSeq.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))

  /** Same ranking as a computed answer: the same ids in the same order, and
    * scores equal up to last-bit drift — a view is materialized by the
    * all-users scoring strategy, and a one-user compute may pick another
    * that sums in a different order.
    */
  def sameRanking(got: Seq[(Long, Long, Double)],
      computed: Seq[(Long, Long, Double)]): Unit = {
    got.map(x => (x._1, x._2)) shouldBe computed.map(x => (x._1, x._2))
    got.zip(computed).foreach { case (g, w) => g._3 shouldBe w._3 +- 1e-12 }
  }

  /** The user's top-k as [[Recommender.materializeView]] scores a view:
    * every user at once, the view bypassed — so bit-equal to a view's rows.
    */
  def viewStrategyTopK(r: org.apache.spark.sql.DataFrame, tag: String,
      cat: RecCatalog, userId: Long, k: Int): Seq[(Long, Long, Double)] = {
    import org.apache.spark.sql.functions.col
    rows(Recommender.recommend(spark, r, tag, c, "itemcoscf", Some(cat),
        serveFromView = false).where(col("userid") === userId)
      .orderBy(col("score").desc, col("itemid")).limit(k))
  }

  /** True when `df` is answered from a resident index: a bare local scan. */
  def servedResident(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]

  /** 24 users x 10 items, each user rating 7-8 items with 1-5 stars: every
    * user gets 10 predictions, enough to rank below a top-8 cut.
    */
  def denser = (for {
    u <- 1L to 24L; i <- 1L to 10L if (u * 7 + i * 3) % 4 != 0
  } yield (u, i, (1 + (u * i) % 5).toDouble)).toDF("userid", "itemid", "rating")

  test("method parsing: case-insensitive, default itemCosCF, invalid errors") {
    RecMethod.parse("ItemCosCF") shouldBe RecMethod.ItemCosCF
    RecMethod.parse("USERPEARCF") shouldBe RecMethod.UserPearCF
    RecMethod.parse("") shouldBe RecMethod.ItemCosCF // default, recathon.c:868
    an[IllegalArgumentException] should be thrownBy RecMethod.parse("alsjoint")
  }

  test("create persists model + catalog entry with eventTotal; duplicates error") {
    val (cat, models) = freshDirs()
    val e = Recommender.create(spark, "r1", ratings, "tbl", c, "itemcoscf", cat, models)
    e.eventTotal shouldBe 10
    spark.read.parquet(e.modelPaths.head).count() shouldBe
      Similarity.itemCosine(ratings, c).count()
    an[IllegalArgumentException] should be thrownBy
      Recommender.create(spark, "r1", ratings, "tbl2", c, "userpearcf", cat, models)
    an[IllegalArgumentException] should be thrownBy // duplicate (table, method)
      Recommender.create(spark, "r2", ratings, "tbl", c, "itemcoscf", cat, models)
  }

  test("materialized and on-the-fly paths agree; query counter bumps; drop cleans") {
    val (cat, models) = freshDirs()
    Recommender.create(spark, "r1", ratings, "tbl", c, "itemcoscf", cat, models)
    val fly = Recommender.recommend(spark, ratings, "other", c, "itemcoscf")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mat = Recommender.recommend(spark, ratings, "tbl", c, "itemcoscf", Some(cat))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    mat.keySet shouldBe fly.keySet
    mat.foreach { case (k, v) => v shouldBe fly(k) +- 1e-12 }
    cat.get("r1").get.queryCounter shouldBe 1 // execRecommend.c:831-836
    Recommender.drop("r1", cat) shouldBe true
    cat.get("r1") shouldBe None
    new java.io.File(s"$models/r1.model.parquet").exists() shouldBe false
  }

  test("typed facade: Dataset[Event] in, typed models and predictions out") {
    import spark.implicits._
    val ds = new MicroFixtureSpec {}.fixture
      .map(t => TypedApi.Event(t._1, t._2, t._3)).toDS()
    val model = TypedApi.itemCosine(ds).collect()
    model.length shouldBe Similarity.itemCosine(ratings, c).count()
    model.foreach(m => assert(m.item1 < m.item2 && m.similarity > 0))
    val preds = TypedApi.recommend(spark, ds, "typed", "itemcoscf").collect()
    preds.length shouldBe 16
    preds.map(_.score).foreach(s => assert(!s.isNaN))
  }

  test("materialized view: top-k cache serves, rebuild invalidates") {
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "rv", r, "tbl", c, "itemcoscf", cat, models)
    val path = Recommender.materializeView(spark, "rv", r, cat,
      models + "/views", topK = Some(2))
    val view = Recommender.recommendFromView(spark, "rv", cat)
    view.isDefined shouldBe true
    view.get.count() shouldBe 8 // 4 users × top-2
    // parity with live scoring top-2
    val live = Recommender.recommend(spark, r, "tbl", c, "itemcoscf", Some(cat))
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("userid")).orderBy(col("score").desc, col("itemid"))
    val liveTop = live.withColumn("rk", row_number().over(w)).where(col("rk") <= 2)
      .select("userid", "itemid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    view.get.select("userid", "itemid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe liveTop
    // R17 rebuild invalidates the view
    val evPath = java.nio.file.Files.createTempDirectory("graft-ev").toString + "/ev"
    r.write.parquet(evPath)
    val maint = new IncrementalMaintainer(cat, evPath)
    maint.processBatch("rv", r.limit(5)) shouldBe true // 5 >= 0.5×10
    cat.get("rv").get.viewPath shouldBe None
    new java.io.File(path).exists() shouldBe false
  }

  test("recommend auto-routes through a fresh COMPLETE view; top-k views don't serve") {
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "ar", r, "tbl", c, "itemcoscf", cat, models)
    import org.apache.spark.sql.functions._
    val direct = Recommender.recommend(spark, r, "tbl", c, "itemcoscf", Some(cat))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    // a top-k view is NOT complete — recommend must keep computing
    Recommender.materializeView(spark, "ar", r, cat, models + "/views",
      topK = Some(2))
    Recommender.recommend(spark, r, "tbl", c, "itemcoscf", Some(cat))
      .count() shouldBe 16
    // a complete view serves every query, identically, through the view scan
    Recommender.materializeView(spark, "ar", r, cat, models + "/views")
    cat.get("ar").get.viewComplete shouldBe true
    val served = Recommender.recommend(spark, r, "tbl", c, "itemcoscf", Some(cat))
    // plan proof: the serving path reads the (cached) view parquet, not the
    // events — the view relation appears in the analyzed plan, and after the
    // first query the executed plan scans the in-memory cache of that
    // relation rather than re-decoding files
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    served.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.exists(_.contains(".view.v")) shouldBe true
    served.collect()
    val again = Recommender.recommend(spark, r, "tbl", c, "itemcoscf", Some(cat))
    again.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.nonEmpty shouldBe true
    val got = served.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    got.keySet shouldBe direct.keySet
    got.foreach { case (k, v) => v shouldBe direct(k) +- 1e-12 }
    // the users pre-filter applies on the view path too
    val sq = spark
    import sq.implicits._
    val one = Recommender.recommend(spark, r, "tbl", c, "itemcoscf", Some(cat),
      Some(Seq(2L).toDF("userid"))).collect()
    one.map(_.getLong(0)).distinct.toSeq shouldBe Seq(2L)
    one.length shouldBe 4
  }

  test("recommendTopK point query: join-free pushed filter on the view, parity with compute") {
    import org.apache.spark.sql.functions._
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "pq", r, "tblpq", c, "itemcoscf", cat, models)
    // no view yet: the fallback computes, and is already the right top-k
    val computed = rows(Recommender.recommendTopK(spark, r, "tblpq", c,
      "itemcoscf", Some(cat), userId = 2L, k = 3))
    computed.map(_._1).distinct shouldBe Seq(2L)
    computed.length shouldBe 3
    val path = Recommender.materializeView(spark, "pq", r, cat,
      models + "/views") // complete: 16 rows
    val view = spark.read.parquet(path)
    ResidentTopK.load(view, cap = 16).isDefined shouldBe true
    ResidentTopK.load(view, cap = 15) shouldBe None
    // a row bound over the cap decides it without a load
    jobsRunBy(Recommender.residentTopK(spark, c, path, rowBound = 16,
      cap = 15) shouldBe None) shouldBe 0
    Recommender.residentLoaded(path) shouldBe false
    val served = Recommender.recommendTopK(spark, r, "tblpq", c, "itemcoscf",
      Some(cat), userId = 2L, k = 3)
    servedResident(served) shouldBe false
    // plan proof: over the cap, a `user = ?` filter pushed into the cached
    // view scan, not a join — the point query must never build a broadcast
    // exchange
    val plan = served.queryExecution.executedPlan
    plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    } shouldBe Nil
    plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        if s.predicates.exists(_.references.exists(_.name == "userid")) => s
    }.nonEmpty shouldBe true
    // identical rows, scores and order to the view's own scoring; the
    // one-user compute ranks the same, scores up to strategy drift
    rows(served) shouldBe viewStrategyTopK(r, "tblpq", cat, 2L, 3)
    sameRanking(rows(served), computed)
  }

  test("recommendTopK serves from a top-k view when k <= stored k; deeper k falls back") {
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "tk", r, "tbltk", c, "itemcoscf", cat, models)
    val computed3 = Recommender.recommendTopK(spark, r, "tbltk", c, "itemcoscf",
      Some(cat), userId = 2L, k = 3).collect()
      .toSeq.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    Recommender.materializeView(spark, "tk", r, cat, models + "/views",
      topK = Some(3))
    cat.get("tk").get.viewTopK shouldBe 3L
    cat.get("tk").get.viewComplete shouldBe false
    def viewScanned(df: org.apache.spark.sql.DataFrame): Boolean = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten.exists(_.contains(".view.v"))
    }
    // k at/below the stored cut: served from the view's resident index,
    // join-free, identical
    val served = Recommender.recommendTopK(spark, r, "tbltk", c, "itemcoscf",
      Some(cat), userId = 2L, k = 3)
    servedResident(served) shouldBe true
    served.queryExecution.executedPlan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    } shouldBe Nil
    val expected3 = viewStrategyTopK(r, "tbltk", cat, 2L, 3)
    rows(served) shouldBe expected3
    sameRanking(rows(served), computed3)
    val served2 = Recommender.recommendTopK(spark, r, "tbltk", c, "itemcoscf",
      Some(cat), userId = 2L, k = 2)
    servedResident(served2) shouldBe true
    rows(served2) shouldBe expected3.take(2)
    sameRanking(rows(served2), computed3.take(2))
    // k deeper than the stored cut: a 3-deep view cannot answer top-4 —
    // must fall back to compute (and be right)
    val deep = Recommender.recommendTopK(spark, r, "tbltk", c, "itemcoscf",
      Some(cat), userId = 2L, k = 4)
    viewScanned(deep) shouldBe false
    deep.collect().length shouldBe 4
    deep.collect().take(3).map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))) shouldBe
      computed3
    // R17 rebuild invalidates: back to the computed path for every k
    val evPath = java.nio.file.Files.createTempDirectory("graft-ev2").toString + "/ev"
    r.write.parquet(evPath)
    new IncrementalMaintainer(cat, evPath).processBatch("tk", r.limit(5)) shouldBe true
    cat.get("tk").get.viewTopK shouldBe -1L
    val rebuilt = Recommender.recommendTopK(spark, r, "tbltk", c, "itemcoscf",
      Some(cat), userId = 2L, k = 3)
    viewScanned(rebuilt) shouldBe false
    // the rebuild retrained on the grown events store, so scores may differ
    // from the pre-rebuild model — assert the computed path's shape only
    val rb = rebuilt.collect()
    rb.length shouldBe 3
    rb.map(_.getLong(0)).distinct.toSeq shouldBe Seq(2L)
  }

  test("resident index: every user's answer equals the cached-view filter and compute") {
    import org.apache.spark.sql.functions._
    val (cat, models) = freshDirs()
    val r = denser
    val viewK = 8
    Recommender.create(spark, "dx", r, "tbldx", c, "itemcoscf", cat, models)
    val path = Recommender.materializeView(spark, "dx", r, cat,
      models + "/views", topK = Some(viewK))
    val view = Recommender.servedView(spark, c, path)
    def ranked(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.orderBy(col("score").desc, col("itemid")).limit(k)
    // compute as the view was scored: every user at once, the view bypassed
    val all = Recommender.recommend(spark, r, "tbldx", c, "itemcoscf",
      Some(cat), serveFromView = false).cache()
    (1L to 24L).foreach { u =>
      val scored = rows(ranked(all.where(col("userid") === u), viewK))
      // compute for this one user alone
      val computed = rows(ranked(Recommender.recommend(spark, r, "tbldx", c,
        "itemcoscf", Some(cat), Some(Seq(u).toDF("userid")),
        serveFromView = false), viewK))
      computed.size shouldBe viewK
      Seq(1, 5, viewK).foreach { k =>
        val served = Recommender.recommendTopK(spark, r, "tbldx", c,
          "itemcoscf", Some(cat), userId = u, k = k)
        servedResident(served) shouldBe true
        val got = rows(served)
        withClue(s"user $u, k $k: ") {
          got shouldBe rows(ranked(view.where(col("userid") === u), k))
          got shouldBe scored.take(k)
          sameRanking(got, computed.take(k))
        }
      }
    }
    all.unpersist()
    // a user absent from the view: empty on every route
    val absent = Recommender.recommendTopK(spark, r, "tbldx", c, "itemcoscf",
      Some(cat), userId = 999L, k = 5)
    servedResident(absent) shouldBe true
    rows(absent) shouldBe Nil
    rows(view.where(col("userid") === 999L)) shouldBe Nil
    rows(Recommender.recommend(spark, r, "tbldx", c, "itemcoscf", Some(cat),
      Some(Seq(999L).toDF("userid")), serveFromView = false)) shouldBe Nil
  }

  test("resident path: recommendTopK collects with zero Spark jobs") {
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "zj", r, "tblzj", c, "itemcoscf", cat, models)
    // control: without a view the point query computes, with jobs
    jobsRunBy(Recommender.recommendTopK(spark, r, "tblzj", c, "itemcoscf",
      Some(cat), userId = 1L, k = 2).collect()) should be > 0
    Recommender.materializeView(spark, "zj", r, cat, models + "/views",
      topK = Some(2))
    // the first read of a view version loads its index
    Recommender.recommendTopK(spark, r, "tblzj", c, "itemcoscf", Some(cat),
      userId = 1L, k = 2).collect()
    jobsRunBy(Recommender.recommendTopK(spark, r, "tblzj", c, "itemcoscf",
      Some(cat), userId = 2L, k = 2).collect()) shouldBe 0
  }

  test("resident point read: a bare local relation of the view's rows, " +
      "zero jobs and one R18 bump per read") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val (cat, models) = freshDirs()
    val r = denser
    Recommender.create(spark, "pr", r, "tblpr", c, "itemcoscf", cat, models)
    val path = Recommender.materializeView(spark, "pr", r, cat,
      models + "/views", topK = Some(8))
    // the view's rows per user, ranked score desc, then item
    val ranked = rows(spark.read.parquet(path)).groupBy(_._1)
      .map { case (u, rs) => u -> rs.sortBy(x => (-x._3, x._2)) }
    def read(u: Long, k: Int) = Recommender.recommendTopK(spark, r, "tblpr", c,
      "itemcoscf", Some(cat), userId = u, k = k)
    def counter = cat.get("pr").get.queryCounter
    read(1L, 8).collect() // the first read of the view version loads its index
    ((1L to 24L) :+ 999L).foreach { u =>
      Seq(1, 5, 8).foreach { k =>
        withClue(s"user $u, k $k: ") {
          val before = counter
          var df: org.apache.spark.sql.DataFrame = null
          var got = Seq.empty[(Long, Long, Double)]
          jobsRunBy { df = read(u, k); got = rows(df) } shouldBe 0
          counter shouldBe before + 1
          got shouldBe ranked.getOrElse(u, Nil).take(k)
          if (u <= 24L) got.length shouldBe k
          df.schema shouldBe StructType(Seq(StructField("userid", LongType),
            StructField("itemid", LongType), StructField("score", DoubleType)))
          df.queryExecution.analyzed shouldBe a[LocalRelation]
          df.queryExecution.optimizedPlan shouldBe a[LocalRelation]
        }
      }
    }
  }

  test("resident index is dropped on re-materialization, DROP and R17 rebuild") {
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "rd", r, "tblrd", c, "itemcoscf", cat, models)
    def read() = Recommender.recommendTopK(spark, r, "tblrd", c, "itemcoscf",
      Some(cat), userId = 2L, k = 2)
    val v1 = Recommender.materializeView(spark, "rd", r, cat,
      models + "/views", topK = Some(2))
    val before = read()
    Recommender.residentLoaded(v1) shouldBe true
    val expected = rows(before)
    // re-materialization drops the old version's entry; a frame obtained
    // before the swap still collects
    val v2 = Recommender.materializeView(spark, "rd", r, cat,
      models + "/views", topK = Some(2))
    Recommender.residentLoaded(v1) shouldBe false
    rows(before) shouldBe expected
    rows(read()) shouldBe expected
    Recommender.residentLoaded(v2) shouldBe true
    // the R17 rebuild drops it
    val evPath = Files.createTempDirectory("graft-ev-rd").toString + "/ev"
    r.write.parquet(evPath)
    new IncrementalMaintainer(cat, evPath).processBatch("rd", r.limit(5)) shouldBe true
    Recommender.residentLoaded(v2) shouldBe false
    servedResident(read()) shouldBe false
    // DROP drops it
    val v3 = Recommender.materializeView(spark, "rd", r, cat,
      models + "/views", topK = Some(2))
    servedResident(read()) shouldBe true
    Recommender.residentLoaded(v3) shouldBe true
    Recommender.drop("rd", cat) shouldBe true
    Recommender.residentLoaded(v3) shouldBe false
    // a reader that resolved v3 before the DROP makes no entry for it
    Recommender.residentTopK(spark, c, v3) shouldBe None
    an[Exception] should be thrownBy Recommender.servedView(spark, c, v3)
    Recommender.servedViewCached(v3) shouldBe false
  }

  test("catalog: a query-counter bump never tears or reverts a concurrent entry write") {
    val (cat, models) = freshDirs()
    val e = Recommender.create(spark, "cc", ratings, "tblcc", c, "itemcoscf",
      cat, models)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // a point reader's R18 bumps, as fast as they go
    val reader = new Thread(() =>
      try while (!stop.get()) cat.update("cc")(x =>
        x.copy(queryCounter = x.queryCounter + 1))
      catch { case t: Throwable => errors.add(t); () })
    reader.start()
    try (1L to 200L).foreach { v =>
      // a writer's commit (as materializeView's) is never undone by a bump
      cat.put(cat.get("cc").get.copy(viewVersion = v))
      cat.get("cc").get.viewVersion shouldBe v
    } finally { stop.set(true); reader.join() }
    errors.isEmpty shouldBe true
    cat.list().map(_.name) shouldBe Seq("cc") // no temp file shows as an entry
    cat.get("cc").get.modelPaths shouldBe e.modelPaths
  }

  test("servedViews is a true LRU: one cold entry evicted, hot entries stay cached") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-lru").toString
    val paths = (0 until Recommender.ServedViewBound + 1).map { i =>
      val p = s"$base/r$i.view.v1.parquet"
      Seq((i.toLong, 1L, 0.5)).toDF("userid", "itemid", "score")
        .coalesce(1).write.parquet(p)
      p
    }
    try {
      // fill the cache to the bound; every entry cached
      paths.dropRight(1).foreach(p => Recommender.servedView(spark, c, p).count())
      paths.dropRight(1).foreach(p =>
        Recommender.servedViewCached(p) shouldBe true)
      // touch entry 0 so entry 1 becomes the LRU victim
      Recommender.servedView(spark, c, paths.head).count()
      // admit the (bound+1)-th view: exactly ONE eviction, the cold entry 1
      Recommender.servedView(spark, c, paths.last).count()
      Recommender.servedViewCached(paths(1)) shouldBe false
      Recommender.servedViewCached(paths.head) shouldBe true
      Recommender.servedViewCached(paths.last) shouldBe true
      (2 until Recommender.ServedViewBound).foreach(i =>
        Recommender.servedViewCached(paths(i)) shouldBe true)
      Recommender.servedViewCount shouldBe Recommender.ServedViewBound
    } finally paths.foreach(Recommender.invalidateServedView)
  }

  test("materializeView keeps one previous version for in-flight readers, reaps older") {
    val (cat, models) = freshDirs()
    val r = ratings
    Recommender.create(spark, "gv", r, "tblgv", c, "itemcoscf", cat, models)
    val v1 = Recommender.materializeView(spark, "gv", r, cat, models + "/views")
    // a reader obtained BEFORE the swap must drain safely after it
    val inFlight = spark.read.parquet(v1)
    val v2 = Recommender.materializeView(spark, "gv", r, cat, models + "/views")
    new java.io.File(v1).exists() shouldBe true // one-version grace
    inFlight.count() shouldBe 16 // drains from the still-present v1
    val v3 = Recommender.materializeView(spark, "gv", r, cat, models + "/views")
    new java.io.File(v1).exists() shouldBe false // reaped at N+1
    new java.io.File(v2).exists() shouldBe true
    new java.io.File(v3).exists() shouldBe true
    Recommender.drop("gv", cat) shouldBe true // drop reaps every version
    new java.io.File(v2).exists() shouldBe false
    new java.io.File(v3).exists() shouldBe false
  }

  test("NBRHOOD knob: create persists the kNN-sparsified model, catalog records it, rebuild re-applies") {
    val (cat, models) = freshDirs()
    val e = Recommender.create(spark, "nb", ratings, "tbl", c, "usercoscf",
      cat, models, neighborhood = 1)
    e.neighborhood shouldBe 1L
    cat.get("nb").get.neighborhood shouldBe 1L // catalog round-trip
    val persisted = spark.read.parquet(e.modelPaths.head)
    val expected = Similarity.capNeighbors(
      Similarity.userCosine(ratings, c), "user1", "user2", 1)
    persisted.collect().toSet shouldBe expected.collect().toSet
    persisted.count() should be < Similarity.userCosine(ratings, c).count()
    // scoring flows through the sparsified model on the catalog-hit path
    Recommender.recommendTopK(spark, ratings, "tbl", c, "usercoscf",
      Some(cat), userId = 1L, k = 2).count() should be > 0L
    // neighborhood=0 (reference default) stays unbounded
    val e0 = Recommender.create(spark, "nb0", ratings, "tbl0", c, "usercoscf",
      cat, models)
    spark.read.parquet(e0.modelPaths.head).count() shouldBe
      Similarity.userCosine(ratings, c).count()
  }

  /** `df` written as parquet and read back: events as a table serves them. */
  def parquetEvents(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = Files.createTempDirectory("graft-ev-p").toString + "/ev"
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  test("job budget: CREATE, a top-k materialization and the first resident load") {
    val (cat, models) = freshDirs()
    // the denser fixture takes the dense build and dense scoring, as the
    // serving benchmark's corpus does
    val r = parquetEvents(denser)
    // CREATE: the corpus-stats aggregation (3), the build kernel's collect
    // (2) and the model write (1); the view: the scoring kernel's collect
    // (2), its user shuffle (1) and the write (1)
    jobsRunBy(Recommender.create(spark, "jb", r, "tbljb", c, "itemcoscf",
      cat, models)) should be <= 6
    jobsRunBy(Recommender.materializeView(spark, "jb", r, cat,
      models + "/views", topK = Some(3))) should be <= 4
    jobsRunBy(Recommender.recommendTopK(spark, r, "tbljb", c, "itemcoscf",
      Some(cat), userId = 1L, k = 2).collect()) shouldBe 1
  }

  test("dense build: one pass over the events (rows read == event count)") {
    val r = parquetEvents(denser)
    val events = r.count()
    Seq("itemcoscf", "itempearcf", "usercoscf", "userpearcf").foreach { m =>
      val (rows, t) = graft.Trace.run(spark.sparkContext)(
        Similarity.model(RecMethod.parse(m), r, c, "dense").collect())
      withClue(s"$m: ") {
        rows.length should be > 0
        t.rowsRead shouldBe events
      }
    }
  }

  test("identical on-the-fly queries share one cached dense-built model and its strategy picks") {
    Similarity.clearStrategyCache()
    val r = parquetEvents(denser)
    def query() = graft.Trace.run(spark.sparkContext)(
      rows(Recommender.recommend(spark, r, "tblfly", c, "itemcoscf")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (first, t1) = query()
    val cached = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    cached.size shouldBe 1
    val memos = (Similarity.strategyMemo.size, Similarity.statsMemo.size)
    val (second, t2) = query()
    second shouldBe first
    // the second query's model is the first one's cache entry, and the
    // scoring pick is answered by the memo: no stats jobs, no new entry
    spark.sparkContext.getPersistentRDDs.keySet.diff(before) shouldBe cached
    (Similarity.strategyMemo.size, Similarity.statsMemo.size) shouldBe memos
    t2.jobs should be < t1.jobs
    Similarity.model(RecMethod.ItemCosCF, r, c).queryExecution.analyzed.toString should
      include("dense_kernel")
    cached.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
  }

  test("CREATE of a dense-built model leaves no cached frame behind") {
    val (cat, models) = freshDirs()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Recommender.create(spark, "nc", denser, "tblnc", c, "itemcoscf", cat, models)
    Recommender.create(spark, "ncp", denser, "tblnc", c, "userpearcf", cat, models)
    spark.sparkContext.getPersistentRDDs.keySet.diff(before) shouldBe empty
  }

  test("catalog modelRows is the persisted model's row count, every CF method") {
    val (cat, models) = freshDirs()
    val single = Seq((1L, 1L, 5.0)).toDF("userid", "itemid", "rating")
    for {
      (fx, r) <- Seq("denser" -> denser, "micro" -> ratings, "single" -> single)
      m <- Seq("itemcoscf", "itempearcf", "usercoscf", "userpearcf")
      nbr <- Seq(0, 2)
    } {
      val e = Recommender.create(spark, s"mr_${fx}_${m}_$nbr", r,
        s"tbl_$fx$nbr", c, m, cat, models, neighborhood = nbr)
      withClue(s"$fx $m nbr=$nbr: ") {
        e.modelRows shouldBe spark.read.parquet(e.modelPaths.head).count()
        cat.get(e.name).get.modelRows shouldBe e.modelRows
      }
    }
  }

  test("R17 rebuild records what a fresh CREATE on the same events records") {
    import org.apache.spark.sql.functions.col
    Seq("itemcoscf", "userpearcf", "svd").foreach { m =>
      val (cat, models) = freshDirs()
      val evPath = Files.createTempDirectory("graft-ev-rb").toString + "/ev"
      denser.where(col("userid") <= 8).write.parquet(evPath)
      Recommender.create(spark, "rb", spark.read.parquet(evPath), "tblrb", c,
        m, cat, models, neighborhood = 3)
      new IncrementalMaintainer(cat, evPath).processBatch("rb",
        denser.where(col("userid") > 8)) shouldBe true
      val rebuilt = cat.get("rb").get
      val (cat2, models2) = freshDirs()
      val fresh = Recommender.create(spark, "rb", spark.read.parquet(evPath),
        "tblrb", c, m, cat2, models2, neighborhood = 3)
      withClue(s"$m: ") {
        rebuilt.copy(modelPaths = Nil) shouldBe fresh.copy(modelPaths = Nil)
        rebuilt.eventTotal shouldBe denser.count()
        if (m != "svd") spark.read.parquet(rebuilt.modelPaths.head).collect()
          .toSet shouldBe spark.read.parquet(fresh.modelPaths.head).collect().toSet
      }
    }
  }

  test("svd: rank-50 factors, all-pairs scores, reconstructs known ratings sanely") {
    val (cat, models) = freshDirs()
    val e = Recommender.create(spark, "s1", ratings, "tbl", c, "SVD", cat, models)
    e.modelPaths.size shouldBe 2
    val uf = spark.read.parquet(e.modelPaths.head)
    uf.select("features").head().getSeq[Float](0).size shouldBe FunkSVD.Rank
    val scores = Recommender.recommend(spark, ratings, "tbl", c, "svd", Some(cat))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    scores.size shouldBe 16
    // metric gate: for u1 the reconstruction should rank rated-high i1 (5.0)
    // above rated-low-by-similar-users items; loose sanity, not bitwise
    assert(scores((1L, 1L)) > 0.5)
  }
}
