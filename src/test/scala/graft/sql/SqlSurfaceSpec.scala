package graft.sql

import graft.SparkSpec
import graft.recdb.{EventCols, MicroFixtureSpec, Recommender, Scoring, Similarity}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

/** The RECOMMEND / CREATE RECOMMENDER / DROP RECOMMENDER SQL surface through
  * an extension-enabled session — the regression script's shapes
  * (recdb_regression_test.sql:5-42) against the micro fixture.
  */
class SqlSurfaceSpec extends SparkSpec with BeforeAndAfterAll {

  lazy val ext: SparkSession = {
    SparkSpec.session // ensure the SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val base = Files.createTempDirectory("graft-sql").toString
    // `.config("spark.sql.extensions", ...)` is a static conf and only takes
    // effect on a fresh SparkContext; withExtensions is the programmatic
    // route that composes with an existing context (e.g. this shared one).
    val s = SparkSession.builder()
      .withExtensions(e => new GraftSqlExtensions()(e))
      .config(GraftSql.CatalogDirKey, s"$base/catalog")
      .config(GraftSql.ModelsDirKey, s"$base/models")
      .getOrCreate()
    s
  }

  override def afterAll(): Unit = {
    SparkSession.setDefaultSession(SparkSpec.session)
    SparkSession.setActiveSession(SparkSpec.session)
    super.afterAll()
  }

  def fixture(s: SparkSession): Unit = {
    val sq = s
    import sq.implicits._
    new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
      .withColumn("other", org.apache.spark.sql.functions.lit(9.9))
      .createOrReplaceTempView("ml_ratings")
    // dimension table for the regression file's join form
    Seq((1L, "Alpha", "drama"), (2L, "Beta", "action"), (3L, "Gamma", "drama"),
      (4L, "Delta", "comedy"))
      .toDF("itemid", "name", "genre").createOrReplaceTempView("ml_items")
  }

  test("RECOMMEND clause: on-the-fly scoring, synthesized-tuple quirks, top-k") {
    fixture(ext)
    val out = ext.sql(
      """SELECT * FROM ml_ratings RECOMMEND itemid TO userid ON rating
        |USING itemCosCF WHERE userid = 1 ORDER BY rating DESC LIMIT 2""".stripMargin)
    val rows = out.collect()
    rows.length shouldBe 2
    out.columns.toSeq shouldBe Seq("userid", "itemid", "rating", "other")
    rows.foreach { r =>
      r.getLong(0) shouldBe 1L
      r.getDouble(3) shouldBe 0.0 // non-RECOMMEND columns read 0 (§2.3 #2)
    }
    // scores agree with the API path
    val c = EventCols("userid", "itemid", "rating")
    val ratings = new MicroFixtureSpec {}.fixture
      .map(t => (t._1, t._2, t._3))
    val sq = ext
    import sq.implicits._
    val rdf = ratings.toDF("userid", "itemid", "rating")
    val api = Scoring.itemCF(rdf, Similarity.itemCosine(rdf, c), c)
      .where($"userid" === 1).orderBy($"score".desc).limit(2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq shouldBe api.toSeq
  }

  test("CREATE/DROP RECOMMENDER statements drive the catalog") {
    fixture(ext)
    ext.sql("""CREATE RECOMMENDER rec1 ON ml_ratings USERS FROM userid
              |ITEMS FROM itemid EVENTS FROM rating USING itemCosCF""".stripMargin)
      .collect()
    GraftSql.catalog(ext).get("rec1").map(_.eventTotal) shouldBe Some(10L)
    // materialized path now serves the same query — and returns ONLY the
    // three clause columns (README.md:110, SURVEY.md §2.3 #3)
    val matDf = ext.sql(
      """SELECT * FROM ml_ratings RECOMMEND itemid TO userid ON rating
        |USING itemCosCF WHERE userid = 2""".stripMargin)
    matDf.columns.toSeq shouldBe Seq("userid", "itemid", "rating")
    val out = matDf.collect()
    out.length shouldBe 4 // all items for user 2
    GraftSql.catalog(ext).get("rec1").map(_.queryCounter) shouldBe Some(1L)
    ext.sql("DROP RECOMMENDER rec1").collect()
    GraftSql.catalog(ext).get("rec1") shouldBe None
    an[Exception] should be thrownBy ext.sql("DROP RECOMMENDER rec1").collect()
  }

  test("legacy Recathon workload syntax: FROM <rec> RECOMMEND(k) userid = r") {
    fixture(ext)
    ext.sql("""CREATE RECOMMENDER rec_legacy ON ml_ratings USERS FROM userid
              |ITEMS FROM itemid EVENTS FROM rating USING itemCosCF""".stripMargin)
      .collect()
    try {
      // the reference's rec_workload.c query shape, verbatim
      def legacy() =
        ext.sql("SELECT itemid, rating FROM rec_legacy RECOMMEND(3) userid = 2")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      val out = pairs(legacy())
      out.length shouldBe 3
      // equivalent modern-clause top-3 for the same user: same ids, scores
      // and order
      val expected = pairs(ext.sql(
        """SELECT itemid, rating FROM ml_ratings RECOMMEND itemid TO userid
          |ON rating USING itemCosCF WHERE userid = 2
          |ORDER BY rating DESC, itemid LIMIT 3""".stripMargin))
      out shouldBe expected
      // with a top-3 view the form is served from the view's resident
      // index: exactly the view's ranked rows for the user; against the
      // one-user compute, the same ids in the same order, scores up to the
      // last-bit drift between the view's all-users scoring strategy and
      // the one-user one
      Recommender.materializeView(ext, "rec_legacy", ext.table("ml_ratings"),
        GraftSql.catalog(ext), GraftSql.modelsDir(ext) + "/views", Some(3))
      val served = legacy()
      served.queryExecution.executedPlan
        .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec] shouldBe true
      val got = pairs(served)
      import org.apache.spark.sql.functions.col
      got shouldBe pairs(Recommender.recommendFromView(ext, "rec_legacy",
          GraftSql.catalog(ext)).get.where(col("userid") === 2)
        .orderBy(col("score").desc, col("itemid")).select("itemid", "score"))
      got.map(_._1) shouldBe expected.map(_._1)
      got.zip(expected).foreach { case (g, e) => g._2 shouldBe e._2 +- 1e-12 }
      // unknown recommender name fails like the reference
      an[Exception] should be thrownBy
        ext.sql("SELECT itemid FROM nope_rec RECOMMEND(3) userid = 2").collect()
    } finally ext.sql("DROP RECOMMENDER rec_legacy").collect()
  }

  test("legacy RECOMMEND(k) over a top-k view collects with zero Spark jobs") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val sq = ext
    import sq.implicits._
    // 24 users x 10 items, each user rating 7-8 of them: every user has 10
    // predictions, so a top-8 view cuts each one's ranking
    (for { u <- 1L to 24L; i <- 1L to 10L if (u * 7 + i * 3) % 4 != 0 }
      yield (u, i, (1 + (u * i) % 5).toDouble))
      .toDF("userid", "itemid", "rating").createOrReplaceTempView("ml_denser")
    ext.sql("""CREATE RECOMMENDER rec_resident ON ml_denser USERS FROM userid
              |ITEMS FROM itemid EVENTS FROM rating USING itemCosCF""".stripMargin)
      .collect()
    try {
      val cat = GraftSql.catalog(ext)
      Recommender.materializeView(ext, "rec_resident", ext.table("ml_denser"),
        cat, GraftSql.modelsDir(ext) + "/views", Some(8))
      // the view's rows per user, ranked score desc, then item
      val ranked = Recommender.recommendFromView(ext, "rec_resident", cat).get
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (u, rs) =>
          u -> rs.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3))
        }
      def read(u: Long, k: Int) =
        ext.sql(s"SELECT itemid, rating FROM rec_resident RECOMMEND($k) userid = $u")
      def counter = cat.get("rec_resident").get.queryCounter
      read(1, 8).collect() // the first read of the view version loads its index
      ((1L to 24L) :+ 999L).foreach { u =>
        Seq(1, 5, 8).foreach { k =>
          withClue(s"user $u, k $k: ") {
            val before = counter
            var df: org.apache.spark.sql.DataFrame = null
            var got = Seq.empty[(Long, Double)]
            jobsRunBy {
              df = read(u, k)
              got = df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
            } shouldBe 0
            counter shouldBe before + 1
            got shouldBe ranked.getOrElse(u, Nil).take(k)
            if (u <= 24L) got.length shouldBe k
            df.schema shouldBe StructType(Seq(StructField("itemid", LongType),
              StructField("rating", DoubleType)))
            // the index's rows spliced in as they are: the statement's own
            // projection over one local relation, folded into it by the
            // optimizer
            df.queryExecution.analyzed match {
              case Project(_, _: LocalRelation) => ()
              case other => fail(s"not a Project over a LocalRelation:\n$other")
            }
            df.queryExecution.optimizedPlan shouldBe a[LocalRelation]
          }
        }
      }
      // SELECT * shows the recommender's three clause columns
      ext.sql("SELECT * FROM rec_resident RECOMMEND(2) userid = 3").schema shouldBe
        StructType(Seq(StructField("userid", LongType),
          StructField("itemid", LongType), StructField("rating", DoubleType)))
    } finally ext.sql("DROP RECOMMENDER rec_resident").collect()
  }

  test("placeholder registry: two specs with equal hashes keep their own " +
      "placeholders") {
    import GraftSql.LegacyRecSpec
    // a Long hashes as its low word XOR its high word, so user ids past
    // 2^32 repeat the hashes of small ones: the first such id whose spec
    // hashes as user 1's does
    val a = LegacyRecSpec("rec", 10, "userid", 1L)
    val u = Iterator.iterate(1L << 32)(_ + 1)
      .find(x => LegacyRecSpec("rec", 10, "userid", x).hashCode == a.hashCode)
      .get
    val b = LegacyRecSpec("rec", 10, "userid", u)
    a.hashCode shouldBe b.hashCode
    val na = GraftSql.registerSpec(a)
    val nb = GraftSql.registerSpec(b)
    na should not be nb
    GraftSql.lookupSpec(na) shouldBe Some(a)
    GraftSql.lookupSpec(nb) shouldBe Some(b)
    // re-issuing a statement reuses its slot
    GraftSql.registerSpec(b) shouldBe nb
    GraftSql.registerSpec(a) shouldBe na
    // and each rewritten statement names its own spec
    def placeholder(user: Long) = GraftSql.rewriteLegacyRecommend(ext,
      s"SELECT itemid FROM rec RECOMMEND(10) userid = $user").get._2
    GraftSql.lookupSpec(placeholder(1L)) shouldBe Some(a)
    GraftSql.lookupSpec(placeholder(u)) shouldBe Some(b)
  }

  test("user-qual pre-filter: mixed WHERE prunes users yet keeps full filter") {
    fixture(ext)
    // userid = 2 is extractable (user-only); rating > 1.2 must still apply on
    // top of the scored view (the reference's noFilter path, §2.3 #7/#8)
    val out = ext.sql(
      """SELECT userid, itemid, rating FROM ml_ratings
        |RECOMMEND itemid TO userid ON rating USING itemCosCF
        |WHERE userid = 2 AND rating > 1.2""".stripMargin).collect()
    out.foreach { r =>
      r.getLong(0) shouldBe 2L
      r.getDouble(2) should be > 1.2
    }
    // parity with unpruned computation + post-filter
    val sq = ext
    import sq.implicits._
    val rdf = new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
    val c = EventCols("userid", "itemid", "rating")
    val full = Scoring.itemCF(rdf, Similarity.itemCosine(rdf, c), c)
      .where($"userid" === 2 && $"score" > 1.2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val got = out.map(r => (r.getLong(1), r.getDouble(2))).toMap
    got.keySet shouldBe full.keySet
    got.foreach { case (k, v) => v shouldBe full(k) +- 1e-9 } // ULP-order drift
    // and the extraction itself finds the user-only conjunct, with a
    // job-free single-user estimate from the equality shape
    val (q, est) = GraftSql.userQual(ext,
      "userid = 2 AND rating > 1.2", "userid", Set.empty)
    q.isDefined shouldBe true
    est shouldBe Some(1L)
  }

  test("native expressions are callable as SQL functions") {
    val sq = ext
    import sq.implicits._
    Seq((1L, "a b c a b c"), (2L, "x y")).toDF("id", "text")
      .createOrReplaceTempView("fn_docs")
    val r = ext.sql(
      """SELECT id, size(graft_word_shingles(text, 2)) AS n2,
        |  graft_simhash60(text) AS sh,
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot
        |FROM fn_docs ORDER BY id""".stripMargin).collect()
    r(0).getInt(1) shouldBe 3 // distinct bigrams of "a b c a b c": ab, bc, ca
    r(1).getInt(1) shouldBe 1 // "x y" -> one bigram
    r(0).getLong(2) should not be 0L
    r(0).getDouble(3) shouldBe 11.0
    val dense = ext.sql(
      """SELECT graft_dense_from_entries(
        |  array(struct(1, 5.0d), struct(3, 7.0d)), 5) AS v""".stripMargin)
      .head().getSeq[Double](0)
    dense shouldBe Seq(0.0, 5.0, 0.0, 7.0, 0.0)
  }

  test("Column-composed pipeline operators are callable as SQL functions") {
    val sq = ext
    import sq.implicits._
    Seq((1L, "the data of this table is a clean value with many words here now",
        "<p>a &amp; b</p>",
        "mail me at a@b.com or call 12345678901"))
      .toDF("id", "text", "html", "pii")
      .createOrReplaceTempView("pipe_docs")
    val r = ext.sql(
      """SELECT graft_quality(text) AS q, graft_langid(text) AS lang,
        |  graft_fingerprint(text) AS fp,
        |  graft_extract_html(html) AS ex,
        |  graft_redact(pii) AS red,
        |  graft_normalize('  a   b ') AS norm
        |FROM pipe_docs""".stripMargin).head()
    r.getDouble(0) should be >= 0.5
    r.getString(1) shouldBe "en"
    r.getLong(2) should not be 0L
    r.getString(3) shouldBe "a & b"
    r.getString(4) should not include "a@b.com"
    r.getString(4) should not include "12345678901"
    r.getString(5) shouldBe "a b"
  }

  test("non-RECOMMEND SQL is untouched by the injected parser") {
    fixture(ext)
    ext.sql("SELECT count(*) AS n FROM ml_ratings").head().getLong(0) shouldBe 10L
  }

  test("join/alias form: the regression file's Miscellaneous queries run verbatim") {
    fixture(ext)
    // recdb_regression_test.sql:39 (adapted only in table contents): aliased
    // FROM list, alias-qualified clause columns, dimension join + ILIKE
    val out = ext.sql(
      """SELECT r.itemid,r.rating,i.name,i.genre FROM ml_ratings r, ml_items i
        |RECOMMEND r.itemid TO r.userid ON r.rating USING itemcoscf
        |WHERE r.userid = 1 AND r.itemid = i.itemid AND i.genre ILIKE '%drama%'"""
        .stripMargin).collect()
    out.map(_.getString(3)).distinct.toSeq shouldBe Seq("drama")
    out.map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L) // drama items
    // recdb_regression_test.sql:41: same with ORDER BY/LIMIT on top
    val top = ext.sql(
      """SELECT r.itemid,r.rating,i.name,i.genre FROM ml_ratings r, ml_items i
        |RECOMMEND r.itemid TO r.userid ON r.rating USING itemcoscf
        |WHERE r.userid = 1 AND r.itemid = i.itemid AND i.genre ILIKE '%action%'
        |ORDER BY rating DESC LIMIT 5""".stripMargin).collect()
    top.map(_.getString(3)).distinct.toSeq shouldBe Seq("action")
    // scores agree with the API path composed the same way
    val sq = ext
    import sq.implicits._
    val rdf = new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
    val c = EventCols("userid", "itemid", "rating")
    val api = Scoring.itemCF(rdf, Similarity.itemCosine(rdf, c), c)
      .where($"userid" === 1 && $"itemid".isin(1L, 3L))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    out.map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe api
  }

  test("example-script shape: three-table join (item + user dims), ILIKE, ORDER BY LIMIT") {
    // the reference distribution's flagship usage
    // (examples/MoiveLens/script.py: ratings r, moive i, users b RECOMMEND
    // ... ILIKE ... ORDER BY rating DESC LIMIT n) — shape preserved
    // verbatim over this fixture's tables
    fixture(ext)
    val sq = ext
    import sq.implicits._
    Seq((1L, "Ann", 34L), (2L, "Bob", 28L), (3L, "Cal", 41L))
      .toDF("userid", "uname", "age").createOrReplaceTempView("ml_users")
    val out = ext.sql(
      """SELECT r.itemid, i.name, i.genre, r.rating, r.userid, b.age
        |FROM ml_ratings r, ml_items i, ml_users b
        |RECOMMEND r.itemid TO r.userid ON r.rating USING itemcoscf
        |WHERE r.userid = 1 AND r.userid = b.userid AND r.itemid = i.itemid
        |  AND i.genre ILIKE '%drama%'
        |ORDER BY rating DESC LIMIT 10""".stripMargin).collect()
    out should not be empty
    out.foreach { r =>
      r.getLong(4) shouldBe 1L // user qual
      r.getLong(5) shouldBe 34L // user-dim join row
      r.getString(2) shouldBe "drama" // item-dim ILIKE
    }
    // descending by predicted rating
    val scores = out.map(_.getDouble(3)).toSeq
    scores shouldBe scores.sorted.reverse
    // scores agree with the API path composed the same way
    val rdf = new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
    val c = EventCols("userid", "itemid", "rating")
    val api = Scoring.itemCF(rdf, Similarity.itemCosine(rdf, c), c)
      .where($"userid" === 1 && $"itemid".isin(1L, 3L))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    out.map(r => r.getLong(0) -> r.getDouble(3)).toMap shouldBe api
  }

  test("RECOMMEND parse is pure: no temp views, no catalog bumps at parse") {
    fixture(ext)
    ext.sql("""CREATE RECOMMENDER rec_pure ON ml_ratings USERS FROM userid
              |ITEMS FROM itemid EVENTS FROM rating USING itemCosCF""".stripMargin)
      .collect()
    val viewsBefore = ext.catalog.listTables().collect().map(_.name).toSet
    // parsePlan directly — plan construction must not register views
    ext.sessionState.sqlParser.parsePlan(
      """SELECT * FROM ml_ratings RECOMMEND itemid TO userid ON rating
        |USING itemCosCF WHERE userid = 2""".stripMargin)
    val viewsAfter = ext.catalog.listTables().collect().map(_.name).toSet
    viewsAfter shouldBe viewsBefore
    ext.sql("DROP RECOMMENDER rec_pure").collect()
  }

  test("EXPLAIN of a materialized RECOMMEND query runs zero Spark jobs") {
    fixture(ext)
    ext.sql("""CREATE RECOMMENDER rec_explain ON ml_ratings USERS FROM userid
              |ITEMS FROM itemid EVENTS FROM rating USING itemCosCF""".stripMargin)
      .collect()
    try {
      jobsRunBy(ext.sql(
        """EXPLAIN EXTENDED SELECT * FROM ml_ratings
          |RECOMMEND itemid TO userid ON rating USING itemCosCF
          |WHERE userid = 2 ORDER BY rating DESC LIMIT 3""".stripMargin)
        .collect()) shouldBe 0
    } finally {
      ext.sql("DROP RECOMMENDER rec_explain").collect()
    }
  }

  test("forbidden clauses are rejected with the reference's errors") {
    fixture(ext)
    def err(sql: String): String =
      intercept[Exception](ext.sql(sql).collect()).getMessage
    val base = "FROM ml_ratings RECOMMEND itemid TO userid ON rating USING itemcoscf"
    err(s"SELECT DISTINCT itemid $base WHERE userid = 1") should
      include("not allowed with DISTINCT clause")
    err(s"SELECT userid, max(rating) $base GROUP BY userid") should
      include("not allowed with GROUP BY clause")
    err(s"SELECT userid, max(rating) $base GROUP BY userid HAVING max(rating) > 1") should
      include("not allowed with")
    err(s"WITH x AS (SELECT 1 AS one) SELECT itemid $base WHERE userid = 1") should
      include("not allowed with WITH clause")
    err("SELECT rank() OVER w AS r FROM ml_ratings RECOMMEND itemid TO userid " +
      "ON rating USING itemcoscf WINDOW w AS (ORDER BY rating)") should
      include("not allowed with WINDOW clause")
    // parse_rec.c:130-133 / :147-150 — clauses Spark SQL cannot even parse
    // still get the REFERENCE's messages, not a generic parser error
    err(s"SELECT itemid INTO newtbl $base WHERE userid = 1") should
      include("not allowed with INTO clause")
    err(s"SELECT itemid $base WHERE userid = 1 FOR UPDATE") should
      include("not allowed with FOR clause")
    err(s"SELECT itemid $base WHERE userid = 1 FOR SHARE") should
      include("not allowed with FOR clause")
    // a column merely NAMED into/for must not trip the text check
    ext.sql(s"SELECT itemid AS into_col $base WHERE userid = 1")
      .collect().length should be > 0
  }

  test("RECOMMEND inside a string literal does not trigger the clause") {
    fixture(ext)
    val out = ext.sql(
      """SELECT 'FROM t RECOMMEND a TO b ON c USING d' AS s,
        |count(*) AS n FROM ml_ratings GROUP BY 1""".stripMargin).collect()
    out.length shouldBe 1
    out.head.getLong(1) shouldBe 10L
  }

  test("unqualified clause columns with a multi-table FROM probe schemas") {
    fixture(ext)
    val sq = ext
    import sq.implicits._
    // a dimension table with NO overlapping column names, so the bare clause
    // columns stay unambiguous after the splice (Spark resolution); the
    // PROBE still has to pick ml_ratings as the events table
    Seq((1L, "drama"), (2L, "action"), (3L, "drama"), (4L, "comedy"))
      .toDF("gid", "g").createOrReplaceTempView("genre_dim")
    val out = ext.sql(
      """SELECT itemid, rating, g FROM ml_ratings, genre_dim d
        |RECOMMEND itemid TO userid ON rating USING itemcoscf
        |WHERE userid = 1 AND itemid = d.gid""".stripMargin)
    out.collect().length shouldBe 4
    // mismatched qualifiers error like the reference
    val e = intercept[Exception](ext.sql(
      """SELECT * FROM ml_ratings r, ml_items i
        |RECOMMEND r.itemid TO i.userid ON r.rating USING itemcoscf"""
        .stripMargin))
    e.getMessage should include("matching table references")
  }

  test("native text functions are injected into the extension session") {
    val row = ext.sql(
      "SELECT graft_fold_accents(graft_nfc('café')) AS f, " +
        "size(graft_char_shingles('abcdef', 5)) AS n, " +
        "round(graft_char_entropy('aabb'), 6) AS e").head()
    row.getString(0) shouldBe "cafe"
    row.getInt(1) shouldBe 2
    row.getDouble(2) shouldBe 1.0
  }

  test("CURATE statement: the composed pipeline as one SQL statement") {
    val sq = ext
    import sq.implicits._
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "omega",
      "sigma")
    def sentence(seed: Int): String = {
      // per-doc RNG: docs share words but almost never 30-char runs, so
      // span removal trims noise instead of erasing the corpus
      val rnd = new scala.util.Random(seed)
      ("the" +: (0 until 29).map(_ => words(rnd.nextInt(words.length))))
        .mkString(" ")
    }
    val docsDf = (0L until 40L).map(i => (i, sentence(i.toInt)))
      .toDF("doc_id", "text")
    docsDf.createOrReplaceTempView("curate_docs")
    val viaSql = ext.sql(
      "CURATE curate_docs ID doc_id TEXT text WIDTH 30 PPL 9.0 BUDGET 400")
    viaSql.columns.toSeq shouldBe Seq("doc_id", "n_tok", "avg_nll", "cum_tok")
    val direct = graft.ops.Corpus.curate(docsDf, "doc_id", "text", 30, 9.0, 400L)
    viaSql.collect().toSet shouldBe direct.collect().toSet
    viaSql.count() should be > 0L
    // omitted knobs take the documented defaults
    val defaults = ext.sql("CURATE curate_docs ID doc_id TEXT text")
    val explicit = ext.sql(
      "CURATE curate_docs ID doc_id TEXT text WIDTH 30 PPL 3.43 BUDGET 6000")
    defaults.collect().toSet shouldBe explicit.collect().toSet
  }

  // ------------------------- maintained-state reads / SQL time travel

  test("GRAFT_SHARDS: live and VERSION AS OF reads equal the API; the " +
      "sealed compaction floor surfaces through SQL") {
    val sq = ext
    import sq.implicits._
    val dir = Files.createTempDirectory("sqlsh").toString
    val rows = Seq((0L, "1:2", 2L), (1L, "3:4", 2L), (2L, "5:6", 2L),
      (3L, "7:8", 2L)).toDF("seq_id", "ids_str", "n_tok")
    graft.streaming.ShardMaintainer.reconcile(rows, 0L, epochs = 1,
      shardSize = 2, dir)
    graft.streaming.ShardMaintainer.reconcile(
      rows.where(org.apache.spark.sql.functions.col("seq_id") =!= 0L), 1L,
      epochs = 1, shardSize = 2, dir)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    rowsOf(ext.sql(s"SELECT * FROM GRAFT_SHARDS('$dir')")) shouldBe
      rowsOf(graft.streaming.ShardMaintainer.readShardsLive(ext, dir))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_SHARDS('$dir') VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.ShardMaintainer.readShardsAsOf(ext, dir, 0L))
    // ordinary SQL composes on top of the relation
    ext.sql(s"SELECT count(1) AS n FROM GRAFT_SHARDS('$dir') WHERE epoch = 1")
      .head().getLong(0) shouldBe 3L
    // seal the history, then the floor error surfaces through SQL
    graft.streaming.ShardMaintainer.compactTombstones(ext, dir, upTo = 1L)
    val e = intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_SHARDS('$dir') VERSION AS OF 0").collect()
    }
    e.getMessage should include("sealed compaction floor")
    // a GRAFT_ keyword inside a string literal never triggers the rewrite
    ext.sql("SELECT 'FROM GRAFT_SHARDS(''x'')' AS s")
      .head().getString(0) shouldBe "FROM GRAFT_SHARDS('x')"
  }

  test("GRAFT_SELECTION / GRAFT_BM25 / GRAFT_KNN: SQL reads equal their " +
      "API paths, live and as-of") {
    val sq = ext
    import sq.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // --- bm25 postings state
    val post = Files.createTempDirectory("sqlbm").toString
    val dd = Seq((0L, "alpha beta spark"), (1L, "alpha gamma"),
      (2L, "beta delta spark"), (3L, "spark spark merge"))
      .toDF("doc_id", "text")
    (0 until 2).foreach { g =>
      graft.streaming.SearchIndexMaintainer.processBatch(
        dd.where(org.apache.spark.sql.functions.col("doc_id") % 2 === g),
        g.toLong, "doc_id", "text", post)
    }
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_BM25('$post', 'spark merge', 3)")) shouldBe
      rowsOf(graft.streaming.SearchIndexMaintainer.search(ext, post,
        "doc_id", Seq("spark", "merge"), k = 3))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_BM25('$post', 'spark merge', 3) " +
        "VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.SearchIndexMaintainer.searchAsOf(ext, post,
        "doc_id", Seq("spark", "merge"), k = 3, asOf = 0L))
    // --- ann inverted file + persisted centroids + a query view
    val idx = Files.createTempDirectory("sqlknn").toString
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = (0L to 9L).map(i => (i, Seq(
      (if (i % 2 == 0) 1.0 else 0.0) + 0.01 * i,
      (if (i % 2 == 0) 0.0 else 1.0))))
      .toDF("vec_id", "embedding")
    (0 until 2).foreach { g =>
      graft.streaming.AnnIndexMaintainer.processBatch(
        vecs.where(org.apache.spark.sql.functions.col("vec_id") % 2 === g),
        g.toLong, "vec_id", "embedding", cents, idx)
    }
    val centsDir = Files.createTempDirectory("sqlcents").toString + "/c"
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c").coalesce(1).write.parquet(centsDir)
    vecs.where(org.apache.spark.sql.functions.col("vec_id") < 2)
      .createOrReplaceTempView("knn_queries")
    val qv = (0L to 1L).map(i => (i,
      vecs.where(org.apache.spark.sql.functions.col("vec_id") === i)
        .head().getSeq[Double](1).toArray)).toSeq
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', knn_queries, 3)")) shouldBe
      rowsOf(graft.streaming.AnnIndexMaintainer.search(ext, idx, cents, qv,
        k = 3, rankOnRoundedTo = Some(6)))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', knn_queries, 3) " +
        "VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.AnnIndexMaintainer.searchAsOf(ext, idx, cents,
        qv, k = 3, asOf = 0L, rankOnRoundedTo = Some(6)))
    // inline query vectors: the fully self-contained SQL form equals the
    // view form (live and as-of), and malformed entries fail fast
    val inline = qv.map { case (i, v) => s"$i:${v.mkString(" ")}" }
      .mkString("; ")
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', '$inline', 3)")) shouldBe
      rowsOf(ext.sql(
        s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', knn_queries, 3)"))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', '$inline', 3) " +
        "VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.AnnIndexMaintainer.searchAsOf(ext, idx, cents,
        qv, k = 3, asOf = 0L, rankOnRoundedTo = Some(6)))
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', '7:', 3)")
        .collect()
    }.getMessage should include("inline query entry")
    // --- curation selection generations
    val cur = Files.createTempDirectory("sqlcur").toString
    def doc(id: Long, extra: String) = (id,
      "the quick brown fox jumps over a lazy dog while many other animals " +
        "watch quietly from the tall grass near slowly running water " +
        "today " + extra)
    val w0 = Seq(doc(6L, "alpha beta")).toDF("doc_id", "text")
    val w1 = Seq(doc(9L, ("zz " * 30).trim)).toDF("doc_id", "text")
    graft.streaming.CurateMaintainer.processBatchDriftTriggered(w0, w0, 0L,
      "doc_id", "text", 30, cur, klThreshold = 0.05, pplKeepBelow = 1000.0)
    graft.streaming.CurateMaintainer.processBatchDriftTriggered(w1,
      w0.unionByName(w1), 1L, "doc_id", "text", 30, cur,
      klThreshold = 0.05, pplKeepBelow = 1000.0)
    rowsOf(ext.sql(s"SELECT * FROM GRAFT_SELECTION('$cur')")) shouldBe
      rowsOf(graft.streaming.CurateMaintainer.currentSelection(ext, cur))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_SELECTION('$cur') VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.CurateMaintainer.selectionAsOf(ext, cur, 0L))
    val e = intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_SELECTION('$cur') VERSION AS OF -1")
        .collect()
    }
    e.getMessage should include("no selection generation")
  }

  test("GRAFT_KNN subquery query vectors: the paren-balanced clause " +
      "capture takes nested parens and quoted parens/commas whole, the " +
      "subquery form equals the view form, and a trailing VERSION AS OF " +
      "still binds") {
    val sq = ext
    import sq.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val idx = Files.createTempDirectory("sqlknnsub").toString
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = (0L to 9L).map(i => (i, Seq(
      (if (i % 2 == 0) 1.0 else 0.0) + 0.01 * i,
      (if (i % 2 == 0) 0.0 else 1.0))))
      .toDF("vec_id", "embedding")
    (0 until 2).foreach { g =>
      graft.streaming.AnnIndexMaintainer.processBatch(
        vecs.where(org.apache.spark.sql.functions.col("vec_id") % 2 === g),
        g.toLong, "vec_id", "embedding", cents, idx)
    }
    val centsDir = Files.createTempDirectory("sqlcentssub").toString + "/c"
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c").coalesce(1).write.parquet(centsDir)
    vecs.createOrReplaceTempView("knn_sub_src")
    vecs.where(org.apache.spark.sql.functions.col("vec_id") < 2)
      .createOrReplaceTempView("knn_sub_view")
    // nested function parens AND a quoted ')' / ',' inside the subquery
    val subq = "(SELECT vec_id, embedding FROM knn_sub_src " +
      "WHERE vec_id < greatest(2, 1) AND ')x,' <> '(')"
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', $subq, 3)")) shouldBe
      rowsOf(ext.sql(
        s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', knn_sub_view, 3)"))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', $subq, 3) " +
        "VERSION AS OF 0")) shouldBe
      rowsOf(ext.sql(
        s"SELECT * FROM GRAFT_KNN('$idx', '$centsDir', knn_sub_view, 3) " +
          "VERSION AS OF 0"))
  }

  test("GRAFT_KNNPQ / GRAFT_VACUUM: the compressed index is SQL-probeable " +
      "(live and as-of) and the pin-aware generation GC is SQL-drivable") {
    val sq = ext
    import sq.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val idx = Files.createTempDirectory("sqlknnpq").toString
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = (0L to 9L).map(i => (i, Seq(
      (if (i % 2 == 0) 1.0 else 0.0) + 0.01 * i,
      (if (i % 2 == 0) 0.0 else 1.0))))
      .toDF("vec_id", "embedding")
    val cb = graft.ops.Ann.pqTrain(vecs, "embedding", m = 2, k = 2)
    (0 until 2).foreach { g =>
      graft.streaming.AnnIndexMaintainer.processBatchPq(
        vecs.where(org.apache.spark.sql.functions.col("vec_id") % 2 === g),
        g.toLong, "vec_id", "embedding", cents, cb, idx, roundScale = 6)
    }
    val art = Files.createTempDirectory("sqlknnpqart").toString
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c").coalesce(1).write.parquet(s"$art/cents")
    graft.ops.Ann.pqCodebookDf(ext, cb).coalesce(1).write
      .parquet(s"$art/cb")
    val qv = (0L to 1L).map(i => (i,
      vecs.where(org.apache.spark.sql.functions.col("vec_id") === i)
        .head().getSeq[Double](1).toArray)).toSeq
    val inline = qv.map { case (i, v) => s"$i:${v.mkString(" ")}" }
      .mkString("; ")
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNNPQ('$idx', '$art/cents', '$art/cb', " +
        s"'$inline', 3)")) shouldBe
      rowsOf(graft.streaming.AnnIndexMaintainer.searchPq(ext, idx, cents,
        cb, qv, k = 3, rankOnRoundedTo = Some(6)))
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_KNNPQ('$idx', '$art/cents', '$art/cb', " +
        s"'$inline', 3) VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.AnnIndexMaintainer.searchPqAsOf(ext, idx,
        cents, cb, qv, k = 3, asOf = 0L, rankOnRoundedTo = Some(6)))
    // --- the SQL vacuum over a two-generation curation state
    val cur = Files.createTempDirectory("sqlvac").toString
    def doc(id: Long, extra: String) = (id,
      "the quick brown fox jumps over a lazy dog while many other animals " +
        "watch quietly from the tall grass near slowly running water " +
        "today " + extra)
    val w0 = Seq(doc(6L, "alpha beta")).toDF("doc_id", "text")
    val w1 = Seq(doc(9L, ("zz " * 30).trim)).toDF("doc_id", "text")
    graft.streaming.CurateMaintainer.processBatchDriftTriggered(w0, w0, 0L,
      "doc_id", "text", 30, cur, klThreshold = 0.05, pplKeepBelow = 1000.0)
    graft.streaming.CurateMaintainer.processBatchDriftTriggered(w1,
      w0.unionByName(w1), 1L, "doc_id", "text", 30, cur,
      klThreshold = 0.05, pplKeepBelow = 1000.0)
    ext.sql(s"SELECT * FROM GRAFT_VACUUM('$cur', 'selection')")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(0L)
    // idempotent: nothing left to drop on a re-issue
    ext.sql(s"SELECT * FROM GRAFT_VACUUM('$cur', 'selection')")
      .count() shouldBe 0L
    // the dropped horizon now answers with the retention error via SQL
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_SELECTION('$cur') VERSION AS OF 0")
        .collect()
    }.getMessage should include("below the retention floor")
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_VACUUM('$cur', 'bogus')").collect()
    }.getMessage should include("unknown kind")
  }

  test("rewriteStateReads: the balanced capture registers the subquery " +
      "argument VERBATIM, consumes the trailing version clause, and " +
      "leaves unbalanced text for the delegate parser") {
    val rewritten = GraftSql.rewriteStateReads(
      "SELECT * FROM GRAFT_KNN('d', 'c', " +
        "(SELECT a, f(x, (y)) FROM t WHERE s = 'a)b'), 7) VERSION AS OF 3")
    rewritten should not include "VERSION"
    rewritten should not include "GRAFT_KNN"
    val ph = "graft_rec_\\w+".r.findFirstIn(rewritten).get
    val spec = GraftSql.lookupSpec(ph).get
      .asInstanceOf[GraftSql.StateReadSpec]
    spec.kind shouldBe "knn"
    spec.args shouldBe Seq("d", "c",
      "(SELECT a, f(x, (y)) FROM t WHERE s = 'a)b')", "7")
    spec.asOf shouldBe Some(3L)
    // unbalanced: no rewrite — the delegate reports its own syntax error
    val bad = "SELECT * FROM GRAFT_KNN('d', (SELECT"
    GraftSql.rewriteStateReads(bad) shouldBe bad
  }

  test("GRAFT_SNAPSHOT: reads the pinned manifest's horizon; a VERSION " +
      "clause is rejected (the pin IS the version)") {
    val sq = ext
    import sq.implicits._
    import graft.streaming.SnapshotManifest
    import graft.streaming.SnapshotManifest.Pin
    val ann = Files.createTempDirectory("snapsqlann").toString
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = (0L to 5L).map(i => (i, Seq(
      if (i % 2 == 0) 1.0 else 0.0, if (i % 2 == 0) 0.0 else 1.0)))
      .toDF("vec_id", "embedding")
    (0 until 2).foreach { g =>
      graft.streaming.AnnIndexMaintainer.processBatch(
        vecs.where(org.apache.spark.sql.functions.col("vec_id") % 2 === g),
        g.toLong, "vec_id", "embedding", cents, ann)
    }
    val mdir = Files.createTempDirectory("snapsqlm").toString + "/m"
    SnapshotManifest.pin(ext, Seq(Pin("vectors", "ann", ann, 0L)), mdir)
    ext.sql(s"SELECT id FROM GRAFT_SNAPSHOT('$mdir', 'vectors')")
      .collect().map(_.getLong(0)).toSet shouldBe Set(0L, 2L, 4L)
    val e = intercept[Exception] {
      ext.sql(
        s"SELECT * FROM GRAFT_SNAPSHOT('$mdir', 'vectors') VERSION AS OF 1")
        .collect()
    }
    e.getMessage should include("not applicable")
  }

  test("GRAFT_MERGES / GRAFT_SWEEP: the tokenizer model and the " +
      "discovery GC are SQL-drivable, retention errors included") {
    val sq = ext
    import sq.implicits._
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val root = Files.createTempDirectory("sqlsweep").toString
    val tok = s"$root/tok"
    graft.streaming.Retention.setMergesPolicy(tok, 1)
    val waves = Seq(Seq("aaab aaab aaab", "aab aab"),
      Seq("ccd ccd ccd ccd"))
    waves.zipWithIndex.foreach { case (w, g) =>
      graft.streaming.BpeMaintainer.processBatch(
        w.zipWithIndex.map { case (t, i) => (10L * g + i, t) }
          .toDF("doc_id", "text"),
        g.toLong, "doc_id", "text", s"$root/tokstate", tok,
        graft.streaming.BpeMaintainer.Config(numMerges = 4,
          growthFactor = 0.0))
    }
    // both horizon forms read exactly what the API paths read
    rowsOf(ext.sql(
      s"SELECT * FROM GRAFT_MERGES('$tok') VERSION AS OF 0")) shouldBe
      rowsOf(graft.streaming.BpeMaintainer.mergesAsOfDf(ext, tok, 0L))
    rowsOf(ext.sql(s"SELECT * FROM GRAFT_MERGES('$tok')")) shouldBe
      rowsOf(graft.streaming.BpeMaintainer.latestMergesDf(ext, tok))
    // discovery GC: dry reports v0 droppable, the acting sweep drops it,
    // a re-issued dry run is empty
    ext.sql(s"SELECT * FROM GRAFT_SWEEP('$root', '', 'dry')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq shouldBe Seq(("merges", "tok", 0L))
    ext.sql(s"SELECT * FROM GRAFT_SWEEP('$root')")
      .collect().map(_.getLong(2)).toSeq shouldBe Seq(0L)
    ext.sql(s"SELECT * FROM GRAFT_SWEEP('$root', '', 'dry')")
      .count() shouldBe 0L
    // the dropped horizon answers with the retention error through SQL
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_MERGES('$tok') VERSION AS OF 0")
        .collect()
    }.getMessage should include("retention floor")
    // a VERSION clause on the action relation is rejected
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_SWEEP('$root') VERSION AS OF 1")
        .collect()
    }.getMessage should include("not applicable")
  }

  test("GRAFT_SWEEP rejects a third argument that is not exactly " +
      "'dry' — a typo must fail, never run the destructive acting sweep") {
    val root = Files.createTempDirectory("sqlsweepdry").toString
    for (bad <- Seq("dryrun", "dry-run", "wet")) {
      intercept[Exception] {
        ext.sql(s"SELECT * FROM GRAFT_SWEEP('$root', '', '$bad')")
          .collect()
      }.getMessage should include("must be exactly 'dry'")
    }
  }

  test("GRAFT_VACUUM / GRAFT_SWEEP are EXPLAIN-safe: planning the " +
      "statement drops nothing; executing it does") {
    val sq = ext
    import sq.implicits._
    val root = Files.createTempDirectory("sqlexplain").toString
    val tok = s"$root/tok"
    graft.streaming.Retention.setMergesPolicy(tok, 1)
    Seq(Seq("aaab aaab aaab"), Seq("ccd ccd ccd ccd")).zipWithIndex
      .foreach { case (w, g) =>
        graft.streaming.BpeMaintainer.processBatch(
          w.zipWithIndex.map { case (t, i) => (10L * g + i, t) }
            .toDF("doc_id", "text"),
          g.toLong, "doc_id", "text", s"$root/tokstate", tok,
          graft.streaming.BpeMaintainer.Config(numMerges = 4,
            growthFactor = 0.0))
      }
    def versions = graft.streaming.BpeMaintainer.versions(tok).map(_._1)
    versions shouldBe Seq(0L, 1L)
    // EXPLAIN plans the action relation without performing it
    val plan = ext.sql(s"EXPLAIN SELECT * FROM GRAFT_VACUUM('$tok', " +
      "'merges')").collect().map(_.getString(0)).mkString("\n")
    plan should include("GraftAction")
    versions shouldBe Seq(0L, 1L)
    ext.sql(s"EXPLAIN SELECT * FROM GRAFT_SWEEP('$root')").collect()
    versions shouldBe Seq(0L, 1L)
    // ...and an unexecuted statement (analysis only) drops nothing too
    ext.sql(s"SELECT * FROM GRAFT_VACUUM('$tok', 'merges')")
    versions shouldBe Seq(0L, 1L)
    // execution performs it and returns the dropped ids
    ext.sql(s"SELECT * FROM GRAFT_VACUUM('$tok', 'merges')")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(0L)
    versions shouldBe Seq(1L)
  }

  test("GRAFT_PACK: the pinned-tokenizer packing through SQL equals the " +
      "API-path trainManifestFrom over the named selection generation " +
      "and merges horizon") {
    val sq = ext
    import sq.implicits._
    val root = Files.createTempDirectory("sqlpack").toString
    // a curation state with one committed selection generation (the
    // (id, text) pair a firing persists)
    val sel = Seq((0L, "aaab aaab ccd"), (1L, "ccd ccd aab"),
      (2L, "eef aaab aab aab")).toDF("doc_id", "text")
    sel.coalesce(1).write.parquet(s"$root/cur/selection/s1")
    // a stamped merges model with two learned versions
    Seq(Seq("aaab aaab aaab", "aab aab"), Seq("ccd ccd ccd ccd"))
      .zipWithIndex.foreach { case (w, g) =>
        graft.streaming.BpeMaintainer.processBatch(
          w.zipWithIndex.map { case (t, i) => (10L * g + i, t) }
            .toDF("doc_id", "text"),
          g.toLong, "doc_id", "text", s"$root/tokstate", s"$root/tok",
          graft.streaming.BpeMaintainer.Config(numMerges = 4,
            growthFactor = 0.0))
      }
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val api = graft.ops.Corpus.trainManifestFrom(
      graft.streaming.CurateMaintainer.selectionAsOf(ext, s"$root/cur", 5L),
      "doc_id", "text",
      graft.streaming.BpeMaintainer.mergesAsOf(ext, s"$root/tok", 0L),
      seqLen = 16, epochs = 2)
    rowsOf(ext.sql(s"SELECT * FROM GRAFT_PACK('$root/cur', 5, " +
      s"'$root/tok', 0, 16, 2)")) shouldBe rowsOf(api)
    // horizons are explicit arguments; the single VERSION clause errors
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_PACK('$root/cur', 5, '$root/tok', " +
        "0, 16, 2) VERSION AS OF 1").collect()
    }.getMessage should include("not applicable")
    // MANIFEST form: both (dir, horizon) pairs resolve from the pins —
    // the packed epoch producible straight from a training-run manifest
    graft.streaming.SnapshotManifest.pin(ext, Seq(
      graft.streaming.SnapshotManifest.Pin("sel", "curate",
        s"$root/cur", 5L),
      graft.streaming.SnapshotManifest.Pin("tok", "bpe",
        s"$root/tok", 0L)), s"$root/manifest")
    rowsOf(ext.sql(s"SELECT * FROM GRAFT_PACK('$root/manifest', " +
      "'sel', 'tok', 16, 2)")) shouldBe rowsOf(api)
    // a missing pin names the manifest's actual contents
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_PACK('$root/manifest', 'nope', " +
        "'tok', 16, 2)").collect()
    }.getMessage should include("no pin 'nope'")
  }

  test("GRAFT_RETIRE: deferred pin-guarded whole-dir retirement — the " +
      "manifest argument is mandatory, EXPLAIN deletes nothing, a " +
      "pinned dir refuses by holder, an unpinned one retires") {
    val sq = ext
    import sq.implicits._
    val root = Files.createTempDirectory("sqlretire").toString
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$root/gen1")
    // gen2 is a minimal curate-state layout so the pin VALIDATES
    // (pin-time resolution is the manifest contract)
    Seq((1L, "t")).toDF("doc_id", "text").write
      .parquet(s"$root/gen2/selection/s0")
    graft.streaming.SnapshotManifest.pin(ext, Seq(
      graft.streaming.SnapshotManifest.Pin("g2", "curate",
        s"$root/gen2", 0L)), s"$root/m")
    // no manifests named → rejected at analysis, nothing deleted
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_RETIRE('$root/gen1', '')").collect()
    }.getMessage should include("at least one manifest")
    // EXPLAIN plans the deferred action without performing it
    ext.sql(s"EXPLAIN SELECT * FROM GRAFT_RETIRE('$root/gen1', " +
      s"'$root/m')").collect()
    new java.io.File(s"$root/gen1").exists() shouldBe true
    // the pinned dir refuses at EXECUTION, naming its holder
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_RETIRE('$root/gen2', '$root/m')")
        .collect()
    }.getMessage should include("state 'g2'")
    new java.io.File(s"$root/gen2").exists() shouldBe true
    // the unpinned dir retires and returns its path
    ext.sql(s"SELECT * FROM GRAFT_RETIRE('$root/gen1', '$root/m')")
      .collect().map(_.getString(0)).toSeq shouldBe Seq(s"$root/gen1")
    new java.io.File(s"$root/gen1").exists() shouldBe false
  }

  test("action relations survive an exchange: ORDER BY / GROUP BY over " +
      "GRAFT_SWEEP plans a shuffle over the deferred-action leaf, which " +
      "must emit UnsafeRow (UnsafeRowSerializer ClassCastExceptions on " +
      "converter output otherwise)") {
    val root = Files.createTempDirectory("sqlsweepsort").toString
    new java.io.File(s"$root/old_a").mkdirs()
    new java.io.File(s"$root/old_b").mkdirs()
    graft.streaming.Retention.markSuperseded(s"$root/old_a", s"$root/new")
    graft.streaming.Retention.markSuperseded(s"$root/old_b", s"$root/new")
    val sorted = ext.sql(
      s"SELECT * FROM GRAFT_SWEEP('$root', '', 'dry') ORDER BY state_dir")
      .collect().map(_.getString(1)).toSeq
    sorted shouldBe Seq("old_a", "old_b")
    val grouped = ext.sql(
      s"""SELECT family, count(*) AS n
         |FROM GRAFT_SWEEP('$root', '', 'dry') GROUP BY family"""
        .stripMargin).collect().map(r => (r.getString(0), r.getLong(1)))
    grouped.toSeq shouldBe Seq(("superseded", 2L))
  }

  test("action relations survive an exchange in a session that has run " +
      "an Observation: the deferred-action exec node keeps the session " +
      "out of its serialized form") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    // a fresh session of the same extensions: the observation stays in it
    val s = ext.newSession()
    s.range(3).observe(Observation("o"), count(lit(1))).collect()
    val root = Files.createTempDirectory("sqlsweepobs").toString
    new java.io.File(s"$root/old_a").mkdirs()
    new java.io.File(s"$root/old_b").mkdirs()
    graft.streaming.Retention.markSuperseded(s"$root/old_a", s"$root/new")
    graft.streaming.Retention.markSuperseded(s"$root/old_b", s"$root/new")
    s.sql(s"SELECT * FROM GRAFT_SWEEP('$root', '', 'dry') ORDER BY state_dir")
      .collect().map(_.getString(1)).toSeq shouldBe Seq("old_a", "old_b")
  }

  test("GRAFT_PACK argument hardening: numeric pin names are rejected " +
      "at pin() time (the form disambiguator reads an integer second " +
      "argument as a horizon), the manifest form caps at 5 arguments, " +
      "and non-numeric seqLen/epochs surface as the usage error") {
    val sq = ext
    import sq.implicits._
    val root = Files.createTempDirectory("sqlpackhard").toString
    Seq((1L, "t")).toDF("doc_id", "text").write
      .parquet(s"$root/cur/selection/s0")
    // an all-digit pin name can never be addressed through GRAFT_PACK —
    // reject it where it is created
    intercept[IllegalArgumentException] {
      graft.streaming.SnapshotManifest.pin(ext, Seq(
        graft.streaming.SnapshotManifest.Pin("1", "curate",
          s"$root/cur", 0L)), s"$root/m")
    }.getMessage should include("all digits")
    graft.streaming.SnapshotManifest.pin(ext, Seq(
      graft.streaming.SnapshotManifest.Pin("sel", "curate",
        s"$root/cur", 0L)), s"$root/m")
    // manifest form takes 3-5 args; the 6th was silently ignored before
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_PACK('$root/m', 'sel', 'tok', " +
        "16, 2, 99)").collect()
    }.getMessage should include("at most 5")
    // a non-numeric count is the usage error, not a NumberFormatException
    intercept[Exception] {
      ext.sql(s"SELECT * FROM GRAFT_PACK('$root/cur', 0, '$root/tok', " +
        "0, 'wide', 2)").collect()
    }.getMessage should include("seqLen must be an integer")
  }
}
