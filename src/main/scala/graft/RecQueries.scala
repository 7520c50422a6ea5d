package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.recdb.{Scoring, Similarity}

/** The RecDB query surface exposed to the driver gate: the four CF model
  * builds (SURVEY.md §2.1 R6-R9), itemCF/userCF scoring (R12-R13) and top-k
  * composition, each with a DuckDB-dialect oracle generated from the same
  * parametrization so Spark and oracle can't drift apart structurally.
  */
object RecQueries {
  private val c = Tables.ratingCols

  def ratings(spark: SparkSession, dir: String): DataFrame =
    Tables.ratings(spark, dir).cache()

  /** The [[Fixtures.dir]] where r_svd_factor_topk persists its trained
    * factor tables — per (sf dir, process), so concurrent runs at different
    * scales *or at the same scale* can't clobber each other's artifacts
    * between the dump and the DuckDB compare (the writer and the
    * oracle-path substitution share one JVM, so the key always agrees). The
    * oracle SQL carries the `__SVD_FACTORS__` placeholder; [[graft.Verify]]
    * substitutes this dir when writing oracle_sql.json.
    */
  private[graft] val SvdFactors = "graft_svd_factors"

  /** Where r_negatives_rej persists its collision-dropped hash draws —
    * same contract as [[SvdFactors]]; oracle placeholder `__NEG_DRAWS__`.
    */
  private[graft] val NegDraws = "graft_neg_draws"

  private def round6(df: DataFrame, cols: Seq[String], value: String): DataFrame =
    df.select((cols.map(col) :+ round(col(value), 6).as(value)): _*)

  // Model queries cache the model frame: scoring/top-k queries over the same
  // session build the identical canonical plan, so whichever runs first
  // materializes the model ONCE and everyone else reads the InMemoryRelation
  // — the session-scale analog of the reference's materialized recommenders.
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r_itemcos_model" -> ((s, d) =>
      round6(Similarity.itemCosine(ratings(s, d), c).cache(), Seq("item1", "item2"), "similarity")),
    "r_itempear_model" -> ((s, d) =>
      round6(Similarity.itemPearson(ratings(s, d), c).cache(), Seq("item1", "item2"), "similarity")),
    "r_usercos_model" -> ((s, d) =>
      round6(Similarity.userCosine(ratings(s, d), c).cache(), Seq("user1", "user2"), "similarity")),
    "r_userpear_model" -> ((s, d) =>
      round6(Similarity.userPearson(ratings(s, d), c).cache(), Seq("user1", "user2"), "similarity")),
    "r_itemcf_scores" -> ((s, d) => {
      val r = ratings(s, d)
      round6(Scoring.itemCF(r, Similarity.itemCosine(r, c).cache(), c),
        Seq("userid", "itemid"), "score")
    }),
    "r_itemcf_pear_scores" -> ((s, d) => {
      val r = ratings(s, d)
      round6(Scoring.itemCF(r, Similarity.itemPearson(r, c).cache(), c),
        Seq("userid", "itemid"), "score")
    }),
    "r_usercf_scores" -> ((s, d) => {
      val r = ratings(s, d)
      round6(Scoring.userCF(r, Similarity.userCosine(r, c).cache(), c),
        Seq("userid", "itemid"), "score")
    }),
    "r_usercf_pear_scores" -> ((s, d) => {
      val r = ratings(s, d)
      round6(Scoring.userCF(r, Similarity.userPearson(r, c).cache(), c),
        Seq("userid", "itemid"), "score")
    }),
    "r_itemcf_topk" -> ((s, d) => {
      val r = ratings(s, d)
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      // user-qual pre-filter BEFORE the user×item expansion — the reference's
      // userqual pruning (execRecommend.c:442-468, SURVEY.md §4.2.4)
      val users = r.select(col("userid")).where(col("userid") === minUser).distinct()
      round6(Scoring.itemCF(r, Similarity.itemCosine(r, c).cache(), c, Some(users)),
        Seq("userid", "itemid"), "score")
        .orderBy(col("score").desc, col("itemid"))
        .limit(10)
    }),
    // SVD end-to-end through the FULL recommender lifecycle, hash-gated:
    // CREATE RECOMMENDER (train ALS, persist float factors — the reference's
    // REAL model tables, utility.c:305-310) → catalog-hit recommend() reads
    // the persisted factors → dot + top-k. Training determinism is irrelevant
    // to the compare — the oracle reads the SAME persisted parquet and
    // re-derives dot + top-k (float→double widening is exact on both sides,
    // so the left-to-right double dots agree bitwise). This closes the one
    // `no_oracle` row: the un-hashable part (the ALS trajectory) is isolated
    // behind the persisted artifact, exactly like r_negatives_rej's draws.
    "r_svd_topk" -> ((s, d) => {
      import graft.recdb.{RecCatalog, Recommender}
      val base = Fixtures.dir(SvdFactors, d)
      val catalog = new RecCatalog(s"$base/cat")
      Recommender.drop("svdrec", catalog) // idempotent across warmup/timed/verify
      val r = ratings(s, d)
      Recommender.create(s, "svdrec", r, s"events@$d", c, "svd",
        catalog, s"$base/models")
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      val users = r.select(col("userid")).where(col("userid") === minUser).distinct()
      round6(Recommender
          .recommend(s, r, s"events@$d", c, "svd", Some(catalog), Some(users)),
        Seq("userid", "itemid"), "score")
        .orderBy(col("score").desc, col("itemid"))
        .limit(10)
    }),
    // SVD PREDICT (R14, recathon.c:4373-4433) — hash-gated: the gate trains
    // once, PERSISTS the factor tables (as doubles), then scores from the
    // persisted parquet via factorScore; the oracle reads the SAME parquet
    // and does the dot product + top-k in DuckDB. Training determinism is
    // irrelevant to the compare — both sides read identical factors — so
    // this isolates exactly the prediction operator that was previously
    // only metric-gated. __SVD_FACTORS__ is substituted by Verify/Bench
    // with Fixtures.dir(SvdFactors, sfDir).
    "r_svd_factor_topk" -> ((s, d) => {
      val base = Fixtures.dir(SvdFactors, d)
      val r = ratings(s, d)
      val (uf, itf) = graft.recdb.FunkSVD.train(r, c)
      uf.select(col("id"), col("features").cast("array<double>").as("features"))
        .write.mode("overwrite").parquet(s"$base/user")
      itf.select(col("id"), col("features").cast("array<double>").as("features"))
        .write.mode("overwrite").parquet(s"$base/item")
      val pu = s.read.parquet(s"$base/user")
      val pi = s.read.parquet(s"$base/item")
      val minUser = pu.agg(min(col("id"))).head().getLong(0)
      round6(Scoring.factorScore(pu.where(col("id") === minUser), pi, c),
        Seq("userid", "itemid"), "score")
        .orderBy(col("score").desc, col("itemid"))
        .limit(10)
    }),
    // Deterministic negative sampling (BPR companion op): 5 unrated items
    // per user in engine-portable md5 order; the rejection-sampling scale
    // path is spec-gated against this exact form.
    "r_negatives" -> ((s, d) =>
      graft.recdb.Eval.negativeSamples(ratings(s, d), c, k = 5)),
    // The catalog-product-free scale path of negative sampling, hash-gated
    // AND benched at every sf: the collision-dropped hash draws are
    // persisted (xxhash64 has no DuckDB twin — isolating it is the SVD
    // factor-gate pattern) and the result is computed FROM the persisted
    // draws; the oracle re-derives the rated-pair anti-join + first-k-in-
    // draw-order from the identical parquet.
    "r_negatives_rej" -> ((s, d) => {
      val r = ratings(s, d)
      val base = Fixtures.dir(NegDraws, d)
      graft.recdb.Eval.negativeDraws(r, c, trials = 64)
        .write.mode("overwrite").parquet(base)
      graft.recdb.Eval.negativeSamplesFromDraws(
        s.read.parquet(base), r, c, k = 5)
    }),
    "r_usercf_topk" -> ((s, d) => {
      val r = ratings(s, d)
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      val users = r.select(col("userid")).where(col("userid") === minUser).distinct()
      // restricted build: only model pairs touching the queried user — the
      // slice this point query consumes, with bit-identical values (norms
      // over the FULL table; Similarity.pairJoin). A single-user top-k must
      // not pay the all-pairs users² build.
      round6(Scoring.userCF(r,
          Similarity.userCosine(r, c, restrictTo = Some(users)).cache(),
          c, Some(users)),
        Seq("userid", "itemid"), "score")
        .orderBy(col("score").desc, col("itemid"))
        .limit(10)
    }),
    // Incremental model maintenance (beyond-reference): init the mergeable
    // (dots, norms²) state from two-thirds of the events, merge the rest as
    // a delta batch, and project the model — hash-equal to the FULL build's
    // oracle, proving the merge reproduces the rebuild.
    "r_itemcos_incr" -> ((s, d) => {
      import graft.recdb.IncrementalSimilarity
      val r = ratings(s, d)
      val hist = r.where(col("userid") % 3 =!= 0)
      val delta = r.where(col("userid") % 3 === 0)
      val st = IncrementalSimilarity.updateItemCosineState(
        IncrementalSimilarity.itemCosineState(hist, c), hist, delta, c)
      round6(IncrementalSimilarity.cosineFromState(st, "item1", "item2"),
        Seq("item1", "item2"), "similarity")
    }),
    // The reference regression file's "Miscellaneous" composition shapes in
    // one gate (recdb_regression_test.sql:37-42): multi-user IN pre-filter,
    // item predicate, predicate on the SCORE column (the noFilter quirk —
    // scores computed before filtering, §2.3 #7), dimension join with ILIKE,
    // deterministic ORDER BY/LIMIT.
    "r_rec_compose" -> ((s, d) => {
      val r = ratings(s, d)
      val users = r.select(col("userid"))
        .where(col("userid").isin(1L, 2L, 3L, 5L, 9L)).distinct()
      val part = Tables.read(s, d, "part")
        .select(col("p_partkey"), col("p_type"))
      round6(Scoring.itemCF(r, Similarity.itemCosine(r, c).cache(), c, Some(users)),
        Seq("userid", "itemid"), "score")
        .where(col("itemid") < 50 && col("score") >= 10.0)
        .join(part, col("itemid") === col("p_partkey"))
        .where(col("p_type").ilike("%med%"))
        .select(col("userid"), col("itemid"), col("score"), col("p_type"))
        .orderBy(col("score").desc, col("itemid"), col("userid"))
        .limit(20)
    }),
    // Pearson incremental maintenance: entity means SHIFT under a delta, but
    // the sufficient statistics (per-entity n/Σr/Σr², per-pair nco/Σab/Σa/Σb)
    // merge; the projection re-reads the merged entity stats so the shift is
    // free. Hash-equal to the full Pearson build's oracle.
    "r_itempear_incr" -> ((s, d) => {
      import graft.recdb.IncrementalSimilarity
      val r = ratings(s, d)
      val hist = r.where(col("userid") % 3 =!= 0)
      val delta = r.where(col("userid") % 3 === 0)
      val st = IncrementalSimilarity.updateItemPearsonState(
        IncrementalSimilarity.itemPearsonState(hist, c), hist, delta, c)
      round6(IncrementalSimilarity.pearsonFromState(st, "item1", "item2"),
        Seq("item1", "item2"), "similarity")
    }),
    // RecView serving path end-to-end (SURVEY.md §1.1): CREATE RECOMMENDER →
    // materializeView → recommendFromView → filter/top-k over the parquet
    // view. The reference created the view table but left its read path dead
    // (utility.c:146-157, execRecommend.c:935-940); here it is live, and the
    // served result hash-matches the same oracle as the direct scoring path.
    "r_recview_topk" -> ((s, d) => {
      import graft.recdb.{RecCatalog, Recommender}
      val base = Fixtures.dir("graft_recview", d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
      val catalog = new RecCatalog(s"$base/catalog")
      Recommender.drop("rv", catalog) // idempotent across warmup/timed/verify
      val r = ratings(s, d)
      Recommender.create(s, "rv", r, s"events@$d", c, "itemCosCF",
        catalog, s"$base/models")
      Recommender.materializeView(s, "rv", r, catalog, s"$base/views")
      val view = Recommender.recommendFromView(s, "rv", catalog).get
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      round6(view, Seq("userid", "itemid"), "score")
        .where(col("userid") === minUser)
        .orderBy(col("score").desc, col("itemid"))
        .limit(10)
    }),
    // Multi-recommender composition (the numrecs.c experiment protocol,
    // BASELINE.md "Multi-recommender workload"): two recommenders over the
    // same events table joined on (user, item), scores blended 50/50.
    "r_multirec" -> ((s, d) => {
      val r = ratings(s, d)
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      val users = r.select(col("userid")).where(col("userid") === minUser).distinct()
      val is = Scoring.itemCF(r, Similarity.itemCosine(r, c).cache(), c, Some(users))
      // user-based side: restricted to the blended query's single user (the
      // exact slice consumed — values identical; see r_usercf_topk)
      val us = Scoring.userCF(r,
        Similarity.userCosine(r, c, restrictTo = Some(users)).cache(),
        c, Some(users))
      is.as("a").join(us.as("b"), Seq("userid", "itemid"))
        .select(col("userid"), col("itemid"),
          round((is("score") + us("score")) / 2, 6).as("combined"))
        .orderBy(col("combined").desc, col("itemid"))
        .limit(10)
    }),
    // The RECOMMEND SQL surface end-to-end: injected parser → scoring plan →
    // hash-equal to the same DuckDB oracle as the API-path twin
    // (r_itemcf_topk). The extension session shares the SparkContext
    // (withExtensions is the programmatic route; static conf needs a fresh
    // context), and the caller session is restored immediately.
    "r_recommend_sql" -> ((s, d) => {
      val ext = extensionSession(s)
      val r = ratings(ext, d)
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      r.createOrReplaceTempView("ml_events")
      ext.sql(
        s"""SELECT userid, itemid, round(rating, 6) AS score
           |FROM ml_events RECOMMEND itemid TO userid ON rating USING itemCosCF
           |WHERE userid = $minUser
           |ORDER BY round(rating, 6) DESC, itemid LIMIT 10""".stripMargin)
    }),
    // The regression file's JOIN/ALIAS form (recdb_regression_test.sql:39,41)
    // verbatim through the SQL surface: aliased FROM list, alias-qualified
    // clause columns, dimension join + ILIKE + ORDER BY/LIMIT — hash-equal
    // to the same composed DuckDB oracle as the API-path r_rec_compose.
    "r_recommend_sql_join" -> ((s, d) => {
      val ext = extensionSession(s)
      val r = ratings(ext, d)
      val minUser = r.agg(min(col("userid"))).head().getLong(0)
      r.createOrReplaceTempView("ml_events")
      Tables.read(ext, d, "part").select(col("p_partkey"), col("p_type"))
        .createOrReplaceTempView("part_dim")
      ext.sql(
        s"""SELECT r.userid, r.itemid, round(r.rating, 6) AS score, i.p_type
           |FROM ml_events r, part_dim i
           |RECOMMEND r.itemid TO r.userid ON r.rating USING itemCosCF
           |WHERE r.userid = $minUser AND r.itemid = i.p_partkey
           |  AND i.p_type ILIKE '%med%'
           |ORDER BY round(r.rating, 6) DESC, r.itemid LIMIT 10""".stripMargin)
    }),
  )

  /** One extension-enabled session per SparkContext, built lazily and
    * reused — sessions are long-lived in a real deployment; rebuilding the
    * parser-injected session (and re-registering its functions) per query
    * only measures session setup. The caller session stays active/default.
    */
  @volatile private var extSession: org.apache.spark.sql.SparkSession = _
  private[graft] def extensionSession(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    synchronized {
      if (extSession == null || extSession.sparkContext != s.sparkContext) {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
        extSession = org.apache.spark.sql.SparkSession.builder()
          .withExtensions(e => new graft.sql.GraftSqlExtensions()(e))
          .getOrCreate()
        org.apache.spark.sql.SparkSession.setDefaultSession(s)
        org.apache.spark.sql.SparkSession.setActiveSession(s)
      }
      extSession
    }

  // ---- oracle SQL (DuckDB dialect), generated from one parametrization ----

  /** Triangular similarity model CTE chain ending in model(<e>1, <e>2, s).
    * entity = "item" (join on userid) or "user" (join on itemid).
    */
  private def simCte(entity: String, pearson: Boolean): String = {
    val (pairCol, joinCol) =
      if (entity == "item") ("itemid", "userid") else ("userid", "itemid")
    val (e1, e2) = (s"${entity}1", s"${entity}2")
    if (!pearson)
      s"""${Tables.ratingsSql},
         |norms AS (
         |  SELECT $pairCol AS p, sqrt(sum(rating*rating)) AS nrm FROM ratings GROUP BY 1
         |),
         |dots AS (
         |  SELECT a.$pairCol AS p1, b.$pairCol AS p2, sum(a.rating*b.rating) AS dot
         |  FROM ratings a JOIN ratings b
         |    ON a.$joinCol = b.$joinCol AND a.$pairCol < b.$pairCol
         |  GROUP BY 1, 2
         |),
         |model AS (
         |  SELECT d.p1 AS $e1, d.p2 AS $e2, d.dot/(n1.nrm*n2.nrm) AS s
         |  FROM dots d
         |  JOIN norms n1 ON d.p1 = n1.p
         |  JOIN norms n2 ON d.p2 = n2.p
         |  WHERE d.dot/(n1.nrm*n2.nrm) > 0
         |)""".stripMargin
    else
      s"""${Tables.ratingsSql},
         |stats AS (
         |  SELECT $pairCol AS p, avg(rating) AS mean FROM ratings GROUP BY 1
         |),
         |centered AS (
         |  SELECT r.$joinCol AS k, r.$pairCol AS pk, r.rating - s.mean AS cv
         |  FROM ratings r JOIN stats s ON r.$pairCol = s.p
         |),
         |pinfo AS (
         |  SELECT pk AS p, sqrt(sum(cv*cv)) AS pp FROM centered GROUP BY 1
         |),
         |dots AS (
         |  SELECT a.pk AS p1, b.pk AS p2, sum(a.cv*b.cv) AS dot
         |  FROM centered a JOIN centered b ON a.k = b.k AND a.pk < b.pk
         |  GROUP BY 1, 2
         |),
         |model AS (
         |  SELECT d.p1 AS $e1, d.p2 AS $e2,
         |    CASE WHEN i1.pp*i2.pp = 0 THEN NULL ELSE d.dot/(i1.pp*i2.pp) END AS s
         |  FROM dots d
         |  JOIN pinfo i1 ON d.p1 = i1.p
         |  JOIN pinfo i2 ON d.p2 = i2.p
         |  WHERE CASE WHEN i1.pp*i2.pp = 0 THEN NULL ELSE d.dot/(i1.pp*i2.pp) END <> 0
         |)""".stripMargin
  }

  private def modelSelect(entity: String, pearson: Boolean): String =
    s"""WITH ${simCte(entity, pearson)}
       |SELECT ${entity}1, ${entity}2, round(s, 6) AS similarity FROM model""".stripMargin

  /** itemCF scoring over an item model: sym sweep + Σ|sim| normalization +
    * all-pairs expansion with 0 for no-neighbor items.
    */
  private[graft] def itemCfCte(pearson: Boolean): String =
    s"""${simCte("item", pearson)},
       |sym AS (
       |  SELECT item1 AS i, item2 AS j, s FROM model
       |  UNION ALL
       |  SELECT item2 AS i, item1 AS j, s FROM model
       |),
       |scores AS (
       |  SELECT r.userid, sym.i AS itemid, sum(sym.s*r.rating)/sum(abs(sym.s)) AS score
       |  FROM sym JOIN ratings r ON sym.j = r.itemid
       |  GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT u.userid, i.itemid
       |  FROM (SELECT DISTINCT userid FROM ratings) u
       |  CROSS JOIN (SELECT DISTINCT itemid FROM ratings) i
       |)""".stripMargin

  /** userCF scoring: ū is u's own average (recathon.c:4349-4360 quirk);
    * no similar raters → 0.0, not ū.
    */
  private def userCfCte(pearson: Boolean): String =
    s"""${simCte("user", pearson)},
       |sym AS (
       |  SELECT user1 AS u, user2 AS v, s FROM model
       |  UNION ALL
       |  SELECT user2 AS u, user1 AS v, s FROM model
       |),
       |uavg AS (
       |  SELECT userid AS u, avg(rating) AS ubar FROM ratings GROUP BY 1
       |),
       |scores AS (
       |  SELECT sym.u AS userid, r.itemid,
       |    ua.ubar + sum(sym.s*(r.rating - ua.ubar))/sum(abs(sym.s)) AS score
       |  FROM sym
       |  JOIN ratings r ON sym.v = r.userid
       |  JOIN uavg ua ON sym.u = ua.u
       |  GROUP BY 1, 2, ua.ubar
       |),
       |pairs AS (
       |  SELECT u.userid, i.itemid
       |  FROM (SELECT DISTINCT userid FROM ratings) u
       |  CROSS JOIN (SELECT DISTINCT itemid FROM ratings) i
       |)""".stripMargin

  private def scoresSelect(cte: String, topk: Boolean): String = {
    val base =
      s"""WITH $cte
         |SELECT p.userid, p.itemid, round(coalesce(sc.score, 0), 6) AS score
         |FROM pairs p
         |LEFT JOIN scores sc ON p.userid = sc.userid AND p.itemid = sc.itemid""".stripMargin
    if (!topk) base
    else
      s"""$base
         |WHERE p.userid = (SELECT min(userid) FROM ratings)
         |ORDER BY round(coalesce(sc.score, 0), 6) DESC, p.itemid
         |LIMIT 10""".stripMargin
  }

  /** Blended two-recommender oracle (itemCos + userCos, 50/50): both cosine
    * CTE chains inlined with i_/u_ prefixes so the names can't collide.
    */
  private def multirecSql: String =
    s"""WITH ${Tables.ratingsSql},
       |i_norms AS (
       |  SELECT itemid AS p, sqrt(sum(rating*rating)) AS nrm FROM ratings GROUP BY 1
       |),
       |i_dots AS (
       |  SELECT a.itemid AS p1, b.itemid AS p2, sum(a.rating*b.rating) AS dot
       |  FROM ratings a JOIN ratings b
       |    ON a.userid = b.userid AND a.itemid < b.itemid
       |  GROUP BY 1, 2
       |),
       |i_model AS (
       |  SELECT d.p1, d.p2, d.dot/(n1.nrm*n2.nrm) AS s
       |  FROM i_dots d
       |  JOIN i_norms n1 ON d.p1 = n1.p
       |  JOIN i_norms n2 ON d.p2 = n2.p
       |  WHERE d.dot/(n1.nrm*n2.nrm) > 0
       |),
       |i_sym AS (
       |  SELECT p1 AS i, p2 AS j, s FROM i_model
       |  UNION ALL
       |  SELECT p2 AS i, p1 AS j, s FROM i_model
       |),
       |i_scores AS (
       |  SELECT r.userid, i_sym.i AS itemid,
       |    sum(i_sym.s*r.rating)/sum(abs(i_sym.s)) AS score
       |  FROM i_sym JOIN ratings r ON i_sym.j = r.itemid
       |  GROUP BY 1, 2
       |),
       |u_norms AS (
       |  SELECT userid AS p, sqrt(sum(rating*rating)) AS nrm FROM ratings GROUP BY 1
       |),
       |u_dots AS (
       |  SELECT a.userid AS p1, b.userid AS p2, sum(a.rating*b.rating) AS dot
       |  FROM ratings a JOIN ratings b
       |    ON a.itemid = b.itemid AND a.userid < b.userid
       |  GROUP BY 1, 2
       |),
       |u_model AS (
       |  SELECT d.p1, d.p2, d.dot/(n1.nrm*n2.nrm) AS s
       |  FROM u_dots d
       |  JOIN u_norms n1 ON d.p1 = n1.p
       |  JOIN u_norms n2 ON d.p2 = n2.p
       |  WHERE d.dot/(n1.nrm*n2.nrm) > 0
       |),
       |u_sym AS (
       |  SELECT p1 AS u, p2 AS v, s FROM u_model
       |  UNION ALL
       |  SELECT p2 AS u, p1 AS v, s FROM u_model
       |),
       |u_avg AS (
       |  SELECT userid AS u, avg(rating) AS ubar FROM ratings GROUP BY 1
       |),
       |u_scores AS (
       |  SELECT u_sym.u AS userid, r.itemid,
       |    ua.ubar + sum(u_sym.s*(r.rating - ua.ubar))/sum(abs(u_sym.s)) AS score
       |  FROM u_sym
       |  JOIN ratings r ON u_sym.v = r.userid
       |  JOIN u_avg ua ON u_sym.u = ua.u
       |  GROUP BY 1, 2, ua.ubar
       |),
       |pairs AS (
       |  SELECT u.userid, i.itemid
       |  FROM (SELECT DISTINCT userid FROM ratings) u
       |  CROSS JOIN (SELECT DISTINCT itemid FROM ratings) i
       |)
       |SELECT p.userid, p.itemid,
       |  round((coalesce(isc.score, 0) + coalesce(usc.score, 0))/2, 6) AS combined
       |FROM pairs p
       |LEFT JOIN i_scores isc ON p.userid = isc.userid AND p.itemid = isc.itemid
       |LEFT JOIN u_scores usc ON p.userid = usc.userid AND p.itemid = usc.itemid
       |WHERE p.userid = (SELECT min(userid) FROM ratings)
       |ORDER BY round((coalesce(isc.score, 0) + coalesce(usc.score, 0))/2, 6) DESC,
       |  p.itemid
       |LIMIT 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "r_itemcos_model" -> modelSelect("item", pearson = false),
    "r_itempear_model" -> modelSelect("item", pearson = true),
    "r_usercos_model" -> modelSelect("user", pearson = false),
    "r_userpear_model" -> modelSelect("user", pearson = true),
    "r_itemcf_scores" -> scoresSelect(itemCfCte(pearson = false), topk = false),
    "r_itemcf_pear_scores" -> scoresSelect(itemCfCte(pearson = true), topk = false),
    "r_usercf_scores" -> scoresSelect(userCfCte(pearson = false), topk = false),
    "r_usercf_pear_scores" -> scoresSelect(userCfCte(pearson = true), topk = false),
    "r_itemcf_topk" -> scoresSelect(itemCfCte(pearson = false), topk = true),
    "r_usercf_topk" -> scoresSelect(userCfCte(pearson = false), topk = true),
    "r_recommend_sql" -> scoresSelect(itemCfCte(pearson = false), topk = true),
    "r_itemcos_incr" -> modelSelect("item", pearson = false),
    "r_itempear_incr" -> modelSelect("item", pearson = true),
    "r_rec_compose" ->
      s"""WITH ${itemCfCte(pearson = false)}
         |SELECT p.userid, p.itemid, round(coalesce(sc.score, 0), 6) AS score,
         |  pt.p_type
         |FROM pairs p
         |LEFT JOIN scores sc ON p.userid = sc.userid AND p.itemid = sc.itemid
         |JOIN part pt ON p.itemid = pt.p_partkey
         |WHERE p.userid IN (1, 2, 3, 5, 9) AND p.itemid < 50
         |  AND round(coalesce(sc.score, 0), 6) >= 10.0
         |  AND pt.p_type ILIKE '%med%'
         |ORDER BY round(coalesce(sc.score, 0), 6) DESC, p.itemid, p.userid
         |LIMIT 20""".stripMargin,
    "r_recview_topk" -> scoresSelect(itemCfCte(pearson = false), topk = true),
    "r_recommend_sql_join" ->
      s"""WITH ${itemCfCte(pearson = false)}
         |SELECT p.userid, p.itemid, round(coalesce(sc.score, 0), 6) AS score,
         |  pt.p_type
         |FROM pairs p
         |LEFT JOIN scores sc ON p.userid = sc.userid AND p.itemid = sc.itemid
         |JOIN part pt ON p.itemid = pt.p_partkey
         |WHERE p.userid = (SELECT min(userid) FROM ratings)
         |  AND pt.p_type ILIKE '%med%'
         |ORDER BY round(coalesce(sc.score, 0), 6) DESC, p.itemid
         |LIMIT 10""".stripMargin,
    "r_multirec" -> multirecSql,
    // dot + top-k over the CATALOG-persisted float factor tables the CREATE
    // RECOMMENDER path wrote — float→double cast is exact widening, so the
    // sequential double dot agrees bitwise with Scoring.factorScore's
    "r_svd_topk" ->
      """WITH uf AS (
        |  SELECT id, CAST(features AS DOUBLE[]) AS f
        |  FROM '__SVD_FACTORS__/models/svdrec.factors/user/*.parquet'),
        |itf AS (
        |  SELECT id, CAST(features AS DOUBLE[]) AS f
        |  FROM '__SVD_FACTORS__/models/svdrec.factors/item/*.parquet')
        |SELECT u.id AS userid, i.id AS itemid,
        |  round(list_inner_product(u.f, i.f), 6) AS score
        |FROM uf u CROSS JOIN itf i
        |WHERE u.id = (SELECT min(id) FROM uf)
        |ORDER BY round(list_inner_product(u.f, i.f), 6) DESC, i.id
        |LIMIT 10""".stripMargin,
    // dot-product + top-k over the factor parquet the gate persisted —
    // the pure-SQL rendering of Scoring.factorScore (R14)
    "r_svd_factor_topk" ->
      """WITH uf AS (SELECT * FROM '__SVD_FACTORS__/user/*.parquet'),
        |itf AS (SELECT * FROM '__SVD_FACTORS__/item/*.parquet')
        |SELECT u.id AS userid, i.id AS itemid,
        |  round(list_inner_product(u.features, i.features), 6) AS score
        |FROM uf u CROSS JOIN itf i
        |WHERE u.id = (SELECT min(id) FROM uf)
        |ORDER BY round(list_inner_product(u.features, i.features), 6) DESC,
        |  i.id
        |LIMIT 10""".stripMargin,
    "r_negatives" ->
      s"""WITH ${Tables.ratingsSql},
         |users AS (SELECT DISTINCT userid FROM ratings),
         |items AS (SELECT DISTINCT itemid FROM ratings),
         |neg AS (
         |  SELECT u.userid, i.itemid FROM users u CROSS JOIN items i
         |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
         |                    WHERE r.userid = u.userid AND r.itemid = i.itemid)
         |)
         |SELECT userid, itemid, neg_rank FROM (
         |  SELECT userid, itemid, row_number() OVER (
         |    PARTITION BY userid
         |    ORDER BY md5(userid || ':' || itemid), itemid) AS neg_rank
         |  FROM neg)
         |WHERE neg_rank <= 5""".stripMargin,
    "r_negatives_rej" ->
      s"""WITH ${Tables.ratingsSql},
         |draws AS (SELECT * FROM '__NEG_DRAWS__/*.parquet'),
         |surv AS (
         |  SELECT d.userid, d.itemid, d.__t FROM draws d
         |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
         |                    WHERE r.userid = d.userid AND r.itemid = d.itemid)
         |)
         |SELECT userid, itemid, neg_rank FROM (
         |  SELECT userid, itemid, row_number() OVER (
         |    PARTITION BY userid ORDER BY __t) AS neg_rank
         |  FROM surv)
         |WHERE neg_rank <= 5""".stripMargin,
  )
}
