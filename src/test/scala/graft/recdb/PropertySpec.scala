package graft.recdb

import graft.SparkSpec

/** SURVEY.md §5 property gates over randomized small event sets:
  * permutation invariance, transpose duality, similarity bounds, CF score
  * bounds. Deterministic seeds (Spark jobs per case are expensive; five
  * seeded datasets give the coverage without a generator framework run).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  val c: EventCols = EventCols("userid", "itemid", "rating")

  def randomEvents(seed: Int): Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    // ~8 users × ~10 items, 60% fill, ratings 1..5
    (for {
      u <- 1L to 8L; i <- 1L to 10L
      if rnd.nextDouble() < 0.6
    } yield (u, i, (rnd.nextInt(5) + 1).toDouble)).toSeq
  }

  def modelMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("permutation invariance: row order never changes a model") {
    for (seed <- 1 to 3) {
      val ev = randomEvents(seed)
      val shuffled = new scala.util.Random(seed + 100).shuffle(ev)
      val a = modelMap(Similarity.itemCosine(ev.toDF("userid", "itemid", "rating"), c))
      val b = modelMap(Similarity.itemCosine(shuffled.toDF("userid", "itemid", "rating"), c))
      a.keySet shouldBe b.keySet
      a.foreach { case (k, v) => v shouldBe b(k) +- 1e-9 }
    }
  }

  test("transpose duality: userCosine == itemCosine on swapped roles") {
    for (seed <- 1 to 3) {
      val df = randomEvents(seed).toDF("userid", "itemid", "rating")
      val transposed = df.select($"itemid".as("userid"), $"userid".as("itemid"), $"rating")
      val u = modelMap(Similarity.userCosine(df, c))
      val i = modelMap(Similarity.itemCosine(transposed, c))
      u.keySet shouldBe i.keySet
      u.foreach { case (k, v) => v shouldBe i(k) +- 1e-12 }
    }
  }

  test("dense strategy == sparse join strategy: models and scoring sweeps") {
    for (seed <- 1 to 3) {
      val df = randomEvents(seed).toDF("userid", "itemid", "rating")
      for ((bld, name) <- Seq(
          (Similarity.itemCosine(_: org.apache.spark.sql.DataFrame, c, _: String), "itemCos"),
          (Similarity.itemPearson(_: org.apache.spark.sql.DataFrame, c, _: String), "itemPear"),
          (Similarity.userCosine(_: org.apache.spark.sql.DataFrame, c, _: String), "userCos"),
          (Similarity.userPearson(_: org.apache.spark.sql.DataFrame, c, _: String), "userPear"))) {
        val j = modelMap(bld(df, "join"))
        val d = modelMap(bld(df, "dense"))
        withClue(s"$name seed $seed: ") {
          d.keySet shouldBe j.keySet
          j.foreach { case (k, v) => d(k) shouldBe v +- 1e-9 }
        }
      }
      def scoreMap(sdf: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
        sdf.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val im = Similarity.itemCosine(df, c, "join").cache()
      val um = Similarity.userPearson(df, c, "join").cache()
      val sj = scoreMap(Scoring.itemCF(df, im, c, strategy = "join"))
      val sd = scoreMap(Scoring.itemCF(df, im, c, strategy = "dense"))
      sd.keySet shouldBe sj.keySet
      sj.foreach { case (k, v) => sd(k) shouldBe v +- 1e-9 }
      val uj = scoreMap(Scoring.userCF(df, um, c, strategy = "join"))
      val ud = scoreMap(Scoring.userCF(df, um, c, strategy = "dense"))
      ud.keySet shouldBe uj.keySet
      uj.foreach { case (k, v) => ud(k) shouldBe v +- 1e-9 }
      // user-qual pre-filter engages the same way on both strategies
      val users = df.select($"userid").where($"userid" <= 2L).distinct()
      val fj = scoreMap(Scoring.itemCF(df, im, c, Some(users), strategy = "join"))
      val fd = scoreMap(Scoring.itemCF(df, im, c, Some(users), strategy = "dense"))
      fd.keySet shouldBe fj.keySet
      fj.foreach { case (k, v) => fd(k) shouldBe v +- 1e-9 }
    }
  }

  /** [[randomEvents]] plus the top-k edge cases: items 97 and 98 rated
    * alike by the same users (every user's scores for them tie exactly),
    * and user 99 alone on item 99 (item 99 has no co-raters, so no item
    * model edges, and every itemCF score of user 99 is 0: all its items
    * tie, and it has fewer than k positive scores).
    */
  def topKEvents(seed: Int): org.apache.spark.sql.DataFrame =
    (randomEvents(seed) ++
      (1L to 4L).flatMap(u => Seq((u, 97L, u.toDouble), (u, 98L, u.toDouble))) :+
      ((99L, 99L, 4.0))).toDF("userid", "itemid", "rating")

  /** Each user's rows of a full sweep, ranked (score desc, item asc), cut at k. */
  def rankedCut(full: org.apache.spark.sql.DataFrame,
      k: Int): Map[Long, Seq[(Long, Double)]] =
    full.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, rs) =>
        u -> rs.sortBy(x => (-x._3, x._2)).take(k).map(x => (x._2, x._3))
      }

  /** `got` (rows in emitted order) equals `want`: the same (user, item)
    * sequence per user, scores within 1e-9.
    */
  def sameCut(got: Seq[(Long, Long, Double)], want: Map[Long, Seq[(Long, Double)]],
      clue: String): Unit = withClue(clue) {
    val byUser = got.groupBy(_._1).map { case (u, rs) => u -> rs.map(x => (x._2, x._3)) }
    byUser.keySet shouldBe want.keySet
    want.foreach { case (u, w) =>
      withClue(s"user $u: ") {
        byUser(u).map(_._1) shouldBe w.map(_._1)
        byUser(u).zip(w).foreach { case (g, x) => g._2 shouldBe x._2 +- 1e-9 }
      }
    }
  }

  test("top-k kernel == full sweep ranked (score desc, item asc) and cut at k") {
    val items = 13 // 10 random + 97, 98, 99
    for (seed <- 1 to 2) {
      val df = topKEvents(seed)
      for ((m, model) <- Seq(
          "itemCos" -> Similarity.itemCosine(df, c, "join"),
          "itemPear" -> Similarity.itemPearson(df, c, "join"),
          "userCos" -> Similarity.userCosine(df, c, "join"),
          "userPear" -> Similarity.userPearson(df, c, "join"))) {
        val cached = model.cache()
        def sweep(topK: Option[Int]) =
          if (m.startsWith("item"))
            Scoring.itemCF(df, cached, c, strategy = "dense", topK = topK)
          else Scoring.userCF(df, cached, c, strategy = "dense", topK = topK)
        val full = sweep(None).cache()
        if (m == "itemCos") {
          // the edge cases are there: a model-less item, an all-zero user
          cached.where($"item1" === 99L || $"item2" === 99L).count() shouldBe 0L
          full.where($"userid" === 99L && $"score" =!= 0.0).count() shouldBe 0L
        }
        for (k <- Seq(1, 3, items, items + 5)) {
          val got = sweep(Some(k)).collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          sameCut(got, rankedCut(full, k), s"$m seed $seed k $k: ")
        }
        full.unpersist(); cached.unpersist()
      }
    }
  }

  test("materializeView(topK) == the full sweep ranked and cut, every CF method") {
    val df = topKEvents(3)
    val base = java.nio.file.Files.createTempDirectory("graft-topk").toString
    val cat = new RecCatalog(s"$base/catalog")
    for (m <- Seq("itemcoscf", "itempearcf", "usercoscf", "userpearcf"); k <- Seq(2, 20)) {
      val name = s"tk_${m}_$k"
      Recommender.create(spark, name, df, name, c, m, cat, s"$base/models")
      val path = Recommender.materializeView(spark, name, df, cat, s"$base/views",
        topK = Some(k))
      val full = Recommender.recommend(spark, df, name, c, m, Some(cat),
        serveFromView = false)
      // the view's rows, each user's in the order its file holds them
      val got = spark.read.parquet(path).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      sameCut(got, rankedCut(full, k), s"$m k $k: ")
      Recommender.drop(name, cat)
    }
  }

  test("restricted build == full build filtered to pairs touching the keys") {
    for (seed <- 1 to 3; keys <- Seq(Seq(1L), Seq(2L, 5L, 7L))) {
      val df = randomEvents(seed).toDF("userid", "itemid", "rating")
      val keyDf = keys.toDF("userid")
      for ((full, restricted, name) <- Seq(
          (Similarity.userCosine(df, c),
            Similarity.userCosine(df, c, restrictTo = Some(keyDf)), "userCos"),
          (Similarity.userPearson(df, c),
            Similarity.userPearson(df, c, restrictTo = Some(keyDf)), "userPear"),
          (Similarity.itemCosine(df, c),
            Similarity.itemCosine(df, c, restrictTo = Some(keyDf)), "itemCos"),
          (Similarity.itemPearson(df, c),
            Similarity.itemPearson(df, c, restrictTo = Some(keyDf)), "itemPear"))) {
        val f = modelMap(full).filter { case ((a, b), _) =>
          keys.contains(a) || keys.contains(b) }
        val r = modelMap(restricted)
        withClue(s"$name seed $seed keys $keys: ") {
          r.keySet shouldBe f.keySet
          // same arithmetic over the same full-table stats; last-ULP slack
          // only for the plan-dependent partial-aggregation order (the same
          // slack the dense/sparse equivalence carries) — far inside the
          // round-6 tolerance every gate hashes at
          f.foreach { case (k, v) => r(k) shouldBe v +- 1e-12 }
        }
      }
    }
  }

  test("bounds: cosine ∈ (0,1], Pearson ∈ [-1,1] \\ {0}") {
    for (seed <- 1 to 5) {
      val df = randomEvents(seed).toDF("userid", "itemid", "rating")
      Similarity.itemCosine(df, c).collect().foreach { r =>
        r.getDouble(2) should (be > 0.0 and be <= 1.0 + 1e-12)
      }
      Similarity.itemPearson(df, c).collect().foreach { r =>
        r.getDouble(2) should (be >= -1.0 - 1e-12 and be <= 1.0 + 1e-12)
        r.getDouble(2) should not be 0.0
      }
    }
  }

  test("capRatingsPerKey: identity when under cap, bounded counts otherwise") {
    val df = randomEvents(9).toDF("userid", "itemid", "rating")
    val capped = Similarity.capRatingsPerKey(df, "userid", "itemid", "rating", 100)
    capped.count() shouldBe df.count() // no key exceeds the cap → identity
    val tight = Similarity.capRatingsPerKey(df, "userid", "itemid", "rating", 3)
    val counts = tight.groupBy("userid").count().collect().map(_.getLong(1))
    counts.foreach(_ should be <= 3L)
    // kept rows are each user's highest-rated (deterministic tie-break)
    tight.count() shouldBe df.groupBy("userid").count().collect()
      .map(r => math.min(3L, r.getLong(1))).sum
  }

  test("capNeighbors: kNN sparsification keeps each entity's strongest pairs") {
    val df = randomEvents(11).toDF("userid", "itemid", "rating")
    val model = Similarity.itemCosine(df, c)
    val capped = Similarity.capNeighbors(model, "item1", "item2", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact semantics: a pair survives iff EITHER endpoint ranks it within
    // its own top-k by |sim| (tie-break by neighbor id) — the kNN-graph union
    val sym = model.collect().flatMap(r => Seq(
      (r.getLong(0), r.getLong(1), r.getDouble(2)),
      (r.getLong(1), r.getLong(0), r.getDouble(2))))
    val expect = sym.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(t => (-math.abs(t._3), t._2)).take(2)
        .map(t => (t._1 min t._2, t._1 max t._2))
    }.toSet
    capped shouldBe expect
    capped.size should be <= model.collect().length
  }

  test("itemCF score bounds: weighted average of ratings stays in rating range") {
    for (seed <- 1 to 3) {
      val df = randomEvents(seed).toDF("userid", "itemid", "rating")
      val scores = Scoring.itemCF(df, Similarity.itemCosine(df, c), c).collect()
      // cosine sims are positive ⇒ score is a convex combination of u's
      // ratings (or exactly 0 for no-neighbor items)
      scores.foreach { r =>
        val s = r.getDouble(2)
        assert(s == 0.0 || (s >= 1.0 - 1e-9 && s <= 5.0 + 1e-9), s"score $s")
      }
    }
  }
}
