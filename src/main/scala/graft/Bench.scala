package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner's periodic GC at 5 min instead of the 30-min
      // default: checkpoint/persist block frees are GC-driven, and a
      // 279-gate pass otherwise accumulates dead blocks for its whole
      // duration (driver and executors share one JVM here, so the block
      // store IS the bench's heap) — see the timedPass() System.gc() note
      .config("spark.cleaner.periodicGC.interval", "5min")
      // The whole-stage-codegen class cache holds only 100 entries by
      // default; a 279-gate pass generates thousands of distinct stages,
      // so every pass recompiled nearly every stage (Janino, 10-100 ms
      // each — measured: codegen OFF made the manifest/curate family
      // ~40% faster, i.e. compile time exceeded the generated code's own
      // win). 5000 entries lets warm passes and repeated derivations hit
      // the cache; cost is metaspace for ~5k small classes. This is
      // scale-independent (the same cache exists on every executor).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // NO untimed warmup pass by default (round-14 change; the r13 harness
    // warmed at the bench SF and the three-passes-at-sf0.1 wall-clock
    // outgrew the driver's window → rc=124, no parsable artifact). The
    // warmup was REDUNDANT with min-of-2: pass 1 absorbs Catalyst
    // analysis, Janino codegen, C2 and the memoized fixture builds, and
    // the reported per-query MIN comes from the fully-warm pass 2 — the
    // same steady-state number the warmed protocol measured, at 2/3 the
    // wall. Set SPARK_GRAFT_WARM_DIR to restore an explicit warmup dir.
    // Deterministic name order: Map iteration order shifts whenever the key
    // set changes, silently reassigning which query pays each shared cache
    // build — sorted order keeps per-query numbers comparable across rounds.
    // "workloads" arg: serving metrics ONLY, in a fresh JVM — separates
    // the serving path's own cost from the heap/GC state 200 gate
    // queries × 3 passes leave behind (the driver's no-arg run is
    // unchanged; this mode is for attributing qps movement).
    val servingOnly = args.headOption.contains("workloads")
    val ordered =
      if (servingOnly) Seq.empty else SparkEntry.queries.toSeq.sortBy(_._1)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "")
    if (warmDir.nonEmpty) {
      ordered.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
      }
      spark.catalog.clearCache()
    }
    // TWO timed passes, report the per-query MIN: steady-state cost is the
    // quantity tracked round-over-round, and min-of-2 is robust to transient
    // machine load (round 4's committed artifact misreported three queries
    // by 8× from exactly such contamination). The cache is cleared between
    // passes so each pass pays every real model build, shuffle, and scan.
    def timedPass(): Seq[(String, Double, Boolean)] = {
      spark.catalog.clearCache()
      // Release dead checkpoint/persist blocks BEFORE the pass, not during
      // it: localCheckpoint blocks (memoized fixtures aside, every curate/
      // pack derivation makes some) are freed by the ContextCleaner only
      // after a GC proves the frame unreachable. Without this, pass 2 runs
      // against a block store still holding pass 1's dead blocks and the
      // eviction churn lands INSIDE timed queries (round-15 baseline:
      // s_train_manifest 13 s clean-JVM vs 79 s in-bench pass 2, 62 gates
      // flagged load-noise). Same hygiene the workload section already
      // applies; protocol (cold1+warmN,min) unchanged.
      System.gc()
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    }
    // CRASH-DURABLE ARTIFACT (round-14, VERDICT r13 #1): the artifact is
    // (re)written and the compact stdout line (re)printed after EVERY
    // completed stage — pass 1, pass 2, then each workload metric — so a
    // driver SIGTERM at ANY point leaves the best data gathered so far
    // instead of a poisoned partial. Workload slots not yet measured are
    // emitted as -1.0 with an explicit "stage" field naming how far the
    // run got; the driver parses the LAST line of stdout, which is always
    // the most complete one.
    // SPARK_GRAFT_PASSES (default 2): precision runs outside the
    // driver's window can ask for a third (or more) timed pass — min
    // over N−1 WARM passes restores the retired warmed-protocol's
    // two-warm-sample precision at +~8 min/pass. The artifact is
    // emitted after every pass either way.
    // lenient parse: a malformed value must degrade to the default, not
    // crash the run before any artifact is emitted (the exact failure
    // mode this artifact's crash-durability exists to prevent); capped
    // at 10 — more passes than that can only be a typo
    val nPasses = math.min(10, math.max(2,
      sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.trim.toIntOption)
        .getOrElse {
          if (sys.env.contains("SPARK_GRAFT_PASSES")) System.err.println(
            "[bench] bad SPARK_GRAFT_PASSES (not an int) — using 2")
          2
        }))
    def f3(v: Double): String = f"$v%.3f"
    def emit(results: Seq[(String, Double)], nFailed: Int, stage: String,
        wl: Map[String, (Double, Seq[Double])]): Unit = {
      val total = results.map(_._2).sum
      def w(k: String) = wl.get(k).map(_._1).getOrElse(-1.0)
      val workloads = s""""workload_qps":${w("qps")},""" +
        s""""workload_topk_qps":${w("topk")},""" +
        s""""workload_view_qps":${w("view")},""" +
        s""""workload_sweep_users_per_sec":${w("sweep")},""" +
        s""""workload_hybrid_qps":${w("hybrid")}"""
      // rep arrays pin the serving protocol in the artifact itself
      // (VERDICT r13 #8): the headline value is the MEDIAN of 3 timed
      // reps over pre-built state, so single-sample JVM jitter can never
      // again read as a round-over-round serving regression
      val reps = wl.toSeq.sortBy(_._1).map { case (k, (_, rs)) =>
        s"\"$k\":[${rs.map(f3).mkString(",")}]"
      }.mkString("{", ",", "}")
      // Full-precision per-query map → a repo file (the end-of-round
      // snapshot commits it), because the driver keeps only the LAST 2000
      // chars of stdout. Stdout gets a compact line that provably fits.
      val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      if (!servingOnly) { // don't clobber the committed artifact from a
        // workloads-only attribution run
        // committed, not truncated in place: emit() fires up to ~8 times
        // per run, and a SIGKILL inside an in-place write would leave
        // exactly the unparsable partial this artifact exists to prevent
        StateCommit.writeFile("BENCH_FULL.json", (
          s"""{"metric":"total","value":$total,"unit":"sec","stage":"$stage",""" +
            s""""protocol":"${if (warmDir.isEmpty) s"cold1+warm${nPasses - 1},min"
              else s"warm@$warmDir,min$nPasses"}",""" +
            // n_queries/n_failed in the FULL artifact too, so the
            // round-close self-check can assert on the committed file
            // without re-parsing stdout
            s""""n_queries":${results.size},"n_failed":$nFailed,""" +
            s""""queries":$fullQs,$workloads,"workloads_reps":$reps,""" +
            s""""sf":"$sfDir"}""" + "\n").getBytes("UTF-8"))
      }
      val recQs = results.filter(_._1.startsWith("r_"))
        .map { case (k, v) => s"\"$k\":${f3(v)}" }.mkString("{", ",", "}")
      val fams = results.groupBy(_._1.takeWhile(_ != '_'))
        .toSeq.sortBy(_._1)
        .map { case (p, rs) => s"\"$p\":${f3(rs.map(_._2).sum)}" }
        .mkString("{", ",", "}")
      val slowest = results.sortBy(-_._2).take(10)
        .map { case (k, v) => s"\"$k\":${f3(v)}" }.mkString("{", ",", "}")
      // n_queries + n_failed make a silent gate drop (a query erroring in
      // both passes) visible in the artifact itself, round over round
      // servingOnly mode writes no BENCH_FULL.json, so the rep arrays
      // ride the compact line there (it has no query map to crowd them
      // out) — a workloads-only attribution run must not lose the very
      // per-rep data it exists to collect
      val repsField = if (servingOnly) s""","workloads_reps":$reps""" else ""
      val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""stage":"$stage","n_queries":${results.size},"n_failed":$nFailed,""" +
        s""""queries":$recQs,"families":$fams,"slowest":$slowest,""" +
        s"""$workloads$repsField,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
      if (line.length > 1800) System.err.println(
        s"[bench] WARNING compact line ${line.length} chars — may truncate")
      println(line)
      System.out.flush()
    }
    val pass1 = timedPass()
    emit(pass1.map { case (n, t, _) => n -> t },
      pass1.count(!_._3), "pass1", Map.empty)
    var passes = List(pass1)
    (2 to nPasses).foreach { i =>
      passes = timedPass() :: passes
      val failed = passes.transpose.collect {
        case samples if samples.forall(!_._3) => samples.head._1
      }
      val results = passes.transpose.map { samples =>
        val n = samples.head._1
        val ts = samples.map(_._2)
        // divergence flag: a query whose passes differ >2× was measured
        // under load — the min is still reported, but the run is marked
        if (ts.max > 2 * ts.min && ts.max > 1.0)
          System.err.println(f"[bench] load-noise on $n: " +
            ts.map(t => f"$t%.2fs").mkString(" "))
        n -> ts.min
      }
      emit(results, failed.size, s"pass$i", Map.empty)
    }
    val failed = passes.transpose.collect {
      case samples if samples.forall(!_._3) => samples.head._1
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED in all passes: ${failed.mkString(",")}")
    val results = passes.transpose.map(samples =>
      samples.head._1 -> samples.map(_._2).min)
    // The workload metrics build their own materialized state; the 90+ gate
    // queries' leftover cached frames only add GC pressure and run-to-run
    // noise, so measure from a clean cache.
    spark.catalog.clearCache()
    // an explicit collection here: the serving loops measure ~60 ms point
    // queries, and the retained garbage of 200 gates × 3 passes otherwise
    // taxes them with GC pauses that read as qps drift round over round
    // (attribution: a fresh-JVM workloads-only run scores LOWER — C2 cold
    // — so the movement is JVM state, not the serving path; see the
    // "workloads" arg)
    System.gc()
    var wl = Map.empty[String, (Double, Seq[Double])]
    def medOf(rs: Seq[Double]): Double =
      if (rs.isEmpty) -1.0 else rs.sorted.apply(rs.size / 2)
    def stageWl(key: String)(reps: => Seq[Double]): Unit = {
      val rs = try reps catch { case _: Throwable => Seq.empty[Double] }
      wl += key -> (medOf(rs), rs)
      emit(results, failed.size, s"workloads:$key", wl)
    }
    stageWl("qps")(workloadQps(spark, sfDir))
    stageWl("topk")(workloadTopkQps(spark, sfDir))
    stageWl("sweep")(sweepUsersPerSec(spark, sfDir))
    stageWl("view")(viewQps(spark, sfDir))
    stageWl("hybrid")(hybridQps(spark, sfDir))
    emit(results, failed.size, "complete", wl)
    spark.stop()
  }

  /** The throughput framing that matches Spark's execution model: ONE job
    * scores every user's top-10 against the materialized model (the
    * RecView materialization path); reported as users/second. The
    * reference's per-user loop (rec_workload.c) pays its N+1 internal
    * queries per user; the sweep amortizes everything across the cluster.
    */
  private[graft] def sweepUsersPerSec(spark: SparkSession,
      sfDir: String): Seq[Double] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    try {
      val c = Tables.ratingCols
      val r = Tables.ratings(spark, sfDir).cache()
      val nUsers = r.select(col(c.user)).distinct().count()
      val model = graft.recdb.Similarity.itemCosine(r, c).cache()
      model.count()
      val w = Window.partitionBy(col(c.user))
        .orderBy(col("score").desc, col(c.item))
      // per-rep try: a transient failure in rep 3 must not discard two
      // completed reps (the crash-durability principle applied to reps)
      (1 to 3).flatMap { _ =>
        try {
          val t0 = System.nanoTime()
          graft.recdb.Scoring.itemCF(r, model, c)
            .withColumn("__rk", row_number().over(w))
            .where(col("__rk") <= 10).count()
          Some(nUsers / ((System.nanoTime() - t0) / 1e9))
        } catch { case _: Throwable => None }
      }
    } catch { case _: Throwable => Seq.empty }
  }

  /** Timed serving loop, run THREE times over the same seeded user
    * sequence with the state already built — return ALL rep qps values;
    * the caller commits the MEDIAN as the headline number and the full
    * rep array into the artifact (BENCH_WORKLOADS_r13 established the
    * 3-rep-median protocol after two rounds of single-sample JVM jitter
    * misreading as serving regressions; round 14 moves it into the
    * default artifact). PROTOCOL NOTE: r6–r13 reported max-of-2; the
    * median-of-3 sits inside the 3–24% rep-spread band those rounds
    * measured, so numbers remain comparable within that band.
    */
  private def qpsReps(n: Int, users: Array[Long])(
      query: Long => Unit): Seq[Double] = {
    def once(): Double = {
      val rnd = new scala.util.Random(42)
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => query(users(rnd.nextInt(users.length))))
      n / ((System.nanoTime() - t0) / 1e9)
    }
    // per-rep try: keep completed reps when a later one fails transiently
    (1 to 3).flatMap(_ =>
      try Some(once()) catch { case _: Throwable => None })
  }

  /** Serving-path throughput: the same per-user top-10 queries answered from
    * the materialized RecView (all-users scores computed once by the sweep and
    * cached — the path `Recommender.materializeView`/`recommendFromView` makes
    * live; SURVEY.md §1.1). Per query this is a filter + TakeOrderedAndProject
    * over in-memory columnar state: the latency profile a serving deployment
    * of this engine actually runs.
    */
  private[graft] def viewQps(spark: SparkSession, sfDir: String,
      n: Int = 100): Seq[Double] = {
    import org.apache.spark.sql.functions._
    try {
      val c = Tables.ratingCols
      val r = Tables.ratings(spark, sfDir).cache()
      val users = r.select(col(c.user)).distinct()
        .orderBy(col(c.user)).collect().map(_.getLong(0))
      val model = graft.recdb.Similarity.itemCosine(r, c).cache()
      val view = graft.recdb.Scoring.itemCF(r, model, c).cache()
      view.count() // materializeView happened before the workload loop
      qpsReps(n, users) { u =>
        view.where(col(c.user) === u)
          .orderBy(col("score").desc, col(c.item)).limit(10).count()
      }
    } catch { case _: Throwable => Seq.empty }
  }

  /** Serving-scale HYBRID retrieval throughput: single-query RRF-fused
    * top-10s answered from MAINTAINED state — the sparse leg from the
    * streamed postings index (compacted lengths sidecar + un-folded
    * delta), the dense leg from the streamed cell-partitioned IVF tower
    * — the s_hybrid_search semantics measured under the rec_workload.c
    * single-query protocol. State build (three waves + fold) happens
    * before the timed region, like every serving metric here; per-query
    * cost is (matching postings, nprobe/nlist cells), independent of
    * corpus growth. The serving tier applies Lucene's resident layout
    * at load time (norms inline with postings, term→df dictionary
    * driver-side, vector norms inline with the inverted file), so each
    * query is ONE job: filter → groupBy → TakeOrdered on the sparse leg
    * unioned with a cell-pruned codegen dot + TakeOrdered dense leg.
    */
  private[graft] def hybridQps(spark: SparkSession, sfDir: String,
      n: Int = 50): Seq[Double] = {
    import org.apache.spark.sql.functions._
    import graft.ops.{Ann, TextOps}
    import graft.streaming.{AnnIndexMaintainer, SearchIndexMaintainer}
    try {
      val base = Fixtures.scratch("graft_bench_hybrid", sfDir)
      val dd = Tables.read(spark, sfDir, "documents")
      val corpus = dd.where(col("doc_id") >= 50)
      val embCorpus = corpus.select(col("doc_id").as("vec_id"),
        TextOps.textEmbedding(col("text"), 8).as("embedding"))
      val cents = Ann.ivfCentroidsFromDf(
        Ann.ivfTrainBalanced(embCorpus, "embedding")._1)
      // untimed state prelude: disjoint b<g>/ writes on two disjoint
      // states — overlap them (guide §2.6), same bytes either way
      graft.Exec.inParallel((0 until 3).flatMap { g =>
        Seq[() => Unit](
          () => SearchIndexMaintainer.processBatch(
            corpus.where(col("doc_id") % 3 === g), g.toLong, "doc_id",
            "text", s"$base/postings"),
          () => AnnIndexMaintainer.processBatch(
            embCorpus.where(col("vec_id") % 3 === g), g.toLong, "vec_id",
            "embedding", cents, s"$base/index", roundScale = 6))
      }: _*)
      graft.Exec.inParallel(
        () => SearchIndexMaintainer.compact(spark, "doc_id",
          s"$base/postings"),
        () => AnnIndexMaintainer.compact(spark, s"$base/index"))
      // the serving tier loads the maintained state RESIDENT once (the
      // viewQps discipline: columnar state in memory, corpus stats
      // precomputed). Lucene's serving layout applied to the postings
      // state: doc-length norms ride INLINE with each posting (one join
      // at load, not one per query) and the term dictionary (term → df)
      // lives driver-side — vocabulary-sized, the piece every search
      // tier pins in RAM — so a point query plans a single pruned
      // aggregate over resident columns, no per-query broadcast builds.
      import spark.implicits._
      val dl = SearchIndexMaintainer.lengthsFromState(spark, "doc_id",
        s"$base/postings").get
      val post = SearchIndexMaintainer.readPostings(spark, "doc_id",
          s"$base/postings")
        .join(dl.select(col("doc_id"), col("len")), Seq("doc_id")).cache()
      val dfMap = post.groupBy("term")
        .agg(count(lit(1)).as("df")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val statRow = post.select(col("doc_id"), col("len")).distinct()
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.sum(col("len"))).head()
      val nDocs = statRow.getLong(0)
      val avgdl = statRow.getLong(1).toDouble / nDocs
      // inverted-file rows carry their norm resident too — the dense
      // probe is then a codegen dot + TakeOrdered over the probe cells
      val idx = AnnIndexMaintainer.readIndex(spark, s"$base/index")
        .select(col("id"),
          col("v").cast("array<double>").as("cv"), col("cell"))
        .withColumn("cn",
          sqrt(aggregate(col("cv"), lit(0.0), (a, x) => a + x * x)))
        .cache()
      idx.count()
      // the query workload: 50 held-out docs, terms + tower vector
      // precomputed driver-side (a serving tier embeds the query before
      // it touches the index)
      val qdocs = dd.where(col("doc_id") < 50)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
          TextOps.textEmbedding(col("text"), 8).as("v"))
        .collect().map(r => (r.getLong(0),
          r.getSeq[String](1).distinct.toSeq, r.getSeq[Double](2).toArray))
      val (k1, b) = (1.2, 0.75)
      qpsReps(n, qdocs.indices.map(_.toLong).toArray) { i =>
        val (_, terms, v) = qdocs(i.toInt)
        // BOTH legs' top-10s ride ONE action — a union of two bounded
        // top-k frames tagged by leg, so the scheduler overlaps the
        // legs' independent stages instead of paying two sequential job
        // round-trips. Sparse: idf folds in from the resident term
        // dictionary as a literal map, so the plan is filter → one
        // groupBy → TakeOrdered (one shuffle, BM25 exactly as
        // bm25FromPostingsWithLengths computes it). Dense: cell-pruned
        // codegen dot → TakeOrdered (zero shuffles). Ranks + RRF over
        // the ≤20 collected rows are tier-local arithmetic.
        val present = terms.filter(t => dfMap.getOrElse(t, 0L) > 0L)
        val idfMap = present.map { t =>
          val df = dfMap(t).toDouble
          t -> math.log((nDocs - df + 0.5) / (df + 0.5) + 1)
        }.toMap
        val sparse = post.where(col("term").isin(present: _*))
          .groupBy("doc_id")
          .agg(sum(element_at(typedLit(idfMap), col("term")) * col("tf") *
            lit(k1 + 1) / (col("tf") + lit(k1) * (lit(1 - b) +
              lit(b) * col("len") / avgdl))).as("score"))
          .orderBy(round(col("score"), 6).desc, col("doc_id")).limit(10)
          .select(col("doc_id").as("id"), round(col("score"), 6).as("score"),
            lit("s").as("leg"))
        val probeCells = Ann.nearestCellsLocal(v, cents, 4)
        val qn = math.sqrt(v.map(x => x * x).sum)
        val dense = idx.where(col("cell").isin(probeCells: _*))
          .select(col("id"),
            (Ann.dot(col("cv"), typedLit(v.toSeq)) / (col("cn") * qn))
              .as("score"), lit("d").as("leg"))
          .orderBy(round(col("score"), 6).desc, col("id")).limit(10)
        val legs = sparse.unionByName(dense).collect()
          .map(r => (r.getString(2), r.getLong(0), r.getDouble(1)))
        val ranked = legs.groupBy(_._1).values.flatMap { leg =>
          leg.sortBy { case (_, id, s) => (-s, id) }
            .zipWithIndex.map { case ((_, id, _), r) => id -> (r + 1) }
        }.toSeq
        val rrf = ranked.map(_._1).distinct.map { id =>
          id -> ranked.collect { case (`id`, r) => 1.0 / (60 + r) }.sum
        }.sortBy { case (id, s) => (-s, id) }.take(10)
        require(rrf.nonEmpty)
      }
    } catch { case e: Throwable => e.printStackTrace(); Seq.empty }
  }

  /** The reference's rec_workload.c protocol (BASELINE.md metric 3): against
    * a MATERIALIZED recommender (CREATE RECOMMENDER + materialized view —
    * the setup rec_workload.c queries), issue single-user top-10 RECOMMEND
    * queries for seeded pseudo-random users through the PUBLIC API
    * ([[graft.recdb.Recommender.recommend]] with the catalog) and report
    * queries/second. The engine auto-routes each query through the fresh
    * complete view (catalog-tracked freshness, invalidated by the R17
    * rebuild), so a query costs a pruned scan + top-k instead of a scoring
    * DAG — the fix for the round-3 `weak` direct-serving mark.
    */
  private[graft] def workloadQps(spark: SparkSession, sfDir: String,
      n: Int = 100): Seq[Double] = {
    import org.apache.spark.sql.functions._
    import graft.recdb.{RecCatalog, Recommender}
    try {
      val c = Tables.ratingCols
      val r = Tables.ratings(spark, sfDir).cache()
      val users = r.select(col(c.user)).distinct()
        .orderBy(col(c.user)).collect().map(_.getLong(0))
      val base = Fixtures.scratch("graft_bench_workload", sfDir)
      val cat = new RecCatalog(s"$base/catalog")
      val tag = s"events@$sfDir"
      Recommender.create(spark, "wl", r, tag, c, "itemCosCF",
        cat, s"$base/models")
      Recommender.materializeView(spark, "wl", r, cat, s"$base/views")
      // the protocol's query IS a single-user top-10 — served by the
      // engine's point-query path (pushed user=? over the cached
      // user-clustered view; falls back to scoring when no view is fresh)
      qpsReps(n, users) { u =>
        Recommender.recommendTopK(spark, r, tag, c, "itemCosCF", Some(cat),
          userId = u, k = 10).count()
      }
    } catch { case _: Throwable => Seq.empty }
  }

  /** The scale-path serving protocol: same single-user top-10 queries as
    * [[workloadQps]], but against a **top-k materialized view** (topK=100)
    * instead of the complete users×items view. At 100× data the complete
    * view is O(users×items) rows — unmaterializable — while the top-k view
    * is O(users×k): this metric proves the bounded artifact serves at
    * complete-view speed, so the engine's serving story survives scale.
    */
  private[graft] def workloadTopkQps(spark: SparkSession, sfDir: String,
      n: Int = 100): Seq[Double] = {
    import org.apache.spark.sql.functions._
    import graft.recdb.{RecCatalog, Recommender}
    try {
      val c = Tables.ratingCols
      val r = Tables.ratings(spark, sfDir).cache()
      val users = r.select(col(c.user)).distinct()
        .orderBy(col(c.user)).collect().map(_.getLong(0))
      val base = Fixtures.scratch("graft_bench_workload_topk", sfDir)
      val cat = new RecCatalog(s"$base/catalog")
      val tag = s"events_tk@$sfDir"
      Recommender.create(spark, "wltk", r, tag, c, "itemCosCF",
        cat, s"$base/models")
      Recommender.materializeView(spark, "wltk", r, cat, s"$base/views",
        topK = Some(100))
      qpsReps(n, users) { u =>
        Recommender.recommendTopK(spark, r, tag, c, "itemCosCF", Some(cat),
          userId = u, k = 10).count()
      }
    } catch { case _: Throwable => Seq.empty }
  }
}
