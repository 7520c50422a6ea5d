package graft

import org.apache.spark.sql.SparkSession

/** Repeat-run profiler: runs each named query `reps` times in one JVM and
  * prints per-run wall clock, separating fixed cost (planning + codegen +
  * JIT, visible as run1 − runN) from steady-state data cost (runN). Usage:
  *   runMain graft.Profile <reps> [queryName ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("p_neardup_jaccard", "p_minhash_lsh", "p_simhash_pairs")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // match Bench's codegen-cache sizing so profile numbers stay
      // representative of the bench environment
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    // A/B conf probes without a rebuild: GRAFT_PROFILE_CONF="k=v,k2=v2"
    sys.env.get("GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach {
      case "jaccard_stages" => jaccardStages(spark, sfDir, reps)
      case s if s.startsWith("usercf:") => userCfStrategy(spark, sfDir, reps, s)
      case s if s.startsWith("model:") => modelStrategy(spark, sfDir, reps, s)
      case "modelstages" => modelStages(spark, sfDir, reps)
      case "multirec" =>
        // stage decomposition of the r_multirec gate (the one remaining
        // above-bar sf1 outlier): which branch pays the 10s?
        import org.apache.spark.sql.functions._
        import graft.recdb.{Scoring, Similarity}
        val c = Tables.ratingCols
        def t(label: String)(body: => Long): Unit = {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime(); val n = body
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"PROFILE multirec:$label rows=${times.head._2} " +
            times.map(x => f"${x._1}%.2f").mkString(" "))
        }
        val r = Tables.ratings(spark, sfDir)
        t("ratings")(r.count())
        val rc = r.cache(); rc.count()
        val minUser = rc.agg(min(col("userid"))).head().getLong(0)
        val users = rc.select(col("userid"))
          .where(col("userid") === minUser).distinct()
        t("item_model")(Similarity.itemCosine(rc, c).count())
        val im = Similarity.itemCosine(rc, c).cache(); im.count()
        t("user_model_restricted")(
          Similarity.userCosine(rc, c, restrictTo = Some(users)).count())
        val um = Similarity.userCosine(rc, c, restrictTo = Some(users)).cache()
        um.count()
        t("itemcf_score")(Scoring.itemCF(rc, im, c, Some(users)).count())
        t("usercf_score")(Scoring.userCF(rc, um, c, Some(users)).count())
        val is = Scoring.itemCF(rc, im, c, Some(users))
        val us = Scoring.userCF(rc, um, c, Some(users))
        t("join_top10")(is.as("a").join(us.as("b"), Seq("userid", "itemid"))
          .select(col("userid"), col("itemid"),
            round((is("score") + us("score")) / 2, 6).as("combined"))
          .orderBy(col("combined").desc, col("itemid")).limit(10).count())
        t("gate_verbatim")(
          graft.SparkEntry.queries("r_multirec")(spark, sfDir).count())
      case "lshstages" =>
        import org.apache.spark.sql.functions._
        import graft.ops.Dedup
        import graft.functions.TextFns
        val docsDf = Tables.read(spark, sfDir, "documents")
        def t(label: String)(body: => Long): Unit = {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime(); val n = body
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"PROFILE lsh:$label rows=${times.head._2} " +
            times.map(x => f"${x._1}%.2f").mkString(" "))
        }
        val docs = docsDf.select(col("doc_id").as("id"),
          TextFns.charShinglesNative(col("text"), 5).as("grams"))
        t("grams_size")(docs.select(sum(size(col("grams")))).head().getLong(0))
        val wdocs = docsDf.select(col("doc_id").as("id"), col("text"))
          .repartition(32, col("id"))
          .select(col("id"), TextFns.charShinglesNative(col("text"), 5).as("grams"))
        t("grams_wide")(wdocs.select(sum(size(col("grams")))).head().getLong(0))
        t("sigs")(Dedup.minhashSignatures(wdocs, "id", "grams", 64).count())
        val ex = wdocs.select(col("id"), explode(col("grams")).as("g"))
        t("explode_hash")(ex.select(col("id"),
          pmod(hash(col("g")).cast("long"), lit(2147483647L)).as("h"))
          .agg(count(lit(1))).head().getLong(0))
        t("explode_hashed_arr")(wdocs.select(col("id"),
          explode(expr("transform(grams, g -> hash(g))")).as("h"))
          .agg(count(lit(1))).head().getLong(0))
        t("explode_noproj")(docsDf.select(col("doc_id").as("id"), col("text"))
          .repartition(32, col("id"))
          .select(col("id"),
            explode(TextFns.charShinglesNative(col("text"), 5)).as("g"))
          .agg(count(lit(1))).head().getLong(0))
        t("sigs_inline") {
          val base = docsDf.select(col("doc_id").as("id"), col("text"))
            .repartition(32, col("id"))
            .select(col("id"),
              explode(TextFns.charShinglesNative(col("text"), 5)).as("g"))
            .select(col("id"),
              pmod(hash(col("g")).cast("long"), lit(2147483647L)).as("h"))
          val mins = (0 until 64).map(i =>
            min(pmod(lit(3 + 2 * i) * col("h") + lit(7 * i), lit(2147483647L))).as(s"m$i"))
          base.groupBy(col("id")).agg(mins.head, mins.tail: _*)
            .select(col("id"), array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
            .count()
        }
        val ck = wdocs.localCheckpoint()
        t("explode_from_ck")(ck.select(col("id"), explode(col("grams")).as("g"))
          .agg(count(lit(1))).head().getLong(0))
        t("agg64_from_ck")(Dedup.minhashSignatures(ck, "id", "grams", 64).count())
        t("agg8_from_ck")(Dedup.minhashSignatures(ck, "id", "grams", 8).count())
        t("full")(Dedup.charMinhashLshPairs(docsDf, "doc_id", "text", 5, 64, 16, 0.8).count())
      case s if s.startsWith("fullgate") =>
        // The whole SparkEntry.queries set at `mult`× the bench scale
        // (usage: fullgate[:mult], default 10 — i.e. sf1-equivalent volume
        // when SPARK_GRAFT_SF_DIR=sf0.1). The scaled tables are id-shifted
        // replicas of the REAL driver data (FK-consistent shifts; document
        // text gets a per-copy word suffix so each copy's vocabulary is
        // disjoint — within-copy duplicate/near-dup structure is preserved
        // and output grows linearly, without the artificial quadratic
        // cross-copy pair blowup 10 verbatim clones would inject;
        // embeddings get a per-copy epsilon so clones don't collapse).
        // Every query is timed cold (cache cleared before each run) at both
        // scales; ratio > `mult`×1.5 is flagged SUPERLINEAR.
        val mult = s.split(':').drop(1).headOption.map(_.toInt).getOrElse(10)
        val scaled = buildScaledDir(spark, sfDir, mult)
        val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
        def timeq(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String): (Double, Long) = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val n = try fn(spark, dir).count() catch { case _: Throwable => -1L }
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val flagged = scala.collection.mutable.ArrayBuffer.empty[String]
        var (tb, ts) = (0.0, 0.0)
        ordered.foreach { case (name, fn) =>
          val (b, _) = timeq(fn, sfDir)
          val (sc, rows) = timeq(fn, scaled)
          tb += b; ts += sc
          val ratio = if (b > 0) sc / b else -1.0
          val mark = if (ratio > mult * 1.5 && sc > 2.0) { // noise floor
            flagged += name; " SUPERLINEAR"
          } else ""
          println(f"PROFILE fullgate $name base=$b%.2fs scaled=$sc%.2fs " +
            f"rows=$rows ratio=$ratio%.1fx$mark")
        }
        println(f"PROFILE fullgate TOTAL base=$tb%.1fs scaled=$ts%.1fs " +
          f"ratio=${ts / tb}%.1fx flagged=${flagged.mkString(",")}")
      case s if s.startsWith("queries:") =>
        // Focused base-vs-scaled timing of named SparkEntry queries (usage:
        // queries:<name1,name2,...>[:mult]) — the fullgate protocol (cold
        // cache per run) restricted to a subset, for iterating on flagged
        // outliers without a full 118-gate sweep.
        val parts = s.split(':')
        val wanted = parts(1).split(',').toSeq
        val mult = parts.drop(2).headOption.map(_.toInt).getOrElse(10)
        val scaled = buildScaledDir(spark, sfDir, mult)
        wanted.foreach { name =>
          val fn = graft.SparkEntry.queries(name)
          def timeq(dir: String): (Double, Long) = {
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            val n = fn(spark, dir).count()
            ((System.nanoTime() - t0) / 1e9, n)
          }
          val b = (1 to reps).map(_ => timeq(sfDir)._1).min
          val runs = (1 to reps).map(_ => timeq(scaled))
          val (sc, rows) = (runs.map(_._1).min, runs.head._2)
          println(f"PROFILE queries $name base=$b%.2fs scaled=$sc%.2fs " +
            f"rows=$rows ratio=${sc / b}%.1fx")
        }
      case s if s.startsWith("bpeprobe") =>
        // BPE merge learning at synthetic-vocabulary scale (usage:
        // bpeprobe[:vocabRows], default 1M distinct words). The claim under
        // test: per-round cost is ONE aggregation over the vocab frame +
        // a one-row collect, so learning scales linearly in vocab size and
        // is independent of corpus size (the word-freq aggregation that
        // feeds it is the only corpus-touching pass).
        import org.apache.spark.sql.functions._
        val vocabRows = s.split(':').drop(1).headOption.map(_.toLong)
          .getOrElse(1000000L)
        val nMerges = s.split(':').drop(2).headOption.map(_.toInt).getOrElse(30)
        Seq(vocabRows / 10, vocabRows).foreach { n =>
          val wf = spark.range(n).select(
            // md5-hex words, length 8..15, freq from a Zipf-ish tail
            expr("substr(md5(cast(id AS string)), 1, 8 + cast(id % 8 AS int))")
              .as("word"),
            (lit(1L) + col("id") % 97).as("freq"))
          val t0 = System.nanoTime()
          val merges = graft.ops.Bpe.learnMergesFromWordFreq(wf, nMerges)
          val t = (System.nanoTime() - t0) / 1e9
          val rounds = graft.ops.Bpe.lastLearnRounds
          println(f"PROFILE bpeprobe vocab=$n merges=${merges.length} " +
            f"rounds=$rounds merges_per_round=${merges.length.toDouble / rounds}%.1f " +
            f"learn=$t%.1fs per_merge=${t / merges.length}%.3fs")
        }
      case s if s.startsWith("scaleprobe") =>
        // similarity + scoring at generator scale (default 5M events,
        // 50k users × 1k items — ~75× the sf0.1 ratings volume; usage:
        // scaleprobe[:rows]). Validates the sparse join path and the
        // all-users sweep well beyond the testdata sizes.
        import org.apache.spark.sql.functions._
        import graft.recdb.{Scoring, Similarity}
        val rows = s.split(":").drop(1).headOption.map(_.toLong).getOrElse(5000000L)
        val ev = spark.read.format("graft-events")
          .option("rows", rows).option("users", rows / 100)
          .option("items", 1000).option("numPartitions", 64).load()
          .select(col("user_id").as("userid"), col("item_id").as("itemid"),
            col("value").as("rating"))
          .groupBy("userid", "itemid").agg(max("rating").as("rating"))
          .cache()
        val nEv = ev.count()
        var t0 = System.nanoTime()
        val model = Similarity.itemCosine(ev, Tables.ratingCols).cache()
        val nModel = model.count()
        val tModel = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val nScores = Scoring.itemCF(ev, model, Tables.ratingCols).count()
        val tScores = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE scaleprobe events=$nEv model_pairs=$nModel " +
          f"build=$tModel%.1fs sweep_rows=$nScores sweep=$tScores%.1fs " +
          f"users_per_sec=${(nScores / 1000.0) / tScores}%.0f")
      case s if s.startsWith("flipprobe") =>
        // Strategy-picker flip probe: the same 100-item catalog shape as
        // sf0.1 with growing user bases (1×/10×/100×), forced-join vs
        // forced-dense vs 'auto' item-model builds. Predicted behavior:
        // dense wins at the sf0.1 shape (cost model), the cost model flips
        // to the sparse join at ~10× (fan-out per dim shrinks while dense
        // cells grow with dims), and at ~100× the dims bound
        // (DenseDimLimit) forces sparse outright — whose memory must stay
        // flat because only co-rating pairs materialize. Usage:
        // flipprobe[:u1,u2,...]
        import org.apache.spark.sql.functions._
        import graft.recdb.Similarity
        val userScales = s.split(":").drop(1).headOption
          .map(_.split(",").toSeq.map(_.toLong))
          .getOrElse(Seq(1500L, 15000L, 150000L))
        userScales.foreach { users =>
          val ev = spark.read.format("graft-events")
            .option("rows", users * 50).option("users", users)
            .option("items", 100).option("numPartitions", 64).load()
            .select(col("user_id").as("userid"), col("item_id").as("itemid"),
              col("value").as("rating"))
            .groupBy("userid", "itemid").agg(max("rating").as("rating"))
            .cache()
          val nEv = ev.count()
          def timed(strategy: String): (Double, Long) = {
            val t0 = System.nanoTime()
            val n = Similarity.itemCosine(ev, Tables.ratingCols, strategy).count()
            ((System.nanoTime() - t0) / 1e9, n)
          }
          val (tJoin, nModel) = timed("join")
          val denseStr =
            if (users <= Similarity.DenseDimLimit) f"${timed("dense")._1}%.1fs"
            else "skipped(dims>DenseDimLimit)"
          val t0 = System.nanoTime()
          val autoDf = Similarity.itemCosine(ev, Tables.ratingCols, "auto")
          autoDf.count()
          val tAuto = (System.nanoTime() - t0) / 1e9
          // the dense path's p1 < p2 pair join is non-equi → nested-loop /
          // cartesian in the physical plan; the sparse path is a pure
          // equi-join — so the executed plan is the pick's witness
          val plan = autoDf.queryExecution.executedPlan.toString
          val picked =
            if (plan.contains("NestedLoop") || plan.contains("Cartesian")) "dense"
            else "join"
          ev.unpersist()
          System.gc()
          val rt = Runtime.getRuntime
          val usedMb = (rt.totalMemory - rt.freeMemory) / (1 << 20)
          println(f"PROFILE flipprobe users=$users events=$nEv " +
            f"model_pairs=$nModel join=$tJoin%.1fs dense=$denseStr " +
            f"auto=$tAuto%.1fs auto_picked=$picked heap_used=${usedMb}MB")
        }
      case s if s.startsWith("dedupprobe") =>
        // near-dup detection at synthetic-corpus scale (default 100k docs,
        // ~20x the sf0.1 documents table; usage: dedupprobe[:n]): docs with
        // id%20 in {0,1} share a word sequence, the odd mate perturbed by a
        // prefix word, so n/20 planted pairs sit at jaccard ~0.9. Reports
        // LSH wall time + planted-pair recall — the MinHash path's cost and
        // accuracy trajectory for a 100 TB corpus.
        import org.apache.spark.sql.functions._
        val n = s.split(":").drop(1).headOption.map(_.toLong).getOrElse(100000L)
        val grp = when(col("id") % 20 < 2, (col("id") / 20).cast("long") * 20)
          .otherwise(col("id"))
        val words = array_join(transform(sequence(lit(0), lit(59)),
          i => concat(lit("w"), pmod(hash(grp * 53 + i), lit(5000)))), " ")
        val docs = spark.range(0, n, 1, 64)
          .select(col("id").as("doc_id"),
            concat(when(col("id") % 20 === 1, lit("salt ")).otherwise(lit("")),
              words).as("text"))
          .cache()
        docs.count()
        val t0 = System.nanoTime()
        val pairs = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
          nGram = 3, numPerm = 64, bands = 16, threshold = 0.8)
          .select(col("id1"), col("id2")).cache()
        val nPairs = pairs.count()
        val tLsh = (System.nanoTime() - t0) / 1e9
        val planted = pairs.where(col("id1") % 20 === 0 &&
          col("id2") === col("id1") + 1).count()
        println(f"PROFILE dedupprobe docs=$n pairs=$nPairs " +
          f"planted_found=$planted/${n / 20} lsh=$tLsh%.1fs " +
          f"docs_per_sec=${n / tLsh}%.0f")
      case s if s.startsWith("textprobe") =>
        // round-4 text-op cost at synthetic-corpus scale (default 200k docs,
        // dedupprobe's generator: id%20∈{0,1} docs share their 60-word body,
        // so boilerplate grams genuinely exist). Reports wall time for
        // boilerplateFraction (df-aggregate + broadcast-back), normalizeText
        // (pure map), and capPerKey (one shuffle on the key) — all linear
        // passes, the 100 TB trajectory. Usage: textprobe[:n]
        import org.apache.spark.sql.functions._
        val n = s.split(":").drop(1).headOption.map(_.toLong).getOrElse(200000L)
        val grp = when(col("id") % 20 < 2, (col("id") / 20).cast("long") * 20)
          .otherwise(col("id"))
        val words = array_join(transform(sequence(lit(0), lit(59)),
          i => concat(lit("w"), pmod(hash(grp * 53 + i), lit(5000)))), " ")
        val docs = spark.range(0, n, 1, 64)
          .select(col("id").as("doc_id"),
            concat(when(col("id") % 20 === 1, lit("salt ")).otherwise(lit("")),
              words).as("text"),
            concat(lit("src"), pmod(col("id"), lit(50))).as("source"))
          .cache()
        docs.count()
        def time(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val rows = f
          val t = (System.nanoTime() - t0) / 1e9
          println(f"PROFILE textprobe docs=$n $label rows=$rows " +
            f"t=$t%.1fs docs_per_sec=${n / t}%.0f")
        }
        time("boiler_frac") {
          // aggregate the VALUE column — a bare count() lets the optimizer
          // skip the df-aggregate + join entirely
          val r = graft.ops.Corpus.boilerplateFraction(docs, "doc_id", "text")
            .agg(sum(col("boiler_frac")), count(lit(1))).head()
          r.getLong(1)
        }
        time("normalize") {
          docs.select(graft.ops.TextOps.normalizeText(col("text")).as("t"))
            .agg(sum(length(col("t")))).head(); n
        }
        time("cap_per_key") {
          graft.ops.Sampling.capPerKey(docs, "source", "doc_id", 1000).count()
        }
      case s if s.startsWith("deltaprobe") =>
        // incremental-maintenance cost at generator scale: init the cosine
        // state from N events, then merge a ~1% delta — the delta merge must
        // cost a small fraction of the init (cost ∝ delta activity, the
        // 100 TB argument for mergeable state). Usage: deltaprobe[:rows]
        import org.apache.spark.sql.functions._
        import graft.recdb.{EventCols, IncrementalSimilarity}
        val rows = s.split(":").drop(1).headOption.map(_.toLong).getOrElse(5000000L)
        val c = graft.Tables.ratingCols
        val ev = spark.read.format("graft-events")
          .option("rows", rows).option("users", rows / 100)
          .option("items", 1000).option("numPartitions", 64).load()
          .select(col("user_id").as("userid"), col("item_id").as("itemid"),
            col("value").as("rating"))
          .groupBy("userid", "itemid").agg(max("rating").as("rating"))
          .cache()
        val nEv = ev.count()
        // split by CELL, not by user: delta events belong to users with
        // existing history, so the delta×history join (the real merge path)
        // is exercised, not just within-delta pairs
        val hist = ev.where((col("userid") * 31 + col("itemid")) % 100 =!= 0).cache()
        val delta = ev.where((col("userid") * 31 + col("itemid")) % 100 === 0).cache()
        val (nh, nd) = (hist.count(), delta.count())
        var t0 = System.nanoTime()
        val st = IncrementalSimilarity.itemCosineState(hist, c)
        val stC = graft.recdb.IncrementalSimilarity.SimState(
          st.dots.cache(), st.norms2.cache())
        val nPairs = stC.dots.count() + stC.norms2.count()
        val tInit = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val merged = IncrementalSimilarity.updateItemCosineState(stC, hist, delta, c)
        val nMerged = merged.dots.count()
        val tMerge = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE deltaprobe events=$nEv hist=$nh delta=$nd " +
          f"state_rows=$nPairs init=$tInit%.1fs merged_pairs=$nMerged " +
          f"merge=$tMerge%.1fs ratio=${tMerge / tInit}%.2f")
      case "modelplan" =>
        import graft.recdb.Similarity
        val r = Tables.ratings(spark, sfDir).cache()
        r.count()
        val m = Similarity.userCosine(r, Tables.ratingCols, "dense")
        m.count()
        val p = graft.sources.Bucketing.concretePlan(m)
        val kinds = p.collect { case n => n.nodeName }
          .groupBy(identity).view.mapValues(_.size).toMap.toSeq.sortBy(-_._2)
        println("PROFILE modelplan " + kinds.map { case (k, v) => s"$k=$v" }.mkString(" "))
      case "usercf_stages" => userCfStages(spark, sfDir, reps)
      case "serving" =>
        // single-user latency variants: (a) from-model auto, (b) from-model
        // join + fewer shuffle partitions, (c) from cached materialized view
        import org.apache.spark.sql.functions._
        import graft.recdb.{Scoring, Similarity}
        val c = Tables.ratingCols
        val r = Tables.ratings(spark, sfDir).cache()
        val users = r.select(col(c.user)).distinct()
          .orderBy(col(c.user)).collect().map(_.getLong(0))
        val model = Similarity.itemCosine(r, c).cache()
        model.count()
        val rnd = new scala.util.Random(42)
        def time(label: String)(body: Long => Unit): Unit = {
          val ts = (1 to reps).map { _ =>
            val u = users(rnd.nextInt(users.length))
            val t0 = System.nanoTime(); body(u); (System.nanoTime() - t0) / 1e9
          }
          println(f"PROFILE serving:$label " + ts.map(t => f"$t%.3f").mkString(" "))
        }
        time("auto") { u =>
          val uf = r.where(col(c.user) === u).select(col(c.user)).distinct()
          Scoring.itemCF(r, model, c, Some(uf))
            .orderBy(col("score").desc, col(c.item)).limit(10).count()
        }
        time("join") { u =>
          val uf = r.where(col(c.user) === u).select(col(c.user)).distinct()
          Scoring.itemCF(r, model, c, Some(uf), strategy = "join")
            .orderBy(col("score").desc, col(c.item)).limit(10).count()
        }
        spark.conf.set("spark.sql.shuffle.partitions", 4)
        time("join_p4") { u =>
          val uf = r.where(col(c.user) === u).select(col(c.user)).distinct()
          Scoring.itemCF(r, model, c, Some(uf), strategy = "join")
            .orderBy(col("score").desc, col(c.item)).limit(10).count()
        }
        spark.conf.set("spark.sql.shuffle.partitions", cpus)
        val view = Scoring.itemCF(r, model, c).cache()
        view.count()
        time("view") { u =>
          view.where(col(c.user) === u)
            .orderBy(col("score").desc, col(c.item)).limit(10).count()
        }
      case "workload" =>
        // rec_workload.c per-query latency decomposition: plan-time (strategy
        // stats jobs) vs execution for single-user top-10 RECOMMEND
        import org.apache.spark.sql.functions._
        import graft.recdb.{Scoring, Similarity}
        val c = Tables.ratingCols
        val r = Tables.ratings(spark, sfDir).cache()
        val users = r.select(col(c.user)).distinct()
          .orderBy(col(c.user)).collect().map(_.getLong(0))
        val model = graft.recdb.Similarity.itemCosine(r, c).cache()
        model.count()
        val rnd = new scala.util.Random(42)
        (1 to reps).foreach { _ =>
          val u = users(rnd.nextInt(users.length))
          var t0 = System.nanoTime()
          val uf = r.where(col(c.user) === u).select(col(c.user)).distinct()
          val df = Scoring.itemCF(r, model, c, Some(uf))
          val tPlan = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          df.orderBy(col("score").desc, col(c.item)).limit(10).count()
          val tExec = (System.nanoTime() - t0) / 1e9
          println(f"PROFILE workload u=$u plan=$tPlan%.3f exec=$tExec%.3f")
        }
      case s if s.startsWith("knngraph_nlist") =>
        // The kNN-graph IVF cost model, demonstrated: at a FIXED quantizer
        // the within-cell candidate volume grows quadratically with the
        // corpus (the fullgate probe's 7.3× at 10× data); re-training with
        // nlist ∝ corpus restores per-cell work — the sizing rule the
        // operator's caller owns at deploy time.
        // usage: knngraph_nlist[:mult] — times knnGraph on the scaled
        // corpus with nlist ∈ {8, 8·√mult, 8·mult}.
        import graft.ops.Ann
        val mult = s.split(':').drop(1).headOption.map(_.toInt).getOrElse(10)
        val scaled = buildScaledDir(spark, sfDir, mult)
        val e = Tables.read(spark, scaled, "embeddings")
        Seq(8, 8 * math.sqrt(mult).round.toInt, 8 * mult).distinct.foreach { nl =>
          spark.catalog.clearCache()
          val cents = Ann.ivfCentroidsFromDf(
            Ann.ivfTrain(e, "embedding", nlist = nl))
          val t0 = System.nanoTime()
          val n = Ann.knnGraph(e, "vec_id", "embedding", k = 5, cents,
            nprobe = 2, rankOnRoundedTo = Some(6)).count()
          println(f"PROFILE knngraph_nlist nlist=$nl " +
            f"t=${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
        }
      case "ivf_vs_brute" =>
        val b = SparkEntry.queries("p_knn_brute")(spark, sfDir).collect()
          .map(_.toString).toSet
        val v = SparkEntry.queries("p_knn_ivf")(spark, sfDir).collect()
          .map(_.toString).toSet
        println(s"PROFILE ivf_vs_brute equal=${b == v} brute=${b.size} " +
          s"ivf=${v.size} onlyBrute=${(b -- v).size}")
      case s if s.startsWith("annprobe") =>
        // ANN at synthetic-corpus scale (default 300k vectors × 64 dims,
        // ~60× the sf0.1 embeddings table; usage: annprobe[:n]): brute vs
        // IVF vs PQ on the same 5-query batch, then IVF serving a 100-query
        // batch — the scale story is that IVF cost is corpus_fraction ≈
        // nprobe/nlist of brute's, and PQ scans m-byte codes instead of
        // dim-double vectors.
        import org.apache.spark.sql.functions._
        import graft.ops.Ann
        val n = s.split(":").drop(1).headOption.map(_.toLong).getOrElse(300000L)
        val corpus = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            (pmod(xxhash64(col("id"), j), lit(1000L)).cast("double") / 500.0) - 1.0)
            .as("embedding"))
          .repartition(64).cache()
        corpus.count()
        val q5 = corpus.where(col("vec_id") < 5)
        def t(body: => Long): (Double, Long) = {
          val t0 = System.nanoTime(); val r = body
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val (tB, nB) = t(Ann.bruteTopK(corpus, q5, "vec_id", "embedding", 10).count())
        val (tI, nI) = t(Ann.ivfTopK(corpus, q5, "vec_id", "embedding", 10,
          nlist = 64, nprobe = 8).count())
        val (tP, nP) = t(Ann.pqTopK(corpus, q5, "vec_id", "embedding", 10).count())
        val q100 = corpus.where(col("vec_id") < 100)
        val (tI100, _) = t(Ann.ivfTopK(corpus, q100, "vec_id", "embedding", 10,
          nlist = 64, nprobe = 8).count())
        // serving shape: models trained/encoded ONCE, scans reuse them —
        // what a deployed index pays per query batch
        val cents = Ann.ivfCentroidsFromDf(
          Ann.ivfTrain(corpus, "embedding", nlist = 64))
        val cb = Ann.pqTrain(corpus, "embedding", 8, 32)
        val codes = Ann.pqEncode(corpus, "vec_id", "embedding", cb).cache()
        codes.count()
        val (tIs, _) = t(Ann.ivfTopK(corpus, q100, "vec_id", "embedding", 10,
          nlist = 64, nprobe = 8, centroidsOpt = Some(cents)).count())
        val (tPs, _) = t(Ann.pqTopK(corpus, q100, "vec_id", "embedding", 10,
          codebooksOpt = Some(cb), codesOpt = Some(codes)).count())
        println(f"PROFILE annprobe n=$n brute5=$tB%.1fs($nB) ivf5=$tI%.1fs($nI) " +
          f"pq5=$tP%.1fs($nP) ivf100=$tI100%.1fs ivf_qps=${100.0 / tI100}%.1f " +
          f"ivf100_pretrained=$tIs%.1fs(${100.0 / tIs}%.1fq/s) " +
          f"pq100_precoded=$tPs%.1fs(${100.0 / tPs}%.1fq/s)")
      case "denseingest" =>
        // Micro-decomposition of the ANN dense-leg processBatch: embedding
        // compute vs cell assignment vs the cell-partitioned write.
        import org.apache.spark.sql.functions._
        import graft.ops.TextOps
        val cents = PipelineQueries.hybridCentsProbe(spark, sfDir)
        val corpus = Tables.read(spark, sfDir, "documents")
          .where(col("doc_id") >= 25 && col("doc_id") < 2000)
        val embCorpus = corpus.select(col("doc_id").as("vec_id"),
          TextOps.textEmbedding(col("text"), 8).as("embedding"))
        val half = embCorpus.where(col("vec_id") % 2 === 0)
        def tt(label: String)(body: => Unit): Unit = {
          (1 to reps).foreach { i =>
            val t0 = System.nanoTime(); body
            println(f"PROFILE denseingest:$label rep$i " +
              f"${(System.nanoTime() - t0) / 1e9}%.2f")
          }
        }
        val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
          "graft_prof_denseingest").toString
        tt("embed_noop")(half.write.format("noop").mode("overwrite").save())
        val assigned = half.select(col("vec_id").cast("long").as("id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("batch_id", lit(0L))
          .withColumn("cell", graft.functions.VectorFns.nearestCellNative(
            col("v"), cents, 6))
        tt("assign_noop")(
          assigned.write.format("noop").mode("overwrite").save())
        tt("repart_noop")(assigned.repartition(col("cell"))
          .write.format("noop").mode("overwrite").save())
        tt("write_flat") {
          graft.Exec.deletePath(base)
          assigned.repartition(col("cell"))
            .write.mode("overwrite").parquet(s"$base/flat")
        }
        tt("write_partitioned") {
          graft.Exec.deletePath(base)
          assigned.repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$base/part")
        }
        tt("processBatch_verbatim") {
          graft.Exec.deletePath(base)
          graft.streaming.AnnIndexMaintainer.processBatch(half, 0L,
            "vec_id", "embedding", cents, s"$base/index", roundScale = 6)
        }
      case "denseingest2" =>
        // Round-16 attribution of the ~14 ms/partition-dir dynamic-write
        // overhead: wall vs summed task time per variant — the gap is
        // driver-side (commit protocol, scheduling); task-side shows up in
        // the sum. Variants probe the plausible levers without touching
        // the layout contract.
        import org.apache.spark.sql.functions._
        import graft.ops.TextOps
        val cents = PipelineQueries.hybridCentsProbe(spark, sfDir)
        val corpus = Tables.read(spark, sfDir, "documents")
          .where(col("doc_id") >= 25 && col("doc_id") < 2000)
        val embCorpus = corpus.select(col("doc_id").as("vec_id"),
          TextOps.textEmbedding(col("text"), 8).as("embedding"))
        val half = embCorpus.where(col("vec_id") % 2 === 0)
        val assigned = half.select(col("vec_id").cast("long").as("id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("batch_id", lit(0L))
          .withColumn("cell", graft.functions.VectorFns.nearestCellNative(
            col("v"), cents, 6))
        val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
          "graft_prof_denseingest2").toString
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            Option(te.taskInfo).foreach { ti =>
              tasks.incrementAndGet(); taskTimeMs.addAndGet(ti.duration) }
            ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          def tt(label: String)(body: => Unit): Unit = {
            (1 to reps).foreach { i =>
              jobs.set(0); tasks.set(0); taskTimeMs.set(0)
              val t0 = System.nanoTime(); body
              val wall = (System.nanoTime() - t0) / 1e9
              Thread.sleep(300)
              println(f"PROFILE di2:$label rep$i wall=$wall%.2f " +
                f"jobs=${jobs.get} tasks=${tasks.get} " +
                f"taskSum=${taskTimeMs.get / 1000.0}%.2f")
            }
          }
          def fresh(body: String => Unit): Unit = {
            graft.Exec.deletePath(base); body(s"$base/part")
          }
          tt("part_base")(fresh { p =>
            assigned.repartition(col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p) })
          tt("part_sorted")(fresh { p =>
            assigned.repartition(col("cell")).sortWithinPartitions("cell")
              .write.mode("overwrite").partitionBy("cell").parquet(p) })
          val hc = spark.sparkContext.hadoopConfiguration
          tt("part_v2")(fresh { p =>
            hc.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
            try assigned.repartition(col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p)
            finally hc.set(
              "mapreduce.fileoutputcommitter.algorithm.version", "1") })
          tt("part_8tasks")(fresh { p =>
            assigned.repartition(8, col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p) })
          tt("part_noplanned")(fresh { p =>
            spark.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
            try assigned.repartition(col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p)
            finally spark.conf.set(
              "spark.sql.optimizer.plannedWrite.enabled", "true") })
          tt("flat_base")(fresh { p =>
            assigned.repartition(col("cell"))
              .write.mode("overwrite").parquet(p) })
          tt("part_32tasks")(fresh { p =>
            assigned.repartition(32, col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p) })
          tt("part_nlist")(fresh { p =>
            assigned.repartition(cents.length, col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p) })
          tt("part_64tasks")(fresh { p =>
            assigned.repartition(64, col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(p) })
        } finally spark.sparkContext.removeSparkListener(listener)
      case "hybridfreshstages" =>
        // Stage decomposition of s_hybrid_fresh (round-15 slowest gate):
        // two-leg ingest vs serve vs fold, per wave.
        import org.apache.spark.sql.functions._
        import graft.ops.{TextOps, TfIdf}
        val t0h = System.nanoTime()
        val cents = PipelineQueries.hybridCentsProbe(spark, sfDir)
        println(f"PROFILE hybridfresh:state_memo " +
          f"${(System.nanoTime() - t0h) / 1e9}%.2f")
        (1 to reps).foreach { rep =>
          val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
            "graft_prof_hybridfresh").toString
          graft.Exec.deletePath(base)
          val corpus = Tables.read(spark, sfDir, "documents")
            .where(col("doc_id") >= 25 && col("doc_id") < 2000)
          val embCorpus = corpus.select(col("doc_id").as("vec_id"),
            TextOps.textEmbedding(col("text"), 8).as("embedding"))
          val evalQ = Tables.read(spark, sfDir, "documents")
            .where(col("doc_id") < 5)
          val qterms = evalQ.select(col("doc_id").as("qid"),
            explode(TextOps.tokens(col("text"))).as("term")).distinct()
          val qvecs = evalQ.select(col("doc_id"),
              TextOps.textEmbedding(col("text"), 8).as("v"))
            .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
            .toSeq
          def tt(label: String)(body: => Unit): Unit = {
            val t0 = System.nanoTime(); body
            println(f"PROFILE hybridfresh:$label rep$rep " +
              f"${(System.nanoTime() - t0) / 1e9}%.2f")
          }
          (0 until 2).foreach { g =>
            tt(s"ingest_sparse w$g")(
              graft.streaming.SearchIndexMaintainer.processBatch(
                corpus.where(col("doc_id") % 2 === g), g.toLong, "doc_id",
                "text", s"$base/postings"))
            tt(s"ingest_dense w$g")(
              graft.streaming.AnnIndexMaintainer.processBatch(
                embCorpus.where(col("vec_id") % 2 === g), g.toLong,
                "vec_id", "embedding", cents, s"$base/index",
                roundScale = 6))
            tt(s"serve_sparse w$g") {
              graft.streaming.SearchIndexMaintainer.searchBatch(
                spark, s"$base/postings", "doc_id", qterms, "qid", "term",
                k = 10).count()
              ()
            }
            tt(s"serve_dense w$g") {
              graft.streaming.AnnIndexMaintainer.search(
                spark, s"$base/index", cents, qvecs, k = 10,
                rankOnRoundedTo = Some(6)).count()
              ()
            }
            tt(s"serve_fused w$g") {
              val sparse = graft.streaming.SearchIndexMaintainer.searchBatch(
                spark, s"$base/postings", "doc_id", qterms, "qid", "term",
                k = 10).select(col("qid"), col("doc_id"), col("rank"))
              val dense = graft.streaming.AnnIndexMaintainer.search(
                spark, s"$base/index", cents, qvecs, k = 10,
                rankOnRoundedTo = Some(6))
                .select(col("query_id").as("qid"),
                  col("neighbor_id").as("doc_id"), col("rank"))
              graft.Exec.materializeLocal(
                TfIdf.rrfFuse(sparse, dense, "qid", "doc_id", k = 10))
              ()
            }
            if (g == 0) {
              tt("fold_sparse")(
                graft.streaming.SearchIndexMaintainer.compact(spark,
                  "doc_id", s"$base/postings"))
              tt("fold_dense")(
                graft.streaming.AnnIndexMaintainer.compact(spark,
                  s"$base/index"))
            }
          }
        }
        (1 to reps).foreach { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries("s_hybrid_fresh")(spark, sfDir).count()
          println(f"PROFILE hybridfresh:gate_verbatim " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f")
        }
      case "semdedupstages" =>
        // Stage decomposition of s_semdedup: ingest waves vs fold vs the
        // derive-from-index pruning pass.
        import org.apache.spark.sql.functions._
        import graft.ops.Ann
        def t(label: String)(body: => Long): Unit = {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime(); val n = body
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"PROFILE semdedup:$label rows=${times.head._2} " +
            times.map(x => f"${x._1}%.2f").mkString(" "))
        }
        val cents = PipelineQueries.semDedupCentsFor(spark, sfDir)
        val e = Tables.read(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
          "graft_prof_semdedup").toString
        t("ingest2")({
          graft.Exec.deletePath(base)
          (0 until 2).foreach { g =>
            graft.streaming.AnnIndexMaintainer.processBatch(
              e.where(col("vec_id") % 2 === g), g.toLong, "vec_id",
              "embedding", cents, s"$base/index", roundScale = 6)
          }
          0L
        })
        t("compact")({
          graft.streaming.AnnIndexMaintainer.compact(spark, s"$base/index")
          0L
        })
        t("read_index")(graft.streaming.AnnIndexMaintainer
          .readIndex(spark, s"$base/index").count())
        t("derive")(Ann.semDedupAssigned(
          graft.streaming.AnnIndexMaintainer.readIndex(spark, s"$base/index")
            .select(col("id").as("vec_id"), col("v").as("__v"), col("cell")),
          "vec_id", tau = 0.3).count())
        t("gate_verbatim")(
          SparkEntry.queries("s_semdedup")(spark, sfDir).count())
      case "benchworkloads" =>
        // The Bench serving loops, runnable under GRAFT_PROFILE_CONF for
        // conf A/B (e.g. codegen on/off) without touching the driver's
        // Bench entry point. Prints each metric's rep array.
        def wl(label: String)(reps: => Seq[Double]): Unit = {
          val rs = try reps catch { case e: Throwable =>
            e.printStackTrace(); Seq.empty[Double] }
          println(f"PROFILE benchworkloads:$label " +
            rs.map(r => f"$r%.2f").mkString(" "))
        }
        wl("qps")(Bench.workloadQps(spark, sfDir))
        wl("topk")(Bench.workloadTopkQps(spark, sfDir))
        wl("sweep")(Bench.sweepUsersPerSec(spark, sfDir))
        wl("view")(Bench.viewQps(spark, sfDir))
        wl("hybrid")(Bench.hybridQps(spark, sfDir))
      case s if s.startsWith("jobstats:") =>
        // Overhead attribution for one gate: jobs launched, stages, tasks,
        // summed executor task time vs wall clock — the gap is driver-side
        // overhead (planning, codegen, scheduling, checkpoint commits).
        val name = s.stripPrefix("jobstats:")
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val stages = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
          override def onStageCompleted(
              st: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            stages.incrementAndGet()
            tasks.addAndGet(st.stageInfo.numTasks); ()
          }
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            Option(te.taskInfo).foreach(ti => taskTimeMs.addAndGet(ti.duration))
            ()
          }
        }
        (1 to reps).foreach { i =>
          jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener events are delivered async; a short drain window is
          // enough at this job scale
          Thread.sleep(300)
          spark.sparkContext.removeSparkListener(listener)
          println(f"PROFILE jobstats:$name rep$i wall=$wall%.2fs " +
            f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
            f"taskTime=${taskTimeMs.get / 1000.0}%.2fs")
        }
      case "manifeststages" =>
        // Stage decomposition of the s_train_manifest derivation (the
        // round-15 slowest-list #2): selection derivation from state vs
        // the pack + epoch-order tail, each timed from persisted inputs.
        import org.apache.spark.sql.functions._
        import graft.ops.{Corpus, Packing}
        import graft.streaming.{CurateMaintainer, ExactDedupMaintainer}
        def t(label: String)(body: => Long): Unit = {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime(); val n = body
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"PROFILE manifest:$label rows=${times.head._2} " +
            times.map(x => f"${x._1}%.2f").mkString(" "))
        }
        val dd = Tables.read(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        var t0 = System.nanoTime()
        val st = PipelineQueries.trainManifestStateFor(spark, sfDir)
        println(f"PROFILE manifest:state_build " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f")
        t0 = System.nanoTime()
        val merges = PipelineQueries.bpeMergesFor(spark, sfDir)
        println(f"PROFILE manifest:bpe_merges " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f")
        t("reps_derive")(
          ExactDedupMaintainer.representatives(spark, s"$st/exact").count())
        t("spans_derive")(CurateMaintainer.spans(spark, st, 30).count())
        t("curated_sel")(
          CurateMaintainer.curated(dd, "doc_id", "text", st).count())
        // the tail, from a persisted selection (manifest() runs this after
        // the same curateWithText prefix)
        val reps0 = ExactDedupMaintainer.representatives(spark, s"$st/exact")
          .select(col("doc_id"))
        val sel = graft.Exec.materializeLocal(
          Corpus.curateWithText(dd, "doc_id", "text",
              repsOpt = Some(reps0),
              spansOpt = Some(CurateMaintainer.spans(spark, st, 30)))
            .select(col("doc_id"), col("clean_text").as("text")))
        t("pack_ids")(
          Packing.packTokenIds(sel, "doc_id", "text", merges, 128).count())
        val seqs = graft.Exec.materializeLocal(
          Packing.packTokenIds(sel, "doc_id", "text", merges, 128))
        t("epoch_order")(
          Packing.epochOrder(seqs.select(col("seq_id")), "seq_id", 2).count())
        t("order_join")(
          Packing.epochOrder(seqs.select(col("seq_id")), "seq_id", 2)
            .join(seqs, Seq("seq_id")).count())
        t("manifest_full")(CurateMaintainer.manifest(dd, "doc_id", "text",
          st, merges, seqLen = 128, epochs = 2).count())
        t("gate_verbatim")(
          SparkEntry.queries("s_train_manifest")(spark, sfDir).count())
      case "curatestages" =>
        // Stage decomposition of [[graft.ops.Corpus.curate]] — the shared
        // prefix of p_curate_*/q_sql_curate/p_train_manifest*/s_curate's
        // derivation. Each stage is timed from a persisted input so the
        // numbers attribute, not cascade.
        import org.apache.spark.sql.functions._
        import graft.ops.{Bpe, Corpus, Dedup, LangModel, TextOps}
        def t(label: String)(body: => Long): Unit = {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime(); val n = body
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"PROFILE curate:$label rows=${times.head._2} " +
            times.map(x => f"${x._1}%.2f").mkString(" "))
        }
        val dd = Tables.read(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        t("gopher")(TextOps.gopherAudit(dd, "doc_id", "text",
          minStopwords = 1).where(col("fail_mask") === 0).count())
        val audit = TextOps.gopherAudit(dd, "doc_id", "text",
          minStopwords = 1)
        val passed = dd.join(audit.where(col("fail_mask") === 0)
          .select(col("doc_id")), Seq("doc_id")).persist()
        passed.count()
        t("exact_reps")(
          Dedup.exact(passed, Seq("text"), "doc_id").count())
        val reps2 = Dedup.exact(passed, Seq("text"), "doc_id")
          .select(col("doc_id"))
        val surv = passed.join(reps2, Seq("doc_id"), "semi")
        t("window_digests")(Dedup.windowDigests(
          surv.select(col("doc_id").cast("long").as("id"), col("text")),
          "id", "text", 30).count())
        t("remove_spans")(
          Dedup.removeSpans(surv, "doc_id", "text", 30).count())
        val cleaned = Dedup.removeSpans(surv, "doc_id", "text", 30).persist()
        cleaned.count()
        t("ppl_score")(LangModel.perplexityScore(cleaned, "doc_id",
          "clean_text", 3.43).count())
        t("tok_count_word")(cleaned.select(col("doc_id"),
          size(split(col("clean_text"), " ")).cast("long").as("n_tok"))
          .agg(sum(col("n_tok"))).head().getLong(0))
        val scored = LangModel.perplexityScore(cleaned, "doc_id",
          "clean_text", 3.43).persist()
        scored.count()
        val withTok = cleaned
          .join(scored.where(col("kept"))
            .select(col("id").as("doc_id"), col("avg_nll")), Seq("doc_id"))
          .join(cleaned.select(col("doc_id"),
            size(split(col("clean_text"), " ")).cast("long").as("n_tok")),
            Seq("doc_id"))
          .select(col("doc_id"), col("n_tok"), col("avg_nll"))
        t("budget_select")(Corpus.selectWithinBudget(
          withTok.withColumn("__q", -col("avg_nll")),
          "doc_id", "n_tok", "__q", 6000L).count())
        t("full_curate")(
          Corpus.curate(dd, "doc_id", "text").count())
        passed.unpersist(); cleaned.unpersist(); scored.unpersist()
        ()
      case s if s.startsWith("curategrowth") =>
        // Repeated one-shot curate in one JVM: does per-call cost grow with
        // accumulated cached blocks / CacheManager entries? Variants:
        //   curategrowth        — call as the gates do
        //   curategrowth:clear  — clearCache() before every call
        //   curategrowth:gc     — System.gc() before every call
        import org.apache.spark.sql.functions._
        val variant = s.split(':').drop(1).headOption.getOrElse("plain")
        val dd = Tables.read(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        (1 to reps).foreach { i =>
          if (variant == "clear") spark.catalog.clearCache()
          if (variant == "gc") System.gc()
          val gcB = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
          val gcT0 = {
            var t = 0L; gcB.forEach(b => t += b.getCollectionTime); t
          }
          val t0 = System.nanoTime()
          val n = graft.ops.Corpus.curate(dd, "doc_id", "text").count()
          val dt = (System.nanoTime() - t0) / 1e9
          val gcT1 = {
            var t = 0L; gcB.forEach(b => t += b.getCollectionTime); t
          }
          val blocks = spark.sparkContext.getRDDStorageInfo.length
          println(f"PROFILE curategrowth[$variant] rep$i rows=$n " +
            f"t=$dt%.2fs gc=${(gcT1 - gcT0) / 1000.0}%.2fs cachedRdds=$blocks")
        }
      case n =>
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"PROFILE $n: ${times.map(t => f"$t%.2f").mkString(" ")}")
    }

  /** model:<kind>:<strategy> — isolated model-build cost (no caching between
    * reps), kind ∈ {itemcos, itempear, usercos, userpear}.
    */
  def modelStrategy(spark: SparkSession, sfDir: String, reps: Int,
      spec: String): Unit = {
    import graft.recdb.Similarity
    val Array(_, kind, st) = spec.split(":")
    val r = Tables.ratings(spark, sfDir).cache()
    r.count()
    val build = kind match {
      case "itemcos" => () => Similarity.itemCosine(r, Tables.ratingCols, st)
      case "itempear" => () => Similarity.itemPearson(r, Tables.ratingCols, st)
      case "usercos" => () => Similarity.userCosine(r, Tables.ratingCols, st)
      case "userpear" => () => Similarity.userPearson(r, Tables.ratingCols, st)
    }
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val n = build().count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    println(f"PROFILE $spec rows=${times.head._2} " +
      times.map(x => f"${x._1}%.2f").mkString(" "))
  }

  /** Decompose the dense userCosine model build: index, vectors, pair join. */
  def modelStages(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFns
    val c = Tables.ratingCols
    val r = Tables.ratings(spark, sfDir).cache()
    r.count()
    def t(label: String)(body: => Long): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"PROFILE mstage:$label rows=${times.head._2} " +
        times.map(x => f"${x._1}%.2f").mkString(" "))
    }
    // userCosine: joinKey = item (dims), pairKey = user (entities)
    val idx = r.select(col(c.item).as("k")).distinct()
      .withColumn("ki", (row_number().over(Window.orderBy("k")) - 1).cast("int"))
    t("idx")(idx.count())
    val dims = idx.count().toInt
    val vecs = r.join(broadcast(idx), col(c.item) === col("k"))
      .groupBy(col(c.user).as("p"))
      .agg(VectorFns.denseVecAgg(col("ki"), col(c.rating).cast("double"), dims).as("vec"))
      .withColumn("nrm", sqrt(VectorFns.dotNative(col("vec"), col("vec"))))
    t("vecs")(vecs.count())
    val vc = vecs.cache(); vc.count()
    val a = vc.select(col("p").as("p1"), col("vec").as("v1"), col("nrm").as("n1"))
    val bb = vc.select(col("p").as("p2"), col("vec").as("v2"), col("nrm").as("n2"))
    val dot = VectorFns.dotNative(col("v1"), col("v2"))
    val pairs = a.join(bb, col("p1") < col("p2"))
      .select(col("p1"), col("p2"), (dot / (col("n1") * col("n2"))).as("similarity"))
    t("pairs_cached_vecs")(pairs.where(col("similarity") > 0d).count())
    t("pairs_count_only")(a.join(bb, col("p1") < col("p2")).count())
    vc.unpersist()
  }

  /** usercf:<modelStrategy>:<scoreStrategy> — isolated pearson userCF cost. */
  def userCfStrategy(spark: SparkSession, sfDir: String, reps: Int,
      spec: String): Unit = {
    import graft.recdb.{Scoring, Similarity}
    val Array(_, ms, ss) = spec.split(":")
    val r = Tables.ratings(spark, sfDir).cache()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val model = Similarity.userPearson(r, Tables.ratingCols, ms).cache()
      val n = Scoring.userCF(r, model, Tables.ratingCols, strategy = ss).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    println(f"PROFILE $spec rows=${times.head._2} " +
      times.map(x => f"${x._1}%.2f").mkString(" "))
  }

  /** Decompose the dense userCF sweep: vectors, sim rows, cross join. */
  def userCfStages(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFns
    import graft.recdb.{Scoring, Similarity}
    val c = Tables.ratingCols
    val r = Tables.ratings(spark, sfDir).cache()
    val model = Similarity.userPearson(r, c, "dense").cache()
    model.count()
    def t(label: String)(body: => Long): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"PROFILE ustage:$label rows=${times.head._2} " +
        times.map(x => f"${x._1}%.2f").mkString(" "))
    }
    val idx = r.select(col(c.user).as("k"))
      .distinct()
      .withColumn("ki", (row_number().over(Window.orderBy("k")) - 1).cast("int"))
    val dims = idx.count().toInt
    val ivec = r.join(broadcast(idx), col(c.user) === col("k"))
      .groupBy(col(c.item).as("i"))
      .agg(collect_list(struct(col("ki"), col(c.rating).cast("double"))).as("re"),
        collect_list(struct(col("ki"), lit(1.0).as("one"))).as("me"))
      .select(col("i"), VectorFns.denseFromEntries(col("re"), dims).as("rv"),
        VectorFns.denseFromEntries(col("me"), dims).as("mv"))
    t("ivec")(ivec.count())
    val sym = Scoring.symmetric(model, "user1", "user2")
      .select(col("i").as("u"), col("j").as("v"), col("s"))
    t("sym")(sym.count())
    val srows = r.select(col(c.user).as("u")).distinct()
      .join(sym, Seq("u"), "left")
      .join(broadcast(idx.select(col("k").as("v"), col("ki").as("vi"))), Seq("v"), "left")
      .groupBy(col("u"))
      .agg(collect_list(when(col("s").isNotNull,
          struct(col("vi"), col("s").cast("double")))).as("se"),
        collect_list(when(col("s").isNotNull,
          struct(col("vi"), abs(col("s")).cast("double")))).as("ae"))
      .select(col("u"), VectorFns.denseFromEntries(col("se"), dims).as("sv"),
        VectorFns.denseFromEntries(col("ae"), dims).as("av"))
    t("srows")(srows.count())
    val uavg = r.groupBy(col(c.user).as("u")).agg(avg(col(c.rating)).as("ubar"))
    val den = VectorFns.dotNative(col("av"), col("mv"))
    val num = VectorFns.dotNative(col("sv"), col("rv")) -
      col("ubar") * VectorFns.dotNative(col("sv"), col("mv"))
    val full = srows.join(uavg, Seq("u")).crossJoin(ivec)
      .select(col("u"), col("i"),
        when(den === 0d, lit(0.0)).otherwise(col("ubar") + num / den).as("score"))
    t("cross_score")(full.count())
    val cached = srows.join(uavg, Seq("u")).cache()
    cached.count()
    val iCached = ivec.cache(); iCached.count()
    t("cross_score_precached")(cached.crossJoin(iCached)
      .select(col("u"), col("i"),
        when(den === 0d, lit(0.0)).otherwise(col("ubar") + num / den).as("score"))
      .count())
  }

  /** Decompose jaccardPairs cost: grams eval, explode, self-join, full. */
  def jaccardStages(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextOps}
    val docsDf = Tables.read(spark, sfDir, "documents")
    def t(label: String)(body: => Long): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); val n = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"PROFILE stage:$label rows=${times.head._2} " +
        times.map(x => f"${x._1}%.2f").mkString(" "))
    }
    val docs = docsDf.select(col("doc_id").as("id"),
      Dedup.wordNgrams(TextOps.tokens(col("text")), 3).as("grams"))
    t("grams")(docs.count())
    t("grams_eval")(docs.select(sum(size(col("grams")))).head().getLong(0))
    val ex = docs.select(col("id"), explode(col("grams")).as("g"))
    t("explode")(ex.count())
    val inter = ex.select(col("g"), col("id").as("id1"))
      .join(ex.select(col("g"), col("id").as("id2")), Seq("g"))
      .where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
    t("selfjoin_agg")(inter.count())
    t("full")(Dedup.jaccardPairs(docsDf, "doc_id", "text", 3, 0.5).count())
  }

  /** FK-consistent `mult`× replica of the driver tables (see the fullgate
    * mode's comment for the mutation rules). Idempotent per (sf, mult):
    * a _DONE marker skips the rebuild.
    */
  def buildScaledDir(spark: SparkSession, sfDir: String, mult: Int): String = {
    import org.apache.spark.sql.{DataFrame, functions => F}
    import F.{col, lit, max => fmax}
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_fullgate_${mult}x_" +
        java.lang.Integer.toHexString(sfDir.hashCode)).toString
    // the _DONE marker carries a fingerprint of the SOURCE data (file
    // names + sizes + mtimes — metadata only, no jobs): a regenerated sf
    // dir must invalidate the replica, or the fullgate ratio silently
    // compares against mismatched data
    val fingerprint = Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .flatMap { f =>
          val inner = Option(f.listFiles()).map(_.sortBy(_.getName).map(p =>
            s"${p.getName}:${p.length}:${p.lastModified}").mkString(","))
            .getOrElse(s"${f.length}:${f.lastModified}")
          Seq(s"${f.getName}[$inner]")
        }.mkString("|"))
      .getOrElse("")
    val marker = new java.io.File(s"$out/_DONE")
    if (marker.exists() &&
        java.nio.file.Files.readString(marker.toPath) == fingerprint)
      return out
    graft.Exec.deletePath(out)
    new java.io.File(out).mkdirs()
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(fmax(col(c).cast("long"))).head().getLong(0)
    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val df = Tables.read(spark, sfDir, name)
      (0 until mult).map(c => shift(df, c)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // dimension tables stay single-copy (the realistic 100 TB shape:
    // facts grow, dims don't)
    Seq("region", "nation").foreach { n =>
      Tables.read(spark, sfDir, n).write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
    }
    val sCust = maxOf(Tables.read(spark, sfDir, "customer"), "c_custkey") + 1
    val sSupp = maxOf(Tables.read(spark, sfDir, "supplier"), "s_suppkey") + 1
    val sPart = maxOf(Tables.read(spark, sfDir, "part"), "p_partkey") + 1
    val sOrd = maxOf(Tables.read(spark, sfDir, "orders"), "o_orderkey") + 1
    val ev = Tables.read(spark, sfDir, "events")
    // event_id shift stays a multiple of 100 so the derived item catalog
    // (itemid = event_id % 100) keeps its exact 100-item shape
    val sEvt = (maxOf(ev, "event_id") / 100 + 1) * 100
    val sUser = maxOf(ev, "user_id") + 1
    val sDoc = maxOf(Tables.read(spark, sfDir, "documents"), "doc_id") + 1
    val sVec = maxOf(Tables.read(spark, sfDir, "embeddings"), "vec_id") + 1
    replicate("customer")((df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(c * sCust)))
    replicate("supplier")((df, c) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(c * sSupp)))
    replicate("part")((df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(c * sPart)))
    replicate("orders")((df, c) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * sOrd))
      .withColumn("o_custkey", col("o_custkey") + lit(c * sCust)))
    replicate("lineitem")((df, c) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(c * sOrd))
      .withColumn("l_partkey", col("l_partkey") + lit(c * sPart))
      .withColumn("l_suppkey", col("l_suppkey") + lit(c * sSupp)))
    replicate("events")((df, c) => df
      .withColumn("event_id", col("event_id") + lit(c * sEvt))
      .withColumn("user_id", col("user_id") + lit(c * sUser)))
    // per-copy Caesar rotation of the alphanumeric alphabet: every char
    // shingle AND every word differs across copies (disjoint vocabularies
    // at both granularities) while lengths, whitespace structure and
    // within-copy duplicate/near-dup relations are preserved exactly — a
    // word-suffix mutation is NOT enough (char shingles from word
    // interiors would still collide across copies, exploding the pair
    // ops quadratically)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    def rotated(c: Int): String = {
      val k = c % alpha.length
      alpha.substring(k) + alpha.substring(0, k)
    }
    replicate("documents")((df, c) =>
      (if (c == 0) df
       else df.withColumn("text",
         F.translate(col("text"), alpha, rotated(c))))
        .withColumn("doc_id", col("doc_id") + lit(c * sDoc))
        .withColumn("n_chars", F.length(col("text")).cast("long")))
    replicate("embeddings")((df, c) => df
      .withColumn("vec_id", col("vec_id") + lit(c * sVec))
      .withColumn("embedding", F.expr(
        s"transform(embedding, x -> cast(x + $c * 1e-4 AS float))")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_DONE"), fingerprint)
    out
  }
    spark.stop()
  }
}
