package graft

import org.apache.spark.sql.SparkSession

/** Repeat-run profiler. `runMain graft.Profile <reps> [mode ...]`; a mode
  * that names a gate of [[SparkEntry.queries]] runs it `reps` times under
  * [[Trace]] and prints one `PROFILE trace <gate> rep<i> …` line per run
  * (see [[traceGate]]). The other modes: `fullgate[:mult]` and
  * `queries:<names>[:mult]` (base vs `mult`× replica timing) and the
  * generator-scale probes `bpeprobe`, `scaleprobe`, `flipprobe`,
  * `dedupprobe`, `textprobe`, `deltaprobe` and `annprobe` (README).
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
          // the cost model's units: join rows = Σ (events per user)², dense
          // cells = items² × users / 2
          val fanout = ev.groupBy("userid").count()
            .agg(sum(col("count") * col("count"))).head().getLong(0)
          val cells = 100.0 * 100.0 * users / 2
          def timed(strategy: String): (Double, Long) = {
            val t0 = System.nanoTime()
            val n = Similarity.itemCosine(ev, Tables.ratingCols, strategy).count()
            ((System.nanoTime() - t0) / 1e9, n)
          }
          val (tJoin, nModel) = timed("join")
          val tDense =
            if (users <= Similarity.DenseDimLimit) Some(timed("dense")._1) else None
          val denseStr = tDense.fold("skipped(dims>DenseDimLimit)")(t =>
            f"$t%.1fs (${t * 1e9 / cells}%.2fns/cell, " +
              f"join ${tJoin * 1e9 / fanout}%.1fns/row)")
          val t0 = System.nanoTime()
          val autoDf = Similarity.itemCosine(ev, Tables.ratingCols, "auto")
          autoDf.count()
          val tAuto = (System.nanoTime() - t0) / 1e9
          // the dense build runs as an array kernel, named in the plan
          // (`MapPartitions dense_kernel[...]`); the sparse path is a pure
          // equi-join — so the executed plan is the pick's witness
          val plan = autoDf.queryExecution.executedPlan.toString
          val picked = if (plan.contains("dense_kernel")) "dense" else "join"
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
      case n => traceGate(spark, sfDir, n, reps)
    }
    spark.stop()
  }

  /** Run gate `name` `reps` times, each under [[Trace]], and print one
    * `PROFILE trace <name> rep<i> rows=<n> <Trace.line>` line per run. */
  def traceGate(spark: SparkSession, sfDir: String, name: String,
      reps: Int): Seq[Trace] = {
    val gate = SparkEntry.queries(name)
    (1 to reps).map { i =>
      val (rows, t) = Trace.run(spark.sparkContext)(gate(spark, sfDir).count())
      println(s"PROFILE trace $name rep$i rows=$rows ${t.line}")
      t
    }
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
}
