package graft.recdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetShim
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The user-facing API mirroring RecDB's SQL surface (SURVEY.md §2.1):
  *
  *   - [[create]]    = CREATE RECOMMENDER (R4, utility.c:856-953): train the
  *                     model, persist it as parquet, register a catalog entry
  *                     with eventTotal.
  *   - [[drop]]      = DROP RECOMMENDER (R5, utility.c:957-1091).
  *   - [[recommend]] = the RECOMMEND clause (R1/R2): materialized-vs-on-the-fly
  *                     dispatch is rule-based on a catalog hit, exactly like
  *                     the parse-time OP_FILTER/OP_GENERATE classification
  *                     (parse_rec.c:586-589, SURVEY.md §4.2.3); bumps the
  *                     query counter like RecScan init (execRecommend.c:831).
  *
  * The `users` argument is the user-qual pre-filter (SURVEY.md §4.2.4) —
  * pass the qualifying user ids to prune the user×item expansion BEFORE any
  * per-user work, as the reference evaluates userqual before prepUserForRating
  * (execRecommend.c:442-468).
  *
  * SVD divergence (documented, SURVEY.md §7.3): the reference trains Funk-SVD
  * by sequential gradient descent with hard constants 50 features × 100 epochs
  * (recathon.c:2707-2791). A sequential GD cannot be expressed as a scalable
  * Spark job, so method `svd` trains ALS (same matrix-factorization semantics,
  * different optimizer) at rank 50 with a fixed seed; prediction is the same
  * dot(userF, itemF) with no baseline (R14).
  */
object Recommender {

  /** Train + persist + register. Errors on duplicate name or duplicate
    * (eventsTag, method) pair (recathon.c:832-844).
    */
  def create(spark: SparkSession, name: String, events: DataFrame,
      eventsTag: String, c: EventCols, methodStr: String,
      catalog: RecCatalog, modelsDir: String,
      neighborhood: Int = 0): RecEntry = {
    require(neighborhood >= 0,
      s"neighborhood must be >= 0 (0 = unbounded), got $neighborhood")
    val method = RecMethod.parse(methodStr)
    require(catalog.get(name).isEmpty,
      s"recommender '$name' already exists (recathon.c:836)")
    require(catalog.findByTagAndMethod(eventsTag, method).isEmpty,
      s"a recommender on ($eventsTag, ${method.name}) already exists (recathon.c:844)")
    val paths = method match {
      case RecMethod.SVD => Seq(s"$modelsDir/$name.factors/user",
        s"$modelsDir/$name.factors/item")
      case _ => Seq(s"$modelsDir/$name.model.parquet")
    }
    val entry = train(events, RecEntry(name, eventsTag, c.user, c.item,
      c.rating, method, paths, eventTotal = 0L,
      neighborhood = neighborhood.toLong))
    catalog.put(entry)
    entry
  }

  /** Train `e`'s model on `events` and commit its model files
    * ([[graft.StateCommit.writeDir]]: a reader sees the old model or the
    * new one) — the one train-and-persist path of CREATE and the R17
    * rebuild. Returns `e` with the stats that make every later catalog-hit
    * strategy pick pure: one aggregation measures eventTotal (EXACT: it
    * anchors the R17 rebuild threshold, recathon.c:1089), the co-rating
    * key count and the model build's own strategy inputs; the other
    * entity count is an HLL estimate, which only feeds cost models and
    * their bounds. The model's row count comes from the written files'
    * footers, not from a re-read.
    */
  private[graft] def train(events: DataFrame, e: RecEntry): RecEntry = {
    val c = EventCols(e.userCol, e.itemCol, e.ratingCol)
    // SVD has no co-rating key; its stats take the item models' orientation
    val userBased = RecMethod.isUserBased(e.method)
    val st = if (userBased) Similarity.corpusStats(events, c.item, c.user)
      else Similarity.corpusStats(events, c.user, c.item)
    val modelRows = e.method match {
      case RecMethod.SVD =>
        val (uf, itf) = FunkSVD.train(events, c)
        graft.StateCommit.writeDir(factorsDir(e)) { d =>
          uf.write.parquet(s"$d/user"); itf.write.parquet(s"$d/item")
        }
        0L
      case m =>
        DenseKernels.releasing(graft.StateCommit.writeDir(e.modelPaths.head)(
          applyNeighborhood(Similarity.model(m, events, c, stats = Some(st)),
            m, e.neighborhood).write.mode("overwrite").parquet(_)))
        parquetRows(events.sparkSession, e.modelPaths.head)
    }
    e.copy(eventTotal = st.events,
      nUsers = if (userBased) st.entities else st.keys,
      nItems = if (userBased) st.keys else st.entities, modelRows = modelRows)
  }

  /** The committed dirs of `e`'s model files. An SVD model is one dir
    * whose `user/` and `item/` hold the two factor halves, so one commit
    * swaps both and a reader never pairs halves of two trainings.
    */
  private def modelDirs(e: RecEntry): Seq[String] = e.modelPaths.map { p =>
    val f = new java.io.File(p)
    if (e.method == RecMethod.SVD && Set("user", "item")(f.getName)) f.getParent
    else p
  }.distinct

  private def factorsDir(e: RecEntry): String = modelDirs(e) match {
    case Seq(d) => d
    case ps => throw new IllegalStateException(s"svd recommender " +
      s"'${e.name}' has model paths $ps, not <dir>/user and <dir>/item: " +
      "drop and re-create it")
  }

  /** Rows in the parquet files of `dir`, summed from their footers in this
    * JVM: no Spark job. (`Dataset.observe` would count them on the
    * write itself, but on Spark 4.1 an Observation leaves the session
    * unserializable — its observation manager is not a transient field —
    * and any plan that ships the session in a task closure then fails.)
    */
  private def parquetRows(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).iterator
      .filter(f => f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("."))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** NBRHOOD bound (recathon.c:48; 0 = unbounded, the reference's shipped
    * default): kNN-graph sparsification of a CF similarity model — the
    * catalog records the bound so every rebuild re-applies it.
    */
  private[recdb] def applyNeighborhood(model: DataFrame, m: RecMethod,
      nbr: Long): DataFrame =
    if (nbr <= 0L) model
    else {
      val (e1, e2) =
        if (RecMethod.isUserBased(m)) ("user1", "user2") else ("item1", "item2")
      Similarity.capNeighbors(model, e1, e2, nbr.toInt)
    }

  /** Drop model files, materialized view, and catalog entry
    * (utility.c:957-1091).
    */
  def drop(name: String, catalog: RecCatalog): Boolean = {
    catalog.get(name) match {
      case None => false
      case Some(e) =>
        // reap EVERY view version (the one-version grace of materializeView
        // may have left version N-1 on disk besides the current one)
        e.viewPath.foreach(deleteViewVersions(_, keepFrom = Long.MaxValue))
        modelDirs(e).foreach(graft.StateCommit.delete)
        catalog.delete(name)
    }
  }

  /** Score (user, item, score) for every qualifying user × every item.
    * Catalog hit on (eventsTag, method) → load persisted model (OP_FILTER);
    * miss → build on the fly (OP_GENERATE, recathon.c:2948-3643) without
    * persisting.
    */
  def recommend(spark: SparkSession, events: DataFrame, eventsTag: String,
      c: EventCols, methodStr: String, catalog: Option[RecCatalog] = None,
      users: Option[DataFrame] = None,
      scoredUsersHint: Option[Long] = None,
      serveFromView: Boolean = true): DataFrame = {
    val method = RecMethod.parse(methodStr)
    val hit = catalog.flatMap(_.findByTagAndMethod(eventsTag, method))
    hit.foreach(e => bumpQueryCounter(catalog.get, e.name))
    // serving fast path: a FRESH, COMPLETE materialized view holds exactly
    // the frame this call would compute — serve the filter from it instead
    // of re-planning the scoring DAG per query. Freshness is catalog-driven:
    // the R17 rebuild clears viewPath, so a stale view is never consulted.
    // This is what turns the reference's per-user workload protocol from
    // one scoring job per query into a pruned scan + top-k.
    val freshView = if (serveFromView) hit.filter(e =>
      e.viewComplete && e.viewPath.isDefined) else None
    freshView match {
      case Some(e) =>
        val view = servedView(spark, c, e.viewPath.get)
        users match {
          case Some(u) => view.join(
            broadcast(u.select(col(c.user)).distinct()), Seq(c.user), "semi")
          case None => view
        }
      case None => recommendCompute(spark, events, c, method, hit, users,
        scoredUsersHint)
    }
  }

  /** R18 query-counter bookkeeping (RecScan init, execRecommend.c:831):
    * one catalog read-modify-write of entry `name`, which `check` vets
    * first — when it throws, nothing is written. Returns the entry as
    * bumped, None when there is no entry `name`.
    */
  private[graft] def bumpQueryCounter(catalog: RecCatalog, name: String,
      check: RecEntry => Unit = _ => ()): Option[RecEntry] =
    catalog.update(name) { e =>
      check(e)
      e.copy(queryCounter = e.queryCounter + 1)
    }

  /** Serving cache: one entry per (session, view version), holding up to
    * two serving forms of that version, each built on first use:
    *
    *   - `frame`: the view cached as Tungsten pages, so a Spark-path query
    *     scans memory instead of re-decoding parquet;
    *   - `resident`: the driver-resident [[ResidentTopK]] index that point
    *     queries answer from with no Spark job at all.
    *
    * Safe by construction: [[materializeView]] bakes the view VERSION into
    * the path, so a re-materialization gets a new key and the old entry is
    * explicitly invalidated (unpersist + remove) wherever a view dies —
    * re-materialization, DROP, and the R17 rebuild. Spark's storage layer
    * may evict blocks under pressure (MEMORY_AND_DISK → recompute from the
    * parquet), so the cache is advisory, never correctness-bearing.
    *
    * True LRU: access-ordered map, ONE cold entry evicted (unpersisted) at
    * the bound — a tier rotating more than [[ServedViewBound]] recommenders
    * must not thrash every hot view. Keyed by the session's stable UUID, not
    * its identity hash (which can alias after a session is GC'd).
    */
  private[recdb] val ServedViewBound: Int = 16

  /** Fields are read and written under the `servedViews` lock. */
  private final class Served {
    var frame: DataFrame = _
    // null until first loaded; None when the view is not resident-servable
    var resident: Option[ResidentTopK] = _
    def unpersist(): Unit = if (frame != null) { frame.unpersist(); () }
  }

  private val servedViews =
    new java.util.LinkedHashMap[String, Served](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Served]): Boolean =
        if (size > ServedViewBound) { e.getValue.unpersist(); true } else false
    }

  // stable per-session key: a UUID minted once per live session object and
  // weakly held — unlike identityHashCode it can never alias after a session
  // is GC'd (a dead session's entry vanishes with the key)
  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, String]()

  private def viewKey(spark: SparkSession, path: String): String =
    sessionIds.synchronized {
      sessionIds.computeIfAbsent(spark,
        _ => java.util.UUID.randomUUID().toString)
    } + ":" + path

  // caller holds the servedViews lock. Null once the version's files are
  // gone: [[deleteViewVersions]] deletes before it invalidates, so an entry
  // made after its invalidation would outlive it
  private def servedEntry(key: String, path: String): Served = {
    val hit = servedViews.get(key)
    if (hit != null || !new java.io.File(path).exists()) hit
    else { val s = new Served; servedViews.put(key, s); s }
  }

  private[recdb] def servedView(spark: SparkSession, c: EventCols,
      path: String): DataFrame = {
    val key = viewKey(spark, path)
    def read = spark.read.schema(viewSchema(c)).parquet(path)
    servedViews.synchronized {
      val s = servedEntry(key, path)
      if (s == null) read // fails: the version was deleted
      else {
        if (s.frame == null) s.frame = read.cache()
        s.frame
      }
    }
  }

  /** The view version's resident index, loaded on first use; None when
    * the view is not resident-servable (over `cap` rows, or holding a
    * null) or its files are gone. `rowBound` (-1 = unknown) is an estimate
    * of the view's rows: above `cap`, the view is over the cap without a
    * load. The load — a few Spark jobs, once per version — runs outside
    * the map's lock; its result is kept only if the entry was not
    * invalidated or evicted meanwhile, and the racing query still answers
    * from the version it resolved, as a Spark-path frame would.
    */
  private[recdb] def residentTopK(spark: SparkSession, c: EventCols,
      path: String, rowBound: Long = -1L,
      cap: Int = ResidentTopK.RowCap): Option[ResidentTopK] = {
    val key = viewKey(spark, path)
    val (s, known) = servedViews.synchronized {
      val s = servedEntry(key, path)
      (s, if (s == null) None else s.resident)
    }
    if (known != null) known
    else {
      val loaded = if (rowBound > cap) None else ResidentTopK.load(
        spark.read.schema(viewSchema(c)).parquet(path), cap)
      servedViews.synchronized {
        if (servedViews.get(key) eq s) s.resident = loaded
      }
      loaded
    }
  }

  private[recdb] def invalidateServedView(path: String): Unit =
    servedViews.synchronized {
      val it = servedViews.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.endsWith(s":$path")) { e.getValue.unpersist(); it.remove() }
      }
    }

  /** Number of live served-view cache entries (spec/diagnostic hook). */
  private[recdb] def servedViewCount: Int =
    servedViews.synchronized(servedViews.size)

  /** True if `path` currently has a cached served-view entry for any
    * session (spec hook for the LRU behavior).
    */
  private[recdb] def servedViewCached(path: String): Boolean =
    servedEntries(path).nonEmpty

  /** True if `path` has a loaded resident index for any session (spec hook). */
  private[recdb] def residentLoaded(path: String): Boolean =
    servedEntries(path).exists(s => s.resident != null && s.resident.isDefined)

  private def servedEntries(path: String): Seq[Served] = {
    import scala.jdk.CollectionConverters._
    servedViews.synchronized {
      servedViews.entrySet().asScala.iterator
        .filter(_.getKey.endsWith(s":$path")).map(_.getValue).toList
    }
  }

  /** The scores of `method` over `events`, from `hit`'s persisted model or
    * a model built on the fly; cut to each user's `topK` best when given.
    */
  private def recommendCompute(spark: SparkSession, events: DataFrame,
      c: EventCols, method: RecMethod, hit: Option[RecEntry],
      users: Option[DataFrame], scoredUsersHint: Option[Long],
      topK: Option[Int] = None): DataFrame = {
    method match {
      case RecMethod.SVD =>
        val (uf, itf) = hit match {
          case Some(e) =>
            // explicit schemas: the model layout is an engine contract
            // (LONG ids, utility.c:310-317), and skipping parquet schema
            // inference keeps the catalog-hit read job-free — EXPLAIN stays
            // zero-job and per-query serving skips a footer-listing job;
            // both halves come from the one version the factors dir
            // resolves to now
            val d = graft.StateCommit.resolve(factorsDir(e))
            (spark.read.schema(factorSchema).parquet(s"$d/user"),
              spark.read.schema(factorSchema).parquet(s"$d/item"))
          case None => FunkSVD.train(events, c)
        }
        val scoped = users match {
          case Some(u) => uf.join(broadcast(
            u.select(col(c.user).as("id")).distinct()), Seq("id"), "semi")
          case None => uf
        }
        Scoring.best(Scoring.factorScore(scoped, itf, c), c, topK)
      case m =>
        val model = hit match {
          case Some(e) =>
            spark.read.schema(modelSchema(m)).parquet(
              graft.StateCommit.live(e.modelPaths.head))
          // on-the-fly model is cached because scoring consumes both triangle
          // halves; Spark's cache manager dedupes by plan, so repeated
          // identical OP_GENERATE queries share one entry. Long-lived
          // services should CREATE the recommender (materialized path)
          // rather than re-deriving per query.
          //
          // A user-based OP_GENERATE with a user-qual pre-filter builds only
          // the model slice the query consumes (pairs touching qualifying
          // users — bit-identical values, see Similarity.pairJoin): a point
          // query must never pay the all-pairs users² build (the reference's
          // materialized path exists precisely so OP_GENERATE isn't the
          // serving plan, parse_rec.c:586-589).
          case None =>
            val restrict = users.filter(_ => RecMethod.isUserBased(m))
              .map(_.select(col(c.user)))
            Similarity.model(m, events, c, restrictTo = restrict).cache()
        }
        // catalog-hit entries carry corpus stats from CREATE time, making the
        // strategy pick pure (no jobs at plan-construction/EXPLAIN time)
        val stats = hit.flatMap(_.scoreStats)
        if (RecMethod.isUserBased(m))
          Scoring.userCF(events, model, c, users, stats = stats,
            scoredUsersHint = scoredUsersHint, topK = topK)
        else
          Scoring.itemCF(events, model, c, users, stats = stats,
            scoredUsersHint = scoredUsersHint, topK = topK)
    }
  }

  /** RecView materialization (SURVEY.md §1.1): cache the recommender's
    * predictions — optionally top-k per user — as parquet, recorded on the
    * catalog entry. The reference created the view table but left the read
    * path dead (utility.c:146-157, execRecommend.c:935-940); here it is a
    * live serving cache: [[recommend]] prefers a fresh view, and the R17
    * rebuild invalidates it.
    */
  def materializeView(spark: SparkSession, name: String, events: DataFrame,
      catalog: RecCatalog, viewsDir: String, topK: Option[Int] = None): String = {
    val e = catalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"unknown recommender: $name"))
    val c = EventCols(e.userCol, e.itemCol, e.ratingCol)
    val ver = e.viewVersion + 1
    val path = s"$viewsDir/$name.view.v$ver.parquet"
    DenseKernels.releasing {
      // re-materialization must COMPUTE, not read the view it is about to
      // replace; it counts as a query of the recommender (R18), as a
      // `recommend` call does; a recommender dropped since the lookup above
      // has no model to score with
      val hit = bumpQueryCounter(catalog, name).orElse(
        throw new IllegalArgumentException(s"unknown recommender: $name"))
      val scores = recommendCompute(spark, events, c, e.method, hit,
        users = None, scoredUsersHint = None, topK)
      // cluster by user on write: every user's rows land in one partition,
      // contiguous — parquet row-group min/max stats then prune a
      // `user = ?` point query to one file (and the in-memory cache's
      // batch stats do the same), which is what makes [[recommendTopK]]
      // O(k)-ish instead of a view-wide scan per query. A top-k cut is
      // clustered by user already (the dense kernel's user shuffle, or the
      // window's), so only a complete view shuffles.
      val out = if (topK.isDefined) scores
        else scores.repartition(
          math.max(1, spark.sparkContext.defaultParallelism / 2), col(c.user))
      out.sortWithinPartitions(col(c.user), col("score").desc, col(c.item))
        .write.mode("overwrite").parquet(path)
    }
    // the previous materialization is dead the moment the catalog points at
    // the new one — but an in-flight reader that obtained its DataFrame
    // before the swap may still be draining from the old files, so only the
    // cache entry is invalidated NOW; the parquet of version N-1 survives
    // until version N+1 lands (one-version grace), and versions <= N-2 are
    // reaped here.
    e.viewPath.filter(_ != path).foreach(invalidateServedView)
    deleteViewVersions(path, keepFrom = ver - 1)
    // only the view fields: point reads bump the entry meanwhile
    catalog.update(name)(_.copy(viewPath = Some(path),
      viewComplete = topK.isEmpty,
      viewTopK = topK.map(_.toLong).getOrElse(-1L), viewVersion = ver))
    path
  }

  /** Delete sibling versions of `currentPath` older than `keepFrom`
    * (`.../name.view.vN.parquet` layout); pass `keepFrom = Long.MaxValue`
    * to reap every version including the current one (DROP / R17 rebuild).
    * Files go before the served-view entry: a reader that resolved the
    * path earlier then either made its entry first, and the invalidation
    * drops it, or finds the files gone and makes none.
    */
  private[recdb] def deleteViewVersions(currentPath: String,
      keepFrom: Long): Unit = {
    val f = new java.io.File(currentPath)
    val base = f.getName.replaceFirst("""\.view\.v\d+\.parquet$""", "")
    val pat = s"""\\Q$base\\E\\.view\\.v(\\d+)\\.parquet""".r
    Option(f.getParent).toSeq
      .flatMap(graft.StateCommit.reap(_, pat)(_ >= keepFrom))
      .foreach(invalidateServedView)
  }

  /** Serve predictions from the materialized view if present. */
  def recommendFromView(spark: SparkSession, name: String,
      catalog: RecCatalog): Option[DataFrame] =
    catalog.get(name).flatMap { e =>
      e.viewPath.map(spark.read.schema(
        viewSchema(EventCols(e.userCol, e.itemCol, e.ratingCol))).parquet(_))
    }

  /** The reference's primary query shape (rec_workload.c: single-user top-k
    * RECOMMEND) as a first-class point query. A view serves it when it is
    * COMPLETE or a top-k cut at least k deep (the catalog-recorded viewTopK
    * makes the routing pure; at 100× scale the O(users×k) top-k view is the
    * only materializable serving artifact). The answer comes from the first
    * of:
    *
    *   1. the view's [[ResidentTopK]] index ([[residentRead]]): at most k
    *      rows, already ranked, as a local relation — collecting it runs no
    *      Spark job;
    *   2. a view over the resident cap: a pushed `user = ?` filter over the
    *      user-clustered cached view (batch stats prune to one user's rows);
    *   3. no view deep enough: the computed path, scoped to the one user.
    *
    * Freshness, as for complete-view [[recommend]]: a view serves the
    * predictions of its last materialization. The R17 rebuild drops it; an
    * append below the threshold shows after the next [[materializeView]].
    *
    * `events` is evaluated only when the query computes: resolving a table
    * over parquet infers its schema with a Spark job, which a view-served
    * read must not pay.
    */
  def recommendTopK(spark: SparkSession, events: => DataFrame, eventsTag: String,
      c: EventCols, methodStr: String, catalog: Option[RecCatalog],
      userId: Long, k: Int = 10): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val method = RecMethod.parse(methodStr)
    val hit = catalog.flatMap(cat => cat.findByTagAndMethod(eventsTag, method)
      .map(e => bumpQueryCounter(cat, e.name).getOrElse(e)))
    hit.flatMap(residentRead(spark, _, userId, k,
        pointOutput(c.user, c.item, "score")))
      .map(DatasetShim.ofRows(spark, _))
      .getOrElse(topKPlan(spark, events, c, method, hit, userId, k))
  }

  /** A view of `e` deep enough for a top-k point query. */
  private def viewServes(e: RecEntry, k: Int): Boolean =
    e.viewPath.isDefined && (e.viewComplete || e.viewTopK >= k)

  /** Attributes of a point read's (user, item, score) rows, under the given
    * names and typed as the view's columns.
    */
  private[graft] def pointOutput(user: String, item: String,
      score: String): Seq[Attribute] =
    Seq(AttributeReference(user, LongType)(), AttributeReference(item, LongType)(),
      AttributeReference(score, DoubleType)())

  /** The resident point read, shared by [[recommendTopK]] and the legacy
    * SQL `RECOMMEND(k)` form: `userId`'s top-k from `e`'s view index, as a
    * local relation over `output` ([[pointOutput]]). `e` is the entry its
    * caller's R18 bump wrote. None when no view of `e` is deep enough or
    * the view is over the resident cap; [[topKPlan]] answers those.
    */
  private[graft] def residentRead(spark: SparkSession, e: RecEntry,
      userId: Long, k: Int, output: Seq[Attribute]): Option[LocalRelation] =
    if (!viewServes(e, k)) None
    else {
      // the catalog's (approximate) corpus stats bound the view's rows
      val bound = if (e.nUsers < 0 || e.nItems < 0) -1L
        else e.nUsers * (if (e.viewComplete) e.nItems else e.viewTopK)
      residentTopK(spark, EventCols(e.userCol, e.itemCol, e.ratingCol),
        e.viewPath.get, bound).map(_.topK(output, userId, k))
    }

  /** A point read [[residentRead]] does not answer, as a Spark plan over
    * (user, item, score): a view of `hit` deep enough (so over the resident
    * cap) serves a `user = ?` filter over its cached frame; otherwise the
    * query computes, scoped to the one user.
    */
  private[graft] def topKPlan(spark: SparkSession, events: => DataFrame,
      c: EventCols, method: RecMethod, hit: Option[RecEntry], userId: Long,
      k: Int): DataFrame = {
    def ranked(scores: DataFrame): DataFrame =
      scores.orderBy(col("score").desc, col(c.item)).limit(k)
    hit.filter(viewServes(_, k)) match {
      case Some(e) =>
        ranked(servedView(spark, c, e.viewPath.get).where(col(c.user) === userId))
      case None =>
        val ev = events
        // the one-user scope as the RECOMMEND clause's user-qual builds it
        val users = ev.select(col(c.user)).where(col(c.user) === userId)
          .distinct()
        ranked(recommendCompute(spark, ev, c, method, hit, Some(users),
          Some(1L)))
    }
  }

  /** Persisted model-table schemas — the engine contract for catalog-hit
    * reads (LONG keys per FIXTURES.md; the reference's model tables are
    * (entity1, entity2, similarity), utility.c:141-142).
    */
  private def modelSchema(m: RecMethod): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val (a, b) =
      if (RecMethod.isUserBased(m)) ("user1", "user2") else ("item1", "item2")
    StructType(Seq(StructField(a, LongType), StructField(b, LongType),
      StructField("similarity", DoubleType)))
  }

  private val factorSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("features", ArrayType(FloatType))))
  }

  private def viewSchema(c: EventCols): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(c.user, LongType), StructField(c.item, LongType),
      StructField("score", DoubleType)))
  }
}
