package graft.recdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column bindings for an events (ratings) table — the reference validates the
  * three columns at parse time (recathon.c:846-865); here it is a signature.
  */
final case class EventCols(
    user: String = "userid",
    item: String = "itemid",
    rating: String = "rating")

/** Similarity-model builders — the Spark-first re-expression of RecDB's four
  * CF model builds (reference: recathon.c updateItemCosModel :1378-1562,
  * updateItemPearModel :1768-1962, updateUserCosModel :1970-2161,
  * updateUserPearModel :2169-2360; see SURVEY.md §2.1 R6-R9).
  *
  * Output schemas follow the reference's model tables (utility.c:141-142, 232):
  *   item models: (item1, item2, similarity), invariant item1 < item2
  *   user models: (user1, user2, similarity), invariant user1 < user2
  *
  * Correctness-bearing quirks preserved (SURVEY.md §2.3 #4):
  *   - cosine keeps only similarity > 0 (recathon.c:1493)
  *   - Pearson keeps similarity != 0 — negative sims participate in scoring
  *     (recathon.c:1885)
  *
  * Scale design: the reference runs an O(n²) single-threaded pair loop over
  * in-memory linked lists. Here the pairwise dot product is an events
  * self-join on the co-rating key, so pairs only materialize where co-ratings
  * exist (the same sparsity the reference's sim_node walk exploits,
  * recathon.c:1331-1341). The join shuffles once on the co-rating key and the
  * pair aggregation shuffles once on the pair key. Per-entity stats joins
  * (norms, means — one row per item/user) carry no broadcast hint: the entity
  * count is unbounded for user-based models, and AQE promotes the join to
  * broadcast at runtime whenever the aggregated side is actually small.
  * For skewed co-rating keys (a user who rated millions of items
  * would emit quadratic pairs) callers can cap events per key with
  * [[capRatingsPerKey]] — the reference's dormant NBRHOOD knob (recathon.c:48)
  * made real.
  *
  * When the co-rating dimension and the entity count are bounded, the
  * 'auto' pick takes the dense build instead: an array kernel
  * ([[DenseKernels.pairs]]) — one aggregation collects each entity's
  * (co-rating key, value) list to the driver, one broadcast ships them as
  * sparse rows, and `defaultParallelism` tasks each take a strided slice of
  * entities and emit the p1 < p2 dots with plain loops. It runs the
  * reference's in-memory pair loop, with the entities split over tasks.
  */
object Similarity {

  /** Optional skew guard: keep at most `max` highest-rated events per `key`.
    * Deterministic (ties broken by the pair column). No-op semantics when every
    * key has fewer events than `max`.
    */
  def capRatingsPerKey(ratings: DataFrame, key: String, other: String,
      rating: String, max: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(rating).desc, col(other))
    ratings.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= max).drop("__rn")
  }

  /** The reference's dormant NBRHOOD knob (recathon.c:48, shipped as 0 =
    * unbounded) made real: keep only each entity's top-K strongest neighbors
    * (by |similarity|, deterministic tie-break). Because the model is
    * triangular, the rank is computed over the symmetric sweep and a pair
    * survives if EITHER endpoint keeps it — the standard kNN-graph
    * sparsification that bounds scoring cost at web scale.
    */
  def capNeighbors(model: DataFrame, e1: String, e2: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = model.select(col(e1).as("a"), col(e2).as("b"), col("similarity"))
      .unionAll(model.select(col(e2).as("a"), col(e1).as("b"), col("similarity")))
    val w = Window.partitionBy("a").orderBy(abs(col("similarity")).desc, col("b"))
    val kept = sym.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(least(col("a"), col("b")).as(e1),
        greatest(col("a"), col("b")).as(e2))
      .distinct()
    model.join(kept, Seq(e1, e2), "semi")
  }

  /** Strategy bounds for the dense-vector build (see [[build]]): the vector
    * width (co-rating dimension) and the entity count (the dense path
    * enumerates all n²/2 candidate pairs; the sparse join path only
    * materializes pairs that actually co-rate).
    */
  val DenseDimLimit = 16384
  val DenseEntityLimit = 16384

  /** Ceiling on the dense build's cells (entities × dims): the kernel's
    * driver-collected lists and its one broadcast hold at most this many
    * (slot, value) cells, so 'auto' keeps them inside driver and executor
    * memory. The driver's peak is ≈ 24 B a cell — the collected bytes
    * beside the decoded 12 B cells, then the cells beside their serialized
    * broadcast copy (measured on incompressible random values; integer
    * ratings compress to ≈ 17 B) — so ≈ 400 MB at 2²⁴ cells; a task holds
    * the 12 B cells.
    */
  val DenseVecCells: Long = 1L << 24

  /** Relative cost of pushing one co-rating pair row through the sparse
    * join's shuffle + hash aggregation versus one fused multiply-add cell in
    * the dense pair loop (measured against the earlier whole-stage-codegen
    * nested-loop build; README's flipprobe lines give the array kernel's
    * cost per cell beside it). Measured on local[32] at
    * sf0.1 (73k ratings, 1500 users × 100 items): the user models' join path
    * runs ~7s over a 5.3e7-row fan-out while the dense path runs ~1.5-2.5s
    * over 1.1e8 cells — shuffled-row cost ≈ 50× a codegen cell once both
    * sides are steady-state. The pick compares entities²·dims/2 (dense
    * cells) against ratio × fan-out (join rows), so the quadratic dense
    * blow-up guards itself: at the entity/dim limits the dense estimate is
    * ~2e15 cells and the join always wins unless the fan-out is astronomical.
    */
  val DenseJoinCostRatio = 50L

  /** Strategy decisions are planning-time metadata: memoized per canonical
    * input plan so repeated builds over the same (cached or not) frame don't
    * re-run the stats jobs. Keys hold the FULL canonicalized plans (equality
    * via Catalyst's structural TreeNode equality — the same contract
    * `sameResult` uses), so a hashCode collision can never silently reuse
    * another plan's decision. The map is a small access-ordered LRU: entries
    * can't accumulate unboundedly in a long-lived session. Decisions are
    * still plan-keyed, not data-keyed — after rewriting the files under the
    * same path call [[clearStrategyCache]] (a stale pick is a perf issue,
    * never a correctness one: both strategies compute identical results).
    */
  private[recdb] val strategyMemo: java.util.Map[AnyRef, java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[AnyRef, java.lang.Boolean](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[AnyRef, java.lang.Boolean]): Boolean =
          size() > 64
      })

  private[recdb] def memoized(key: AnyRef)(decide: => Boolean): Boolean = {
    val hit = strategyMemo.get(key)
    if (hit != null) hit.booleanValue()
    else {
      val v = decide
      strategyMemo.put(key, java.lang.Boolean.valueOf(v))
      v
    }
  }

  /** Measured plan statistics (same plan-keyed LRU contract as
    * [[strategyMemo]]): holds the user-independent inputs of the scoring
    * cost model so a stream of per-user RECOMMEND queries re-measures only
    * its own tiny filter, not the corpus.
    */
  private[recdb] val statsMemo: java.util.Map[AnyRef, AnyRef] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[AnyRef, AnyRef](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[AnyRef, AnyRef]): Boolean =
          size() > 64
      })

  private[recdb] def memoizedStats[T](key: AnyRef)(compute: => T): T = {
    val hit = statsMemo.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = compute
      statsMemo.put(key, v.asInstanceOf[AnyRef])
      v
    }
  }

  /** Drop all memoized strategy decisions — call after the data under an
    * input path changes so 'auto' re-measures.
    */
  def clearStrategyCache(): Unit = {
    strategyMemo.clear()
    statsMemo.clear()
  }

  def itemCosine(ratings: DataFrame, c: EventCols = EventCols(),
      strategy: String = "auto", restrictTo: Option[DataFrame] = None): DataFrame =
    model(RecMethod.ItemCosCF, ratings, c, strategy, restrictTo)

  def userCosine(ratings: DataFrame, c: EventCols = EventCols(),
      strategy: String = "auto", restrictTo: Option[DataFrame] = None): DataFrame =
    model(RecMethod.UserCosCF, ratings, c, strategy, restrictTo)

  def itemPearson(ratings: DataFrame, c: EventCols = EventCols(),
      strategy: String = "auto", restrictTo: Option[DataFrame] = None): DataFrame =
    model(RecMethod.ItemPearCF, ratings, c, strategy, restrictTo)

  def userPearson(ratings: DataFrame, c: EventCols = EventCols(),
      strategy: String = "auto", restrictTo: Option[DataFrame] = None): DataFrame =
    model(RecMethod.UserPearCF, ratings, c, strategy, restrictTo)

  /** The CF model of method `m` (not SVD). Item models pair items over the
    * co-rating key user; user models pair users over items. `stats`, when
    * the caller measured them with [[corpusStats]] on `ratings`, make the
    * 'auto' strategy pick pure.
    */
  private[recdb] def model(m: RecMethod, ratings: DataFrame, c: EventCols,
      strategy: String = "auto", restrictTo: Option[DataFrame] = None,
      stats: Option[CorpusStats] = None): DataFrame = {
    require(m != RecMethod.SVD, "SVD trains factors, not a similarity model")
    val pearsonMode = m == RecMethod.ItemPearCF || m == RecMethod.UserPearCF
    if (RecMethod.isUserBased(m))
      build(ratings, joinKey = c.item, pairKey = c.user, c.rating,
        "user1", "user2", pearsonMode, strategy, restrictTo, stats)
    else
      build(ratings, joinKey = c.user, pairKey = c.item, c.rating,
        "item1", "item2", pearsonMode, strategy, restrictTo, stats)
  }

  /** A corpus measured from its co-rating key's side: `events`, the sparse
    * join's fan-out Σm² (m = events per key), `keys` (distinct co-rating
    * keys, exact: the dense vector width) and `entities` (distinct pair
    * keys, approximate).
    */
  private[recdb] final case class CorpusStats(events: Long, fanout: Long, keys: Long,
      entities: Long)

  /** [[CorpusStats]] in one aggregation: group by the co-rating key, then
    * fold the groups. `entities` is the estimate of a union of per-key HLL
    * sketches — it feeds only the strategy's cost model and bounds, whose
    * margins dwarf the sketch's ~2 % error. (coalesce: an empty frame folds
    * zero groups to NULL.)
    */
  private[recdb] def corpusStats(r: DataFrame, joinKey: String,
      pairKey: String): CorpusStats = {
    import org.apache.spark.sql.types._
    val pk = r.schema(pairKey).dataType match {
      case IntegerType | LongType | StringType | BinaryType => col(pairKey)
      case _ => col(pairKey).cast(StringType) // hll_sketch_agg's input types
    }
    val row = r.groupBy(col(joinKey))
      .agg(count(lit(1)).as("m"), hll_sketch_agg(pk).as("h"))
      .agg(coalesce(sum(col("m")), lit(0L)),
        coalesce(sum(col("m") * col("m")), lit(0L)), count(lit(1)),
        coalesce(hll_sketch_estimate(hll_union_agg(col("h"))), lit(0L)))
      .head()
    CorpusStats(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
  }

  /** The 'auto' pick: dense when the vector width and entity count are
    * bounded, the cells fit the kernel's broadcast, and the dense
    * pair-loop cells undercut the join rows × their relative cost.
    */
  private def denseWins(st: CorpusStats): Boolean = {
    val (dims, entities) = (st.keys, st.entities)
    dims <= DenseDimLimit && entities <= DenseEntityLimit &&
      // the kernel collects and broadcasts up to entities × dims cells —
      // cap them like the scoring sweep does
      entities * dims <= DenseVecCells &&
      entities * entities * dims / 2 < DenseJoinCostRatio * st.fanout
  }

  /** Physical strategy dispatch. "join" = sparse co-rating self-join (the
    * unbounded-scale path: cost tracks actual co-ratings, one shuffle on the
    * co-rating key + one on the pair key). "dense" = the array kernel
    * [[DenseKernels.pairs]]: every entity's cells over the co-rating
    * dimension on the driver, pairwise dots in tasks — no 100M-row shuffle
    * aggregation; valid because a cell where either side is unrated
    * contributes 0 to the co-rated dot (for Pearson the cells hold
    * mean-CENTERED values, so the full dot still equals the co-rated
    * centered dot). "auto" picks dense
    * when both the dimension and the entity count are bounded (the regime
    * after hashing/bucketing items at 100 TB), sparse otherwise — from the
    * caller's `stats` without a job, else from one memoized [[corpusStats]]
    * aggregation.
    */
  private def build(r: DataFrame, joinKey: String, pairKey: String,
      rating: String, out1: String, out2: String, pearsonMode: Boolean,
      strategy: String, restrictTo: Option[DataFrame],
      stats: Option[CorpusStats]): DataFrame = {
    // A restricted build (only pairs touching `restrictTo` keys — the exact
    // model slice a point query consumes) always takes the sparse join: the
    // dense path's whole design is enumerating ALL n²/2 candidate pairs,
    // which is precisely the work the restriction exists to avoid.
    def sparse(restrict: Option[DataFrame]): DataFrame =
      if (pearsonMode) pearson(r, joinKey, pairKey, rating, out1, out2, restrict)
      else cosine(r, joinKey, pairKey, rating, out1, out2, restrict)
    if (restrictTo.isDefined) return sparse(restrictTo)
    val dense = strategy match {
      case "dense" => true
      case "join" => false
      case "auto" => stats match {
        case Some(st) => denseWins(st)
        case None =>
          memoized((r.queryExecution.analyzed.canonicalized,
              s"model|$joinKey|$pairKey")) {
            denseWins(corpusStats(r, joinKey, pairKey))
          }
      }
      case other => throw new IllegalArgumentException(
        s"unknown strategy '$other' (auto|join|dense)")
    }
    if (dense) DenseKernels.pairs(r, joinKey, pairKey, rating, out1, out2, pearsonMode)
    else sparse(None)
  }

  /** sim(a,b) = dot(a,b) / (‖a‖·‖b‖) over co-rating keys (recathon.c:1353-1367). */
  private def cosine(r: DataFrame, joinKey: String, pairKey: String,
      rating: String, out1: String, out2: String,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    val norms = r.groupBy(col(pairKey).as("p"))
      .agg(sqrt(sum(col(rating) * col(rating))).as("nrm"))
    val dots = coPairs(r, joinKey, pairKey, rating, restrictTo)
      .groupBy("p1", "p2")
      .agg(sum(col("r1") * col("r2")).as("dot"))
    dots
      .join(norms.select(col("p").as("p1"), col("nrm").as("nrm1")), "p1")
      .join(norms.select(col("p").as("p2"), col("nrm").as("nrm2")), "p2")
      .select(col("p1").as(out1), col("p2").as(out2),
        (col("dot") / (col("nrm1") * col("nrm2"))).as("similarity"))
      .where(col("similarity") > 0d) // drop sims <= 0: recathon.c:1493
  }

  /** Pearson: per-entity mean over ALL its ratings (pearson_info,
    * recathon.c:1575-1697); dot of mean-centered values over co-rating keys;
    * sim = dot / (P_a · P_b). Degenerate P=0 yields NULL (guarded division)
    * and is dropped by the != 0 filter, matching the reference's ==0 skip.
    */
  private def pearson(r: DataFrame, joinKey: String, pairKey: String,
      rating: String, out1: String, out2: String,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    val stats = r.groupBy(col(pairKey).as("p")).agg(avg(col(rating)).as("mean"))
    val centered = r
      .join(stats, col(pairKey) === col("p"))
      .select(col(joinKey).as("k"), col(pairKey).as("pk"),
        (col(rating) - col("mean")).as("c"))
    val pinfo = centered.groupBy(col("pk").as("p"))
      .agg(sqrt(sum(col("c") * col("c"))).as("pp"))
    val a = centered.select(col("k"), col("pk").as("p1"), col("c").as("r1"))
    val b = centered.select(col("k"), col("pk").as("p2"), col("c").as("r2"))
    val dots = pairJoin(a, b, restrictTo)
      .groupBy("p1", "p2")
      .agg(sum(col("r1") * col("r2")).as("dot"))
    val denomGuarded = when(col("pp1") * col("pp2") === 0d, lit(null))
      .otherwise(col("dot") / (col("pp1") * col("pp2")))
    dots
      .join(pinfo.select(col("p").as("p1"), col("pp").as("pp1")), "p1")
      .join(pinfo.select(col("p").as("p2"), col("pp").as("pp2")), "p2")
      .select(col("p1").as(out1), col("p2").as(out2), denomGuarded.as("similarity"))
      .where(col("similarity") =!= 0d) // keep negatives: recathon.c:1885
  }

  /** Self-join on the co-rating key; triangular convention p1 < p2 mirrors the
    * reference's "only worry about half the model" (recathon.c:3053-3057).
    */
  private def coPairs(r: DataFrame, joinKey: String, pairKey: String,
      rating: String, restrictTo: Option[DataFrame] = None): DataFrame = {
    val a = r.select(col(joinKey).as("k"), col(pairKey).as("p1"), col(rating).as("r1"))
    val b = r.select(col(joinKey).as("k"), col(pairKey).as("p2"), col(rating).as("r2"))
    pairJoin(a, b, restrictTo)
  }

  /** The pairwise co-rating join, optionally RESTRICTED to pairs with at
    * least one endpoint in `restrictTo` (first column = entity key) — the
    * exact model slice a point query's scoring consumes (the user-qual
    * pre-filter, SURVEY.md §4.2.4, applied to the MODEL build). Each kept
    * unordered pair is emitted exactly once in triangular (p1 < p2) order:
    * side `a` is pruned to restricted entities, side `b` carries a
    * membership flag, and a directional row survives when p1 < p2 or when
    * p2 is outside the restriction (so a (restricted, unrestricted) pair
    * with the larger id on the restricted side isn't lost, and a
    * (restricted, restricted) pair isn't double-counted). The value columns
    * r1/r2 may swap entities under the least/greatest normalization —
    * downstream only consumes the commutative product r1·r2.
    *
    * Aggregate values are computed from the SAME full-table stats as the
    * unrestricted build (norms/means enter later), so every kept similarity
    * is bit-identical to the full model's — restriction changes which rows
    * exist, never their values. Cost: O(restricted events ⋈ events) instead
    * of all-pairs; `restrictTo` is broadcast (it is structurally small — it
    * exists because a point query selected few entities).
    */
  private def pairJoin(a: DataFrame, b: DataFrame,
      restrictTo: Option[DataFrame]): DataFrame = restrictTo match {
    case None => a.join(b, Seq("k")).where(col("p1") < col("p2"))
    case Some(keys) =>
      val ks = keys.select(col(keys.columns.head).as("p1")).distinct()
      val ra = a.join(broadcast(ks), Seq("p1"), "semi")
      val fb = b.join(
        broadcast(ks.select(col("p1").as("p2"), lit(true).as("__ink"))),
        Seq("p2"), "left")
      ra.join(fb, Seq("k"))
        .where(col("p1") =!= col("p2") &&
          (col("p1") < col("p2") || col("__ink").isNull))
        .select(col("k"), least(col("p1"), col("p2")).as("p1"),
          greatest(col("p1"), col("p2")).as("p2"), col("r1"), col("r2"))
  }
}
