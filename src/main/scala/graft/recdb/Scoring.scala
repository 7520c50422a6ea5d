package graft.recdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prediction formulas — the Spark re-expression of RecDB's RecScan tuple
  * generator (execRecommend.c:302-595) plus the per-method predict functions
  * (SURVEY.md §2.1 R12-R15).
  *
  * Output schema mirrors the synthesized tuples: one row per (user, item) pair
  * for EVERY qualifying user with ≥1 event and EVERY item in the events table —
  * including items the user already rated ("we rate all items",
  * recathon.c:3945-3958, SURVEY.md §2.3 #1). Users with zero events are
  * naturally absent (inner-join semantics replace the reference's per-user
  * WARNING skip, recathon.c:3894).
  *
  * The optional `users` frame is the reference's user-qual pre-filter
  * (execRecommend.c:442-468, SURVEY.md §4.2.4): predicates on the user key are
  * applied BEFORE the user×item expansion and before any per-user aggregation,
  * pruning the heavy work to the qualifying users. Note the item dimension
  * always comes from the FULL events table — filtering users must not shrink
  * the item universe.
  *
  * Scale design: the heavy aggregation shuffles on model keys only. The
  * `users` pre-filter frame is structurally small (it exists because a
  * predicate selected few users) and keeps an explicit broadcast hint; every
  * unbounded dimension (per-user averages, the item dimension, factor
  * frames) is left unhinted so AQE picks broadcast only when the runtime
  * size allows — a forced broadcast of a 1e9-row dimension would OOM the
  * driver on a real cluster.
  *
  * When the cost model picks the dense sweep, the bounded side (itemCF: the
  * items × items similarity matrix; userCF: each item's raters) is
  * collected once, broadcast once, and scored against each user's rated
  * list by an array kernel ([[DenseKernels]]) — the reference's in-memory
  * model walk (execRecommend.c:302-595), with the users split over tasks by
  * one shuffle. Asked for a top-k, the kernel keeps only each user's k best,
  * so neither the users × items rows nor a window sort over them is built;
  * the sparse join path keeps the window, because its rows per user are
  * not bounded.
  */
object Scoring {

  /** Corpus statistics for the scoring strategy pick, when the caller already
    * knows them (e.g. from the recommender catalog, computed once at CREATE
    * time): providing them makes `pickDense` a PURE function — no stats jobs
    * run during plan construction, which is what keeps EXPLAIN on a
    * materialized RECOMMEND query job-free.
    *
    * @param dims      distinct values of the model's dimension key
    *                  (items for itemCF, users for userCF)
    * @param items     distinct items in the events table
    * @param users     distinct users in the events table
    * @param n         event count
    * @param modelRows rows in the similarity model
    */
  final case class ScoreStats(dims: Long, items: Long, users: Long, n: Long,
      modelRows: Long)

  /** Expand a triangular model to both directions for scoring sweeps —
    * replaces the reference's two-half probe (recathon.c:4025-4079).
    */
  def symmetric(model: DataFrame, c1: String, c2: String): DataFrame =
    model.select(col(c1).as("i"), col(c2).as("j"), col("similarity").as("s"))
      .unionAll(
        model.select(col(c2).as("i"), col(c1).as("j"), col("similarity").as("s")))

  /** itemCF: score(u,i) = Σ_{j∈rated(u)} sim(i,j)·r(u,j) / Σ|sim|
    * (recathon.c:4235-4295). Item with no rated neighbors → 0 (recathon.c:4291).
    * With `topK`, each user's k best ([[best]]).
    */
  def itemCF(ratings: DataFrame, itemModel: DataFrame,
      c: EventCols = EventCols(), users: Option[DataFrame] = None,
      strategy: String = "auto", stats: Option[ScoreStats] = None,
      scoredUsersHint: Option[Long] = None,
      topK: Option[Int] = None): DataFrame = {
    val uRatings = restrict(ratings, users, c)
    if (pickDense(ratings, users, itemModel, c.item, c, strategy, stats,
        scoredUsersHint))
      return DenseKernels.itemCF(ratings, uRatings, itemModel, c, topK)
    val sym = symmetric(itemModel, "item1", "item2")
    val scores = sym
      .join(uRatings.select(col(c.user).as("u"), col(c.item).as("j"),
        col(c.rating).as("r")), Seq("j"))
      .groupBy("u", "i")
      .agg((sum(col("s") * col("r")) / sum(abs(col("s")))).as("score"))
    best(expansion(uRatings, ratings, c)
      .join(scores, Seq("u", "i"), "left")
      .select(col("u").as(c.user), col("i").as(c.item),
        coalesce(col("score"), lit(0.0)).as("score")), c, topK)
  }

  /** `scores` cut to each user's k best, ranked by score descending, then
    * item ascending: the order of a top-k view.
    */
  private[recdb] def best(scores: DataFrame, c: EventCols,
      topK: Option[Int]): DataFrame = topK.fold(scores) { k =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(c.user)).orderBy(col("score").desc, col(c.item))
    scores.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .drop("__rk")
  }

  /** Hard ceiling on the dense sweep's broadcast payload, in CELLS (items ×
    * vector width). Both dense kernels hold one dims-wide row per ITEM
    * (itemCF: the items × items similarity matrix; userCF: each item's
    * raters over the user index), so the payload is ≤ items × dims cells —
    * bounding only the width would let an unbounded item count push the
    * broadcast to TBs. A task holds 2²⁴ cells as 134 MB of itemCF matrix
    * (8 B a cell) or at most 335 MB of userCF rater rows (20 B a rated
    * cell: slot, rating sum, event count). The driver holds more at its
    * peak, the collected bytes or the serialized broadcast copy beside the
    * blocks (measured on incompressible random values): ≈ 32 B a rated
    * cell for userCF, ≈ 540 MB at the cap; for itemCF the matrix twice
    * plus the model's edges at 12 B each, ≈ 20 B a matrix cell.
    */
  private val DenseBroadcastCells = 1L << 24

  /** Strategy pick for the dense scoring sweep — the same cost model as the
    * model build's pick ([[Similarity.DenseJoinCostRatio]]), adapted to the
    * sweep's shapes.
    *
    * Sparse cost: the sym-model × ratings join fan-out, estimated as
    * 2·|model|·(cnt / dim-cardinality) where cnt is the event count AFTER
    * the user-qual pre-filter — a selective RECOMMEND-style single-user
    * query shrinks the join fan-out proportionally while the dense path's
    * fixed costs (per-item vectors over ALL raters) do not shrink, so the
    * filter must enter the estimate (and the memo key: the filtered and
    * unfiltered sweeps genuinely want different strategies).
    *
    * Dense cost: scoredUsers × items × dims cells (the kernel's dot
    * products, bounded above by the full matrix), discounted by the
    * measured cell/row cost ratio, plus |ratings| rows for the collect over
    * the full events table.
    *
    * Serving-latency note: the per-filter quantities (scoredUsers, cnt) are
    * ESTIMATED from one count() on the caller's users frame — typically one
    * literal row in a RECOMMEND workload — scaled by the memoized corpus
    * stats under a uniform-activity assumption. Measuring uRatings itself
    * (semi-join + aggregation over the whole events frame) would charge a
    * corpus-wide job to every single-user query; a skew-driven mispick here
    * costs only the bounded gap between two correct strategies.
    *
    * Bounds: the vector width (model key side — items for itemCF, users for
    * userCF) must fit [[Similarity.DenseDimLimit]]; the broadcast side is
    * one row per item and is bounded by
    * [[Similarity.DenseEntityLimit]] and [[DenseBroadcastCells]], mirroring
    * the model build's check.
    */
  private def pickDense(ratings: DataFrame, users: Option[DataFrame],
      model: DataFrame, dimKey: String, c: EventCols,
      strategy: String, providedStats: Option[ScoreStats] = None,
      scoredUsersHint: Option[Long] = None): Boolean =
    strategy match {
    case "dense" => true
    case "join" => false
    case "auto" =>
      def decide(st: ScoreStats, scoredUsersKnown: Option[Long]): Boolean =
        if (st.dims > Similarity.DenseDimLimit || st.dims == 0L ||
            st.users == 0L || st.items > Similarity.DenseEntityLimit ||
            st.dims * st.items > DenseBroadcastCells) false
        else {
          val scoredUsers = scoredUsersKnown.map(math.min(_, st.users))
            .getOrElse(st.users)
          val cntEst = st.n.toDouble * scoredUsers / st.users
          val estJoinRows = 2.0 * st.modelRows * (cntEst / st.dims)
          val denseRowEquiv = scoredUsers.toDouble * st.items * st.dims /
            Similarity.DenseJoinCostRatio + st.n
          denseRowEquiv < estJoinRows
        }
      providedStats match {
        case Some(st) =>
          // caller-known stats (catalog entry): the decision is pure — no
          // memo, no jobs. The hint stands in for the users-frame count; an
          // absent hint rounds up to all users, biasing toward the sparse
          // join, which is the scale-safe side.
          decide(st, scoredUsersHint)
        case None =>
          val key = (ratings.queryExecution.analyzed.canonicalized,
            model.queryExecution.analyzed.canonicalized,
            users.map(_.queryExecution.analyzed.canonicalized),
            s"score|$dimKey")
          Similarity.memoized(key) {
            // user-INDEPENDENT stats memoized on (ratings, model) alone: a
            // RECOMMEND-workload stream of per-user queries re-keys only on
            // the users filter, so these two jobs must not re-run per user.
            val statsKey = (ratings.queryExecution.analyzed.canonicalized,
              model.queryExecution.analyzed.canonicalized, s"scorestats|$dimKey")
            val st = Similarity.memoizedStats(statsKey) {
              // approx distincts: these feed only the cost model and its
              // bounds (wide safety margins), so HLL error is immaterial
              // and the distinct-expand shuffle is skipped
              val row = ratings.agg(
                approx_count_distinct(col(dimKey)).as("dims"),
                approx_count_distinct(col(c.item)).as("items"),
                approx_count_distinct(col(c.user)).as("users"),
                count(lit(1)).as("n")).head()
              ScoreStats(row.getLong(0), row.getLong(1), row.getLong(2),
                row.getLong(3), model.count())
            }
            // per-filter estimate from the (structurally small) users frame —
            // the only non-memoized job; it never touches the events frame
            val scoredUsers = scoredUsersHint.orElse(
              users.map(u => u.select(col(c.user)).distinct().count()))
            decide(st, scoredUsers)
          }
      }
    case other => throw new IllegalArgumentException(
      s"unknown strategy '$other' (auto|join|dense)")
  }

  /** userCF: score(u,i) = ū + Σ_{v∈raters(i)} sim(u,v)·(r(v,i) − ū) / Σ|sim|,
    * where ū is **u's own** average — the reference's documented quirk vs the
    * standard Resnick formula (recathon.c:4349-4360, SURVEY.md §2.1 R13).
    * No similar raters → 0.0, not ū (recathon.c:4357). With `topK`, each
    * user's k best ([[best]]).
    */
  def userCF(ratings: DataFrame, userModel: DataFrame,
      c: EventCols = EventCols(), users: Option[DataFrame] = None,
      strategy: String = "auto", stats: Option[ScoreStats] = None,
      scoredUsersHint: Option[Long] = None,
      topK: Option[Int] = None): DataFrame = {
    val uRatings = restrict(ratings, users, c)
    if (pickDense(ratings, users, userModel, c.user, c, strategy, stats,
        scoredUsersHint))
      return DenseKernels.userCF(ratings, uRatings, users, userModel, c, topK)
    val uavg = uRatings.groupBy(col(c.user).as("u"))
      .agg(avg(col(c.rating)).as("ubar"))
    val sym0 = symmetric(userModel, "user1", "user2")
      .select(col("i").as("u"), col("j").as("v"), col("s"))
    val sym = users match {
      case Some(u) =>
        sym0.join(broadcast(u.select(col(c.user).as("u")).distinct()), Seq("u"), "semi")
      case None => sym0
    }
    val scores = sym
      .join(ratings.select(col(c.user).as("v"), col(c.item).as("i"),
        col(c.rating).as("r")), Seq("v"))
      .join(uavg, Seq("u"))
      .groupBy("u", "i", "ubar")
      .agg((col("ubar") +
        sum(col("s") * (col("r") - col("ubar"))) / sum(abs(col("s")))).as("score"))
      .drop("ubar")
    best(expansion(uRatings, ratings, c)
      .join(scores, Seq("u", "i"), "left")
      .select(col("u").as(c.user), col("i").as(c.item),
        coalesce(col("score"), lit(0.0)).as("score")), c, topK)
  }

  /** SVD / matrix-factorization: score(u,i) = dot(userF[u], itemF[i]) — no
    * baseline at inference (recathon.c:4373-4433, SURVEY.md §2.1 R14).
    * Factor frames: (id, features ARRAY<numeric>). The cross join is left
    * unhinted — AQE broadcasts the item side when it is actually small.
    */
  def factorScore(userFactors: DataFrame, itemFactors: DataFrame,
      c: EventCols = EventCols()): DataFrame = {
    val uf = userFactors.select(col("id").as(c.user),
      col("features").cast("array<double>").as("ufeat"))
    val itf = itemFactors.select(col("id").as(c.item),
      col("features").cast("array<double>").as("ifeat"))
    uf.crossJoin(itf)
      .select(col(c.user), col(c.item),
        // codegen'd native dot (same left-to-right double summation the
        // HOF fold produced — bitwise-identical scores, no per-row lambda)
        graft.functions.VectorFns.dotNative(col("ufeat"), col("ifeat"))
          .as("score"))
  }

  /** Events restricted to qualifying users (broadcast semi-join). */
  private def restrict(ratings: DataFrame, users: Option[DataFrame],
      c: EventCols): DataFrame = users match {
    case Some(u) => ratings.join(broadcast(u.select(c.user).distinct()), Seq(c.user), "semi")
    case None => ratings
  }

  /** The RecScan output frame: qualifying users that have ≥1 event × ALL items
    * in the events table (execRecommend.c:302-595).
    */
  private def expansion(uRatings: DataFrame, allRatings: DataFrame,
      c: EventCols): DataFrame = {
    val users = uRatings.select(col(c.user).as("u")).distinct()
    val items = allRatings.select(col(c.item).as("i")).distinct()
    users.crossJoin(items)
  }
}
