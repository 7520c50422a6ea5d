package graft.recdb

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The dense strategy of the CF model build and of the two CF scoring
  * sweeps, as array kernels. The strategy pick ([[Similarity]]'s
  * `denseWins`, [[Scoring]]'s `pickDense`) admits them only when their
  * bounded side fits one broadcast, and each kernel runs the same way:
  *
  *   1. one Spark aggregation collects the bounded side to the driver, one
  *      row per entity with its cells as arrays (duplicate events summed
  *      per cell in Spark, so a list never outgrows its dimension);
  *   2. the driver decodes the rows one at a time into the slot index —
  *      distinct keys sorted by their string form, so every dot sums its
  *      terms in one fixed order — and primitive per-entity arrays;
  *   3. one broadcast ships the blocks;
  *   4. one `mapPartitions` pass computes the dots with plain loops, over
  *      `defaultParallelism` tasks.
  *
  * Every dot adds the same nonzero terms in the same slot order as a
  * zero-filled vector dot would (a zero term leaves a double sum as it
  * is), so a kernel's values are those of the vectorized formulas.
  *
  * A scoring kernel asked for a top-k keeps only each user's k best,
  * ranked by score descending, then item ascending (the view window's
  * `row_number` order), so the users × items rows are never built.
  *
  * Driver memory: the collect holds the compressed result bytes, and the
  * decoded cells take 12 B each (an `Int` slot and a `Double` value) plus
  * one array header per entity; a broadcast then adds its serialized
  * copy. README's driver-discipline section gives the measured peak.
  *
  * Blocks built inside [[releasing]] are destroyed when it returns;
  * elsewhere a kernel's broadcast lives as long as its frame (Spark's
  * context cleaner removes it once the frame is unreachable).
  */
private[recdb] object DenseKernels {

  /** A kernel pass, named in the plan (`MapPartitions dense_kernel[...]`):
    * the witness that the dense strategy ran. Two kernels are equal when
    * their names and their driver-side `key`s — the blocks they ship and
    * the parameters their pass reads — are element-wise equal, so two
    * builds over the same data are one plan to Catalyst: Spark's cache
    * manager serves one cached on-the-fly model to both, and the
    * plan-keyed strategy memos hit. The key never leaves the driver.
    */
  private final class Kernel[A](val name: String, @transient val key: Array[AnyRef],
      f: Iterator[A] => Iterator[Row])
      extends (Iterator[A] => Iterator[Row]) with Serializable {
    def apply(it: Iterator[A]): Iterator[Row] = f(it)
    @transient private lazy val hash = java.util.Arrays.deepHashCode(key)
    override def hashCode: Int = 31 * name.hashCode + hash
    override def equals(o: Any): Boolean = o match {
      case k: Kernel[_] => (k eq this) ||
        k.name == name && java.util.Arrays.deepEquals(k.key, key)
      case _ => false
    }
    override def toString: String = s"dense_kernel[$name]"
  }

  private def kernel[A](name: String, key: AnyRef*)(
      f: Iterator[A] => Iterator[Row]): Kernel[A] = new Kernel(name, key.toArray, f)

  private val open = new ThreadLocal[mutable.ArrayBuffer[Broadcast[_]]]

  /** Run `body` — a kernel's construction and the action that consumes its
    * frame — and destroy every block broadcast a kernel built in it.
    */
  def releasing[T](body: => T): T = {
    val outer = open.get
    val mine = mutable.ArrayBuffer.empty[Broadcast[_]]
    open.set(mine)
    try body
    finally {
      open.set(outer)
      mine.foreach(_.destroy())
    }
  }

  private def ship[T: ClassTag](spark: SparkSession, blocks: T): Broadcast[T] = {
    val b = spark.sparkContext.broadcast(blocks)
    Option(open.get).foreach(_ += b)
    b
  }

  private def slices(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism)

  /** Collected entity rows: `ids` the entities in collection order, with
    * `rank` each one's rank in Spark's order of their type; entity e's
    * cells are `slot(e)`, ascending indexes into `keys` (the distinct keys,
    * sorted by their string form), with value column c in `vals(c)(e)`.
    */
  private final case class Cells(ids: Array[Any], rank: Array[Int], keys: Array[Any],
      slot: Array[Array[Int]], vals: Array[Array[Array[Double]]])

  /** [[Cells]] of `df` — column 0 the entity, column 1 its key array, every
    * further column a value array — in one job. The rows are decoded one
    * at a time from the collected bytes and each goes straight into
    * primitive arrays (keys first numbered as seen, renumbered in string
    * order once all are known), so the driver never holds the decoded
    * rows. More than `maxKeys` distinct keys fails: use strategy=join.
    */
  private def cells(df: DataFrame, maxKeys: Int, what: String): Cells = {
    val eType = df.schema(0).dataType
    val kType = df.schema(1).dataType.asInstanceOf[ArrayType].elementType
    val (eScala, kScala) = (CatalystTypeConverters.createToScalaConverter(eType),
      CatalystTypeConverters.createToScalaConverter(kType))
    val nVals = df.schema.length - 2
    val rows = org.apache.spark.sql.graft.DatasetShim.collectIterator(df)
    val (ents, ids) = (mutable.ArrayBuffer.empty[Any], mutable.ArrayBuffer.empty[Any])
    val (seen, index) = (mutable.ArrayBuffer.empty[Any], mutable.HashMap.empty[Any, Int])
    val slot = mutable.ArrayBuffer.empty[Array[Int]]
    val vals = Array.fill(nVals)(mutable.ArrayBuffer.empty[Array[Double]])
    rows.foreach { row =>
      val e = row.get(0, eType)
      ents += InternalRow.copyValue(e)
      ids += eScala(e)
      val ks = row.getArray(1)
      slot += Array.tabulate(ks.numElements()) { j =>
        val k = kScala(ks.get(j, kType))
        index.getOrElseUpdate(k, {
          seen += k
          require(seen.length <= maxKeys, s"dense $what needs <= $maxKeys " +
            s"distinct ${df.columns(1)} values; use strategy=join")
          seen.length - 1
        })
      }
      (0 until nVals).foreach(c => vals(c) += row.getArray(2 + c).toDoubleArray())
    }
    val byString = seen.indices.sortBy(seen(_).toString)
    val renumber = new Array[Int](seen.length)
    byString.indices.foreach(s => renumber(byString(s)) = s)
    // each entity's cells in slot order: (slot, position) packed and sorted
    slot.indices.foreach { e =>
      val p = Array.tabulate(slot(e).length)(j => renumber(slot(e)(j)).toLong << 32 | j)
      java.util.Arrays.sort(p)
      slot(e) = p.map(x => (x >>> 32).toInt)
      vals.foreach(v => v(e) = p.map(x => v(e)(x.toInt)))
    }
    val ord = TypeUtils.getInterpretedOrdering(eType)
    val rank = new Array[Int](ents.length)
    ents.indices.sortBy(ents(_))(ord).zipWithIndex.foreach { case (e, i) => rank(e) = i }
    Cells(ids.toArray, rank, byString.map(seen).toArray, slot.toArray,
      vals.map(_.toArray))
  }

  // ---------------------------------------------------------------- build

  private final case class PairBlocks(ids: Array[Any], slot: Array[Array[Int]],
      vals: Array[Array[Double]], norm: Array[Double], dims: Int)

  /** The model build: (out1, out2, similarity) for every pair of `pairKey`
    * entities out1 < out2 over the co-rating key `joinKey`, cosine or
    * Pearson (values centered on the entity's mean over all its ratings),
    * with the join path's filters: cosine keeps > 0, Pearson keeps != 0,
    * and a pair with a zero norm is dropped.
    */
  def pairs(r: DataFrame, joinKey: String, pairKey: String, rating: String,
      out1: String, out2: String, pearson: Boolean): DataFrame = {
    val spark = r.sparkSession
    // one exchange: the per-cell sums and the per-entity lists both run on
    // the pair-key partitioning (a (p, k) grouping is clustered by p)
    val byEntity = r.repartition(col(pairKey))
      .groupBy(col(pairKey).as("p"), col(joinKey).as("k"))
      .agg(sum(col(rating).cast(DoubleType)).as("v"), count(col(rating)).as("n"))
      .where(col("p").isNotNull && col("k").isNotNull && col("n") > 0)
      .groupBy("p")
      .agg(collect_list("k").as("k"), collect_list("v").as("v"),
        collect_list("n").as("n"), (sum("v") / sum("n")).as("mean"))
    // a Pearson cell holds its centered ratings' sum, v − n·mean, computed
    // in the tasks so the driver gets one value per cell
    val cs = cells(byEntity.select(col("p"), col("k"),
      if (pearson) zip_with(col("v"), col("n"), (v, n) => v - n * col("mean"))
      else col("v")), Similarity.DenseDimLimit, "build")
    // entities in pair-key order: index order is the out1 < out2 order
    val order = cs.rank.indices.sortBy(cs.rank(_)).toArray
    val vals = order.map(cs.vals(0))
    val norm = vals.map(v => math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x)))
    val ids = order.map(cs.ids)
    val slot = order.map(cs.slot)
    val blocks = ship(spark, PairBlocks(ids, slot, vals, norm, cs.keys.length))
    val n = slices(spark)
    val schema = StructType(Seq(StructField(out1, r.schema(pairKey).dataType),
      StructField(out2, r.schema(pairKey).dataType),
      StructField("similarity", DoubleType, nullable = false)))
    // one local row per slice (a local scan: one task per row, and no
    // input records beside the events the collect read)
    spark.createDataset(0 until n)(Encoders.scalaInt).mapPartitions(kernel[Int](
        if (pearson) "pearson_pairs" else "cosine_pairs", ids, slot, vals) { it =>
      val b = blocks.value
      val x = new Array[Double](b.dims)
      // entity e1 scattered into x; its dot with each later entity walks
      // that entity's cells. Strided slices balance the triangle.
      it.flatMap(t => (t until b.ids.length by n).iterator).flatMap { e1 =>
        val (s1, v1) = (b.slot(e1), b.vals(e1))
        s1.indices.foreach(t => x(s1(t)) = v1(t))
        val out = mutable.ArrayBuffer.empty[Row]
        var e2 = e1 + 1
        while (e2 < b.ids.length) {
          val s2 = b.slot(e2)
          val v2 = b.vals(e2)
          var dot = 0.0
          var t = 0
          while (t < s2.length) { dot += x(s2(t)) * v2(t); t += 1 }
          val den = b.norm(e1) * b.norm(e2)
          if (den != 0d) {
            val sim = dot / den
            if (if (pearson) sim != 0d else sim > 0d)
              out += Row(b.ids(e1), b.ids(e2), sim)
          }
          e2 += 1
        }
        s1.foreach(x(_) = 0d)
        out.iterator
      }
    })(Encoders.row(schema))
  }

  // -------------------------------------------------------------- scoring

  /** The items a sweep scores, by index: external values, and each one's
    * rank in Spark's order of the item type (the top-k tie-break).
    */
  private final case class Items(ids: Array[Any], rank: Array[Int])

  /** User `u`'s rows: every item, or its k best by (score desc, item asc). */
  private def emit(u: Any, score: Array[Double], items: Items,
      topK: Option[Int]): Iterator[Row] = {
    def better(i: Int, j: Int): Boolean =
      score(i) > score(j) || score(i) == score(j) && items.rank(i) < items.rank(j)
    val picked = topK match {
      case None => score.indices.toArray
      case Some(k) =>
        // the best k so far, worst on top
        val heap = new java.util.PriorityQueue[Integer](math.max(1, k),
          (i: Integer, j: Integer) => if (better(i, j)) 1 else if (better(j, i)) -1 else 0)
        score.indices.foreach { i =>
          if (heap.size < k) heap.add(i)
          else if (k > 0 && better(i, heap.peek)) { heap.poll(); heap.add(i) }
        }
        heap.toArray(Array.empty[Integer]).map(_.intValue).sortWith(better)
    }
    picked.iterator.map(i => Row(u, items.ids(i), score(i)))
  }

  /** The user-side pass: `rows` shuffled by their column 0 (the user) over
    * `defaultParallelism` tasks and sorted by it, so `score` meets one
    * user's rows at a time.
    */
  private def sweep(rows: DataFrame, schema: StructType, k: Kernel[Row]): DataFrame = {
    val u = rows.columns.head
    rows.repartition(slices(rows.sparkSession), col(u)).sortWithinPartitions(u)
      .mapPartitions(k)(Encoders.row(schema))
  }

  /** A sweep's pass: `score` over each user's rows, met one user at a time. */
  private def byUser(name: String, key: AnyRef*)(
      score: (Any, Seq[Row]) => Iterator[Row]): Kernel[Row] =
    new Kernel[Row](name, key.toArray, { it =>
      val b = it.buffered
      Iterator.continually(b).takeWhile(_.hasNext).flatMap { b =>
        val user = b.head.get(0)
        val mine = mutable.ArrayBuffer.empty[Row]
        while (b.hasNext && b.head.get(0) == user) mine += b.next()
        score(user, mine.toSeq)
      }
    })

  private def scoreSchema(ratings: DataFrame, c: EventCols): StructType =
    StructType(Seq(ratings.schema(c.user), ratings.schema(c.item),
      StructField("score", DoubleType, nullable = false)))

  private final case class ItemCFBlocks(items: Items, slot: collection.Map[Any, Int],
      sim: Array[Double])

  /** itemCF over every item of `ratings` for the users of `uRatings`:
    * score(u,i) = Σ_j s(i,j)·r(u,j) / Σ_j |s(i,j)| over u's rated items j
    * (each event counts once in the denominator), 0 on an empty
    * denominator. The driver holds the items × items similarity matrix,
    * which the pick bounds; a user costs O(items × rated).
    */
  def itemCF(ratings: DataFrame, uRatings: DataFrame, itemModel: DataFrame,
      c: EventCols, topK: Option[Int]): DataFrame = {
    val iType = ratings.schema(c.item).dataType
    // one aggregation: the item universe and each item's model edges
    val cs = cells(
      ratings.select(col(c.item).as("a"), lit(null).cast(iType).as("b"),
        lit(null).cast(DoubleType).as("s"), lit(true).as("known"))
        .unionByName(itemModel.select(col("item1").cast(iType).as("a"),
          col("item2").cast(iType).as("b"), col("similarity").cast(DoubleType).as("s"),
          lit(false).as("known")).where(col("b").isNotNull && col("s").isNotNull))
        .where(col("a").isNotNull)
        .groupBy("a").agg(collect_list("b").as("b"), collect_list("s").as("s"),
          max("known").as("known"))
        .where(col("known")).drop("known"), Int.MaxValue, "itemCF")
    val n = cs.ids.length
    require(n <= Similarity.DenseDimLimit, s"dense itemCF needs <= " +
      s"${Similarity.DenseDimLimit} items, got $n; use strategy=join")
    val bySlot = cs.ids.indices.sortBy(cs.ids(_).toString).toArray
    val slot = mutable.HashMap.empty[Any, Int]
    bySlot.indices.foreach(i => slot(cs.ids(bySlot(i))) = i)
    // an edge to an item outside the universe has no row
    val partner = cs.keys.map(slot.getOrElse(_, -1))
    val sim = new Array[Double](math.multiplyExact(n, n))
    cs.ids.indices.foreach { e =>
      val (i, bs, ss) = (slot(cs.ids(e)), cs.slot(e), cs.vals(0)(e))
      bs.indices.foreach { t =>
        val j = partner(bs(t))
        if (j >= 0) { sim(i * n + j) += ss(t); sim(j * n + i) += ss(t) }
      }
    }
    val items = Items(bySlot.map(cs.ids), bySlot.map(cs.rank))
    val blocks = ship(ratings.sparkSession, ItemCFBlocks(items, slot, sim))
    sweep(uRatings.select(col(c.user), col(c.item), col(c.rating).cast(DoubleType)),
      scoreSchema(ratings, c),
      byUser("itemcf", topK, items.ids, items.rank, sim) { (u, events) =>
        val b = blocks.value
        val n = b.items.ids.length
        val (num, den) = (new Array[Double](n), new Array[Double](n))
        // u's rated items in slot order: Σ rating and the event count of each
        events.filter(!_.isNullAt(1)).groupBy(e => b.slot(e.get(1))).toSeq.sortBy(_._1)
          .foreach { case (j, evs) =>
            val r = evs.filter(!_.isNullAt(2)).map(_.getDouble(2)).sum
            val m = evs.size.toDouble
            var i = 0
            while (i < n) {
              val s = b.sim(j * n + i)
              num(i) += r * s; den(i) += m * math.abs(s)
              i += 1
            }
          }
        emit(u, Array.tabulate(n)(i => if (den(i) == 0d) 0d else num(i) / den(i)),
          b.items, topK)
      })
  }

  private final case class UserCFBlocks(items: Items, slot: collection.Map[Any, Int],
      raters: Array[Array[Int]], r: Array[Array[Double]], m: Array[Array[Double]])

  /** userCF over every item of `ratings` for the users of `uRatings`:
    * score(u,i) = ū + Σ_v s(u,v)·(r(v,i) − ū) / Σ_v |s(u,v)| over the
    * raters v of i, with ū u's own average, and 0 (not ū) on an empty
    * denominator. The driver holds each item's raters (the pick bounds
    * items × users); a shuffle by user brings each user's events and model
    * row together, and a user costs O(rating cells).
    */
  def userCF(ratings: DataFrame, uRatings: DataFrame, users: Option[DataFrame],
      userModel: DataFrame, c: EventCols, topK: Option[Int]): DataFrame = {
    val uType = ratings.schema(c.user).dataType
    // one exchange: each item's raters, duplicate events summed per cell
    val cs = cells(ratings.repartition(col(c.item))
      .groupBy(col(c.item).as("i"), col(c.user).as("v"))
      .agg(coalesce(sum(col(c.rating).cast(DoubleType)), lit(0d)).as("r"),
        count(lit(1)).cast(DoubleType).as("m"))
      .where(col("i").isNotNull && col("v").isNotNull)
      .groupBy("i").agg(collect_list("v").as("v"), collect_list("r").as("r"),
        collect_list("m").as("m")), Similarity.DenseDimLimit, "userCF")
    val items = Items(cs.ids, cs.rank)
    val slot = mutable.HashMap.empty[Any, Int]
    cs.keys.indices.foreach(v => slot(cs.keys(v)) = v)
    val blocks = ship(ratings.sparkSession,
      UserCFBlocks(items, slot, cs.slot, cs.vals(0), cs.vals(1)))
    val events = uRatings.select(col(c.user).as("u"), lit(null).cast(uType).as("v"),
      col(c.rating).cast(DoubleType).as("x"), lit(true).as("event"))
    val sym = Scoring.symmetric(userModel, "user1", "user2")
      .select(col("i").cast(uType).as("u"), col("j").cast(uType).as("v"),
        col("s").cast(DoubleType).as("x"), lit(false).as("event"))
      .where(col("v").isNotNull && col("x").isNotNull)
    // the user-qual pre-filter shrinks the scored side only
    val neighbors = users.fold(sym)(q => sym.join(broadcast(
      q.select(col(c.user).cast(uType).as("u")).distinct()), Seq("u"), "semi"))
    sweep(events.unionByName(neighbors), scoreSchema(ratings, c),
      byUser("usercf", topK, items.ids, items.rank, cs.keys, cs.slot, cs.vals) {
        (u, rows) =>
        val b = blocks.value
        val (evs, nbrs) = rows.partition(_.getBoolean(3))
        if (evs.isEmpty) Iterator.empty
        else {
          val rs = evs.filter(!_.isNullAt(2)).map(_.getDouble(2))
          val ubar = rs.sum / rs.size
          val (sv, av) = (new Array[Double](b.slot.size), new Array[Double](b.slot.size))
          nbrs.foreach(r => b.slot.get(r.get(1)).foreach { v =>
            sv(v) += r.getDouble(2); av(v) += math.abs(r.getDouble(2))
          })
          val score = Array.tabulate(b.raters.length) { i =>
            val (vs, rv, mv) = (b.raters(i), b.r(i), b.m(i))
            var d1 = 0.0
            var d2 = 0.0
            var den = 0.0
            var t = 0
            while (t < vs.length) {
              val v = vs(t)
              d1 += sv(v) * rv(t); d2 += sv(v) * mv(t); den += av(v) * mv(t)
              t += 1
            }
            if (den == 0d) 0d else ubar + (d1 - ubar * d2) / den
          }
          emit(u, score, b.items, topK)
        }
      })
  }
}
