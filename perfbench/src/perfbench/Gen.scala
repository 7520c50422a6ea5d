package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Every input a workload feeds the program comes
  * from here, so the same seed gives byte-identical inputs and the program's
  * own data connectors cannot change them.
  */
object Gen {

  final case class Rating(user: Long, item: Long, rating: Double)
  final case class Doc(id: Long, text: String)

  /** Shape of a generated ratings table. `meanPerUser` is the mean number of
    * items a user rates; activity is log-normal, so a few heavy users rate
    * many items and most rate few.
    */
  final case class RatingShape(users: Int, items: Int, meanPerUser: Int,
      minPerUser: Int = 5, activitySigma: Double = 1.0, itemSkew: Double = 0.9)

  /** The point-serving shape: 1,000 users × 200 items, ~20k ratings, so a
    * top-20 view is a real 10 % cut of every user's scores while CREATE and
    * the view build stay short enough to repeat three times per run.
    */
  val ServingShape: RatingShape = RatingShape(users = 1000, items = 200,
    meanPerUser = 20)

  /** The program's sf0.1 ratings shape: 1,500 users × 100 items, ~73k
    * ratings (about half the catalog per user).
    */
  val Sf01Shape: RatingShape = RatingShape(users = 1500, items = 100,
    meanPerUser = 49, minPerUser = 10, activitySigma = 0.5)

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ stream.hashCode.toLong)

  /** Cumulative weights of a Zipf(s) law over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i); w(i) = acc; i += 1 }
    w.map(_ / acc)
  }

  /** Index drawn from a cumulative distribution. */
  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Ratings with Zipf item popularity (over a seeded permutation of item
    * ids, so the popular items differ per seed) and log-normal user
    * activity. Users are 1..users, items 1..items; each (user, item) pair
    * appears once; ratings are integers 1..5.
    */
  def ratings(shape: RatingShape, seed: Long): Vector[Rating] = {
    val r = rng(seed, "ratings")
    val itemOrder = permutation(shape.items, r)
    val popularity = Array.tabulate(shape.items)(rank =>
      1.0 / math.pow(rank + 1, shape.itemSkew))
    val out = Vector.newBuilder[Rating]
    var u = 1
    while (u <= shape.users) {
      val z = gaussian(r)
      val sigma = shape.activitySigma
      val n = math.max(shape.minPerUser, math.min(shape.items / 2,
        math.round(shape.meanPerUser * math.exp(sigma * z - sigma * sigma / 2))
          .toInt))
      // weighted sampling without replacement (Efraimidis–Spirakis keys)
      val keys = Array.tabulate(shape.items)(rank =>
        (math.log(r.nextDouble() + 1e-300) / popularity(rank), rank))
      keys.sortInPlaceBy(k => -k._1)
      val picked = keys.iterator.take(n).map(k => itemOrder(k._2) + 1L)
        .toArray.sorted
      picked.foreach(i => out += Rating(u, i, (1 + r.nextInt(5)).toDouble))
      u += 1
    }
    out.result()
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = r.nextDouble() + 1e-300
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Item dimension rows (itemid, genre) for the join + ILIKE shape. */
  val Genres: Vector[String] = Vector("comedy", "drama", "action",
    "documentary", "romance", "thriller", "animation", "medical drama")

  def itemDims(items: Int, seed: Long): Vector[(Long, String)] = {
    val r = rng(seed, "dims")
    Vector.tabulate(items)(i => (i + 1L, Genres(r.nextInt(Genres.size))))
  }

  /** Insert batches for the maintenance workload: each batch holds
    * `newUsers` fresh users (ids above the base universe) with
    * `perNewUser` ratings each, topped up to `perBatch` rows with ratings
    * of existing users on items they have not rated. No (user, item) pair
    * repeats across the base table and all batches.
    */
  def insertBatches(base: Seq[Rating], shape: RatingShape, batches: Int,
      perBatch: Int, newUsers: Int, perNewUser: Int,
      seed: Long): Vector[Vector[Rating]] = {
    require(newUsers * perNewUser <= perBatch && perNewUser <= shape.items)
    val r = rng(seed, "inserts")
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    base.foreach(x => seen += ((x.user, x.item)))
    val itemCdf = zipfCdf(shape.items, shape.itemSkew)
    val itemOrder = permutation(shape.items, r)
    var nextUser = shape.users + 1L
    Vector.fill(batches) {
      val b = Vector.newBuilder[Rating]
      var made = 0
      def add(user: Long): Boolean = {
        val item = itemOrder(draw(itemCdf, r)) + 1L
        val fresh = seen.add((user, item))
        if (fresh) { b += Rating(user, item, (1 + r.nextInt(5)).toDouble); made += 1 }
        fresh
      }
      (0 until newUsers).foreach { _ =>
        val user = nextUser
        nextUser += 1
        var got = 0
        while (got < perNewUser) if (add(user)) got += 1
      }
      while (made < perBatch) add(1L + r.nextInt(shape.users))
      b.result()
    }
  }

  /** Documents over a Zipf-distributed synthetic vocabulary. */
  def documents(n: Int, vocab: Int, minWords: Int, maxWords: Int,
      seed: Long): Vector[Doc] = {
    val r = rng(seed, "docs")
    val words = Vector.tabulate(vocab)(word)
    val cdf = zipfCdf(vocab, 1.0)
    Vector.tabulate(n) { i =>
      val len = minWords + r.nextInt(maxWords - minWords + 1)
      Doc(i.toLong, Vector.fill(len)(words(draw(cdf, r))).mkString(" "))
    }
  }

  private val Syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "be", "da", "fu", "go", "hi", "je", "pa", "zu")

  /** A pronounceable word, unique per index. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var v = i
    do {
      sb.append(Syllables(v % Syllables.size))
      v /= Syllables.size
    } while (v > 0)
    sb.toString
  }

  /** A seeded op sequence: `n` draws from a Zipf(s) law over a seeded
    * permutation of `ids`.
    */
  def zipfSequence(ids: IndexedSeq[Long], n: Int, s: Double,
      seed: Long, stream: String): Vector[Long] = {
    val r = rng(seed, stream)
    val order = permutation(ids.size, r)
    val cdf = zipfCdf(ids.size, s)
    Vector.fill(n)(ids(order(draw(cdf, r))))
  }

  /** SHA-256 over a canonical text form of the inputs; printed by every run
    * so two runs can be shown to have used the same inputs.
    */
  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
