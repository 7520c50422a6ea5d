package perfbench

/** One attempted op. Times are `System.nanoTime` values. `due` is when an
  * open-loop schedule made the op due (equal to `start` for closed-loop
  * ops). An op that threw, timed out or failed its output check has
  * `ok = false`.
  */
final case class OpRecord(kind: String, due: Long, start: Long, end: Long,
    ok: Boolean, error: String = "") {
  /** Latency as the user sees it: from when the op was due to when it
    * ended. For a closed-loop op this is its service time.
    */
  def latencyMs: Double = (end - due) / 1e6
  /** How late the generator issued the op (0 for closed-loop ops). */
  def lagMs: Double = (start - due) / 1e6
}

/** A timed interval on one trace: spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Stats {

  /** Samples a percentile must leave beyond it to be reported. */
  val MinBeyond = 10

  /** Nearest-rank tail percentile `p` (0 < p < 1) of `xs`, reported only
    * when at least [[MinBeyond]] samples lie strictly above its rank; `None`
    * otherwise. Failed ops enter `xs` as +Infinity, so they count as
    * missing every percentile.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1): $p")
    val n = xs.size
    if (n == 0) None
    else {
      val rank = math.ceil(p * n).toInt.max(1) // 1-based
      if (n - rank < MinBeyond) None
      else Some(xs.sorted.apply(rank - 1))
    }
  }

  /** The median, which needs no samples beyond it. */
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  /** Distance between the nearest-rank first and third quartiles, as a
    * share of the median; `None` with fewer than four samples.
    */
  def spread(xs: Seq[Double]): Option[Double] =
    if (xs.size < 4) None
    else {
      val s = xs.sorted
      val n = s.size
      median(s).filter(_ != 0).map(m => (s((3 * (n - 1)) / 4) - s((n - 1) / 4)) / m)
    }

  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)

  /** Latency samples of `ops` with failures as +Infinity. */
  def latencies(ops: Seq[OpRecord]): Seq[Double] =
    ops.map(o => if (o.ok) o.latencyMs else Double.PositiveInfinity)

  /** Attempted and failed counts per op kind, sorted by kind. */
  def counts(ops: Seq[OpRecord]): Seq[(String, Int, Int)] =
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      (k, os.size, os.count(!_.ok))
    }

  /** The open-loop schedule: op `i` is due `i * intervalNs` after `t0`. */
  def dueAt(t0: Long, intervalNs: Long, i: Int): Long = t0 + i * intervalNs

  /** Total length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`.
    */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(ch, s.startMs, s.endMs))
    }.toMap
  }
}
