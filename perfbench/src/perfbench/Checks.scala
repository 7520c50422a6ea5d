package perfbench

/** Output checks. A failed check throws [[Checks.CheckFailed]], which the
  * op runner counts as a failed op and as a wrong answer.
  */
object Checks {

  final class CheckFailed(msg: String) extends Exception(msg)

  def fail(msg: String): Nothing = throw new CheckFailed(msg)

  /** Score tolerance between two routes that sum the same terms in a
    * different order.
    */
  val Eps = 1e-9

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Eps * math.max(1.0, math.abs(a))

  /** Structural checks on one ranked answer of (id, score) rows: at most
    * `k` rows (exactly `k` when `full`), distinct ids inside the generated
    * universe, scores non-increasing with ties broken by ascending id.
    */
  def ranked(rows: Seq[(Long, Double)], k: Int, inUniverse: Long => Boolean,
      full: Boolean): Unit = {
    if (rows.size > k) fail(s"${rows.size} rows for k=$k")
    if (full && rows.size != k) fail(s"${rows.size} rows, expected $k")
    rows.foreach { case (id, s) =>
      if (!inUniverse(id)) fail(s"id $id outside the generated universe")
      if (s.isNaN) fail(s"NaN score for id $id")
    }
    if (rows.map(_._1).distinct.size != rows.size) fail("duplicate ids")
    rows.sliding(2).foreach {
      case Seq((i1, s1), (i2, s2)) =>
        if (s1 < s2 || (s1 == s2 && i1 >= i2))
          fail(s"order broken at ($i1, $s1) then ($i2, $s2)")
      case _ => ()
    }
  }

  /** The served top-k equals the top-k of a second route. `reference` is the
    * second route's ranking cut at more than `k` rows (or complete). Scores
    * must match position by position and every served id must carry the
    * same score in the reference, so ids that tie at the cut or whose
    * scores differ only in summation order may trade places, but a stale
    * or torn answer cannot pass.
    */
  def sameTopK(served: Seq[(Long, Double)], reference: Seq[(Long, Double)],
      k: Int): Unit = {
    val want = math.min(k, reference.size)
    if (served.size != want) fail(s"served ${served.size} rows, reference has $want")
    served.zip(reference).zipWithIndex.foreach { case (((_, s), (_, r)), i) =>
      if (!close(s, r)) fail(s"score at rank ${i + 1}: served $s, reference $r")
    }
    val refScore = reference.groupMapReduce(_._1)(_._2)((a, _) => a)
    served.foreach { case (id, s) =>
      refScore.get(id) match {
        case Some(r) if close(s, r) => ()
        case Some(r) => fail(s"id $id scored $s, reference $r")
        case None => fail(s"id $id is not in the reference ranking")
      }
    }
  }
}
