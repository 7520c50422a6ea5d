package perfbench

/** The harness's own tests: its statistics, its checks and the
  * reproducibility of its inputs. Run with `python3 perfbench/run.py
  * --self-test`; exits non-zero when a test fails.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def throwsCheck(body: => Unit): Boolean =
    try { body; false } catch { case _: Checks.CheckFailed => true }

  def main(args: Array[String]): Unit = {
    test("p90 needs ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      expect(Stats.percentile(xs, 0.9).contains(90.0), s"${Stats.percentile(xs, 0.9)}")
      expect(Stats.percentile(xs.take(99), 0.9).isEmpty, "99 samples leave 9 beyond p90")
      expect(Stats.percentile((1 to 20).map(_.toDouble), 0.5).contains(10.0), "p50 of 20")
      expect(Stats.percentile(Nil, 0.9).isEmpty, "empty")
    }

    test("median of odd and even counts") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)).contains(2.0), "odd")
      expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)).contains(2.5), "even")
    }

    test("spread is the quartile distance over the median") {
      val xs = (1 to 9).map(_.toDouble) // quartiles 3 and 7, median 5
      expect(Stats.spread(xs).contains(0.8), s"${Stats.spread(xs)}")
      expect(Stats.spread(Seq(1.0, 2.0, 3.0)).isEmpty, "three samples")
    }

    test("a failed op counts as a miss in every percentile") {
      val ok = (1 to 99).map(i => OpRecord("read", 0L, 0L, i * 1000000L, ok = true))
      val bad = OpRecord("read", 0L, 0L, 1000000L, ok = false, "boom")
      val lat = Stats.latencies(ok :+ bad)
      expect(lat.count(_.isInfinite) == 1, "one infinite sample")
      // the failure sorts last: 100 samples, so p90 exists and stays at rank 90
      expect(Stats.percentile(lat, 0.9).contains(90.0), s"${Stats.percentile(lat, 0.9)}")
      val half = Stats.latencies(Seq.fill(3)(bad) ++ ok.take(2))
      expect(Stats.median(half).exists(_.isInfinite), "failures past the median")
      expect(Stats.counts(ok :+ bad) == Seq(("read", 100, 1)), s"${Stats.counts(ok :+ bad)}")
    }

    test("open-loop latency runs from the due time") {
      val t0 = 1000000000L
      val due = Stats.dueAt(t0, 250000000L, 4)
      expect(due == t0 + 1000000000L, s"due $due")
      val late = OpRecord("write", due, due + 30000000L, due + 80000000L, ok = true)
      expect(math.abs(late.latencyMs - 80.0) < 1e-9, s"latency ${late.latencyMs}")
      expect(math.abs(late.lagMs - 30.0) < 1e-9, s"lag ${late.lagMs}")
      val closed = OpRecord("read", 5L, 5L, 5000005L, ok = true)
      expect(closed.lagMs == 0.0 && closed.latencyMs == 5.0, "closed loop")
    }

    test("span self time subtracts the union of its children") {
      val spans = Seq(
        Span(1, 0, 1, "op", 0, 100),
        Span(2, 1, 1, "a", 10, 30),
        Span(3, 1, 1, "b", 20, 50), // overlaps a: union 10..50
        Span(4, 1, 1, "c", 80, 120), // clipped to the parent at 100
        Span(5, 2, 1, "job", 12, 18))
      val self = Stats.selfTimes(spans)
      expect(self(1) == 40.0, s"op self ${self(1)}")
      expect(self(2) == 14.0, s"a self ${self(2)}")
      expect(self(5) == 6.0, s"leaf self ${self(5)}")
      expect(Stats.covered(Nil, 0, 10) == 0.0, "empty cover")
    }

    test("ranked answers: order, ties, universe") {
      val good = Seq((3L, 5.0), (1L, 4.0), (2L, 4.0), (9L, 1.0))
      Checks.ranked(good, 4, _ <= 9, full = true)
      expect(throwsCheck(Checks.ranked(good, 5, _ <= 9, full = true)), "short answer")
      expect(throwsCheck(Checks.ranked(Seq((2L, 4.0), (1L, 4.0)), 2, _ => true, full = true)),
        "tie broken by the larger id first")
      expect(throwsCheck(Checks.ranked(Seq((1L, 1.0), (2L, 2.0)), 2, _ => true, full = true)),
        "increasing scores")
      expect(throwsCheck(Checks.ranked(good, 4, _ <= 5, full = true)), "id outside universe")
    }

    test("top-k against a second route") {
      val ref = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (4L, 0.7), (5L, 0.1))
      Checks.sameTopK(ref.take(3), ref, 3)
      // 3 and 4 tie at the cut: either may be served
      Checks.sameTopK(Seq((1L, 0.9), (2L, 0.8), (4L, 0.7)), ref, 3)
      expect(throwsCheck(Checks.sameTopK(Seq((1L, 0.9), (2L, 0.8), (5L, 0.7)), ref, 3)),
        "wrong score for an id")
      expect(throwsCheck(Checks.sameTopK(Seq((1L, 0.9), (2L, 0.75), (3L, 0.7)), ref, 3)),
        "stale score")
      expect(throwsCheck(Checks.sameTopK(ref.take(2), ref, 3)), "short answer")
      Checks.sameTopK(Seq((7L, 1.0)), Seq((7L, 1.0 + 1e-12)), 10)
    }

    test("Zipf draws favour low ranks") {
      val r = Gen.rng(1L, "t")
      val cdf = Gen.zipfCdf(100, 1.0)
      val draws = Seq.fill(10000)(Gen.draw(cdf, r))
      expect(draws.forall(d => d >= 0 && d < 100), "range")
      expect(draws.count(_ == 0) > draws.count(_ == 50) * 10, "skew")
    }

    test("generated ratings: unique pairs, bounded ids") {
      val rs = Gen.ratings(Gen.Sf01Shape, 3L)
      expect(rs.map(r => (r.user, r.item)).distinct.size == rs.size, "duplicate pair")
      expect(rs.forall(r => r.item >= 1 && r.item <= 100 && r.user >= 1 && r.user <= 1500), "range")
      val bs = Gen.insertBatches(rs, Gen.Sf01Shape, 20, 50, 2, 5, 3L)
      val all = rs.map(r => (r.user, r.item)) ++ bs.flatten.map(r => (r.user, r.item))
      expect(all.distinct.size == all.size, "insert repeats a pair")
      expect(bs.forall(_.size == 50), "batch size")
      expect(bs.forall(_.count(_.user > 1500) == 10), "new users per batch")
    }

    test("same seed, same inputs; another seed, other inputs") {
      Workload.Names.foreach { n =>
        val a = Workload(n, 7L).digest
        expect(a == Workload(n, 7L).digest, s"$n: digest differs for one seed")
        expect(a != Workload(n, 8L).digest, s"$n: digest equal for two seeds")
      }
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
