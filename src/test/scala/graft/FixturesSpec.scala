package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** [[Fixtures]]: the memo contract the gates rely on (one build per key
  * under concurrency, nesting, no entry after a failed build), the per-run
  * dirs, the guard that keeps it the only memo and tmpdir mechanism of the
  * gate files, and the nested gate fixtures run end to end at sf0.001.
  */
class FixturesSpec extends SparkSpec {

  test("eight concurrent callers of one key share exactly one build") {
    val memo = Fixtures.memo[String, Integer]("spec-concurrent")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val results =
      try {
        val futures = (1 to 8).map(_ => pool.submit(() => {
          start.await()
          memo("k") {
            Thread.sleep(200)
            Integer.valueOf(builds.incrementAndGet())
          }
        }))
        start.countDown()
        futures.map(_.get(30, TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    builds.get shouldBe 1
    results.toSet shouldBe Set(Integer.valueOf(1))
  }

  test("a fixture whose build calls other fixtures of the same key " +
      "returns, with no Recursive update") {
    // 40 nested fixtures, one key: the depth of the gate files' chains
    // (retireFleet → annDriftState, wpVocab → bpeMerges) many times over
    val memos = (0 until 40).map(i =>
      Fixtures.memo[String, String](s"spec-nest$i"))
    val builds = new AtomicInteger
    def at(i: Int, d: String): String =
      if (i == memos.size) "leaf"
      else memos(i)(d) { builds.incrementAndGet(); s"$i/" + at(i + 1, d) }
    val whole = (0 until 40).map(i => s"$i/").mkString + "leaf"
    at(0, "d") shouldBe whole
    at(0, "d") shouldBe whole
    builds.get shouldBe 40
  }

  test("a nested fixture's [stage] line: the total, and self time without " +
      "its children") {
    val outer = Fixtures.memo[String, String]("spec-self-outer")
    val inner = Fixtures.memo[String, String]("spec-self-inner")
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try outer("k") { Thread.sleep(300); inner("k") { Thread.sleep(600); "leaf" } }
    finally System.setErr(saved)
    val line = """\[stage\] fixture (spec-self-\w+) ([\d.]+)s self ([\d.]+)s""".r
    val got = err.toString.linesIterator.collect {
      case line(n, total, self) => n -> (total.toDouble, self.toDouble)
    }.toMap
    got.keySet shouldBe Set("spec-self-outer", "spec-self-inner")
    val ((ot, os), (it, is)) = (got("spec-self-outer"), got("spec-self-inner"))
    is shouldBe it // a leaf's self time is its total
    it should be >= 0.6
    ot should be >= it + 0.3
    os shouldBe (ot - it) +- 0.011 // each figure is rounded to 10 ms
    os should be < it
  }

  test("a build that throws leaves no entry; the next call builds again") {
    val memo = Fixtures.memo[String, String]("spec-throw")
    val builds = new AtomicInteger
    an[IllegalStateException] should be thrownBy
      memo("k") {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    memo("k") { builds.incrementAndGet(); "built" } shouldBe "built"
    memo("k") { builds.incrementAndGet(); "again" } shouldBe "built"
    builds.get shouldBe 2
  }

  test("scratch is dir, wiped of what an earlier run left there") {
    val d = Files.createTempDirectory("fixtures-sf").toString
    val dir = Fixtures.dir("graft_spec_scratch", d)
    Files.createDirectories(Paths.get(dir, "old"))
    Files.write(Paths.get(dir, "old", "part-0"), Array[Byte](1, 2, 3))
    Fixtures.scratch("graft_spec_scratch", d) shouldBe dir
    Files.exists(Paths.get(dir, "old")) shouldBe false
    Fixtures.dir("graft_spec_scratch", d) shouldBe dir
  }

  test("two sf dirs get two per-run dirs under one gate name") {
    val a = Fixtures.dir("graft_spec_dirs", "/data/sf0.01")
    val b = Fixtures.dir("graft_spec_dirs", "/data/sf0.1")
    a should not be b
    for (p <- Seq(a, b)) {
      Paths.get(p).getParent shouldBe
        Paths.get(sys.props("java.io.tmpdir"), "graft_spec_dirs")
      p should endWith("_" + ProcessHandle.current().pid())
    }
  }

  // ------------------------------------------------------------- guard

  test("guard: the gate files keep no memo map of their own, and only " +
      "Fixtures.scala names java.io.tmpdir") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val file = p.getFileName.toString
          val gateFile = file.endsWith("Queries.scala") || file == "Bench.scala"
          val lines = Files.readAllLines(p).asScala.toIndexedSeq
          lines.zipWithIndex.collect {
            case (l, i) if gateFile && l.contains("ConcurrentHashMap") ||
                file != "Fixtures.scala" && l.contains("java.io.tmpdir") &&
                  !fullgateReplica(file, lines, i) =>
              s"$p:${i + 1}: ${l.trim}"
          }
        }.toList
      finally walk.close()
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }

  /** Profile's `fullgate` replica cache is the one exemption: it is shared
    * across JVMs on purpose (a 10× copy of the sf dir, reused behind its
    * `_DONE` source fingerprint), so it must not be keyed by the pid. */
  private def fullgateReplica(file: String, lines: IndexedSeq[String],
      i: Int): Boolean =
    file == "Profile.scala" &&
      lines.lift(i + 1).exists(_.contains("graft_fullgate_"))

  // ----------------------------------------- nested fixtures, end to end

  private val sf = "/root/testdata/sf0.001"

  test("the nested gate fixtures build and serve at sf0.001") {
    assume(new java.io.File(sf).isDirectory, s"$sf is not mounted")
    for (gate <- Seq("s_maint_retire", "p_maint_plan", "s_train_manifest"))
      withClue(gate) {
        SparkEntry.queries(gate)(spark, sf).collect() should not be empty
      }
  }

  test("a second s_knn_grow_retrain reads its memoized lifecycle: fewer " +
      "jobs than the first") {
    assume(new java.io.File(sf).isDirectory, s"$sf is not mounted")
    def run(): Unit =
      SparkEntry.queries("s_knn_grow_retrain")(spark, sf).collect()
        .length should be > 0
    val first = jobsRunBy(run())
    val second = jobsRunBy(run())
    second should be < first
  }
}
