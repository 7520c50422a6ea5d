package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import scala.jdk.CollectionConverters._

/** [[Trace]]: exact job, stage and task counts on known bodies, which
  * threads' jobs a trace counts, the caller's job group kept, the guard
  * that keeps Trace the only listener in the sources, and the Profile
  * entry point that prints its records.
  */
class TraceSpec extends SparkSpec {
  import spark.implicits._

  test("a repartitioned count: exact jobs, stages and tasks, and its " +
      "shuffle bytes") {
    val (n, t) = Trace.run(sc)(spark.range(0, 1000, 1, 4).repartition(3).count())
    n shouldBe 1000L
    // adaptive execution runs each shuffle map stage as a job of its own:
    // range → round-robin (4 tasks), partial count (3 tasks), final (1)
    (t.jobs, t.stages, t.tasks) shouldBe ((3, 3, 8))
    t.shuffleBytes should be > 0L
    t.rowsRead shouldBe 1000L // the range source counts as input
    t.taskRunMs should be >= 0L
    t.idleMs should (be >= 0.0 and be <= t.wallMs)
  }

  test("collecting a bare LocalRelation runs no job") {
    val (rows, t) = Trace.run(sc)(Seq((1L, 2.0), (2L, 3.0)).toDF("a", "b")
      .collect())
    rows.length shouldBe 2
    (t.jobs, t.stages, t.tasks) shouldBe ((0, 0, 0))
    t.idleMs shouldBe t.wallMs
  }

  test("jobs on the threads of Exec.inParallel's pool are counted") {
    val (_, t) = Trace.run(sc)(Exec.inParallel(
      () => { sc.parallelize(1 to 10, 2).count(); () },
      () => { sc.parallelize(1 to 20, 3).count(); () }))
    (t.jobs, t.stages, t.tasks) shouldBe ((2, 2, 5))
  }

  test("a job run meanwhile from an unrelated thread is not counted") {
    val go = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await(); sc.parallelize(1 to 10, 4).count(); ()
    })
    other.start()
    val (_, t) = Trace.run(sc) {
      go.countDown(); other.join()
      sc.parallelize(1 to 10, 2).count()
    }
    (t.jobs, t.tasks) shouldBe ((1, 2))
  }

  test("nested traces: the outer one counts the inner one's jobs") {
    val ((_, inner), outer) = Trace.run(sc) {
      sc.parallelize(1 to 10, 1).count()
      Trace.run(sc)(sc.parallelize(1 to 10, 2).count())
    }
    (inner.jobs, inner.tasks) shouldBe ((1, 2))
    (outer.jobs, outer.tasks) shouldBe ((2, 3))
  }

  test("the caller's job group holds through the trace and after it") {
    sc.setJobGroup("trace-spec", "kept")
    try {
      val (group, t) = Trace.run(sc) {
        sc.parallelize(1 to 10, 1).count()
        sc.getLocalProperty("spark.jobGroup.id")
      }
      group shouldBe "trace-spec"
      t.jobs shouldBe 1
      sc.getLocalProperty("spark.jobGroup.id") shouldBe "trace-spec"
      sc.getLocalProperty(Trace.Key) shouldBe null
    } finally sc.clearJobGroup()
  }

  test("guard: Trace.scala is the only source that adds a SparkListener") {
    val banned = "add" + "SparkListener" // split: this file is scanned too
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"run from the project root: $root")
      val walk = Files.walk(root)
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Trace.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(banned) =>
            s"$p:${i + 1}: ${l.trim}"
        }).toList
      finally walk.close()
    }
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }

  test("Profile's trace mode prints one line per rep whose job count is " +
      "jobsRunBy's for the same gate") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf is not mounted")
    val gate = "q3_join"
    val expected = jobsRunBy(SparkEntry.queries(gate)(spark, sf).count())
    val out = new java.io.ByteArrayOutputStream
    val traces = Console.withOut(out)(Profile.traceGate(spark, sf, gate, 2))
    val lines = out.toString.split('\n').toSeq
    lines.map(_.split(' ').take(4).mkString(" ")) shouldBe
      Seq(s"PROFILE trace $gate rep1", s"PROFILE trace $gate rep2")
    traces.map(_.jobs) shouldBe Seq(expected, expected)
    lines.foreach(_ should include(s"jobs=$expected "))
  }
}
