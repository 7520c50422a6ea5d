package graft.streaming

import graft.SparkSpec
import graft.streaming.MaintenancePlanner._

/** [[MaintenancePlanner.execute]]'s concurrency contract: its remedy arms
  * run concurrently, so the states it is given must own disjoint dirs. */
class MaintenancePlannerSpec extends SparkSpec {

  test("execute rejects equal or nested state dirs, and a retrain target " +
      "inside another state, before anything is measured") {
    val root = java.nio.file.Files.createTempDirectory("mpdisjoint").toString
    def rejected(specs: Seq[StateSpec],
        annNewDirs: Map[String, String] = Map.empty): String =
      intercept[IllegalArgumentException] {
        MaintenancePlanner.execute(spark, specs, annNewDirs)
      }.getMessage
    rejected(Seq(DeltaSpec("a", s"$root/x", 0.4),
      DeltaSpec("b", s"$root/x", 0.4))) should include("equal or nested")
    rejected(Seq(ShardSpec("a", s"$root/x", 0.2),
      DeltaSpec("b", s"$root/x/y", 0.4))) should include("'b'")
    rejected(Seq(SweepSpec("gc", root, 1.0),
      CurateSpec("c", s"$root/c", 0.05))) should include("'gc'")
    rejected(Seq(AnnSpec("a", s"$root/a", 4.0),
        DeltaSpec("b", s"$root/b", 0.4)),
      Map("a" -> s"$root/b/gen2")) should include("equal or nested")
    // sibling dirs that share a name prefix are disjoint
    val (table, _) = MaintenancePlanner.execute(spark,
      Seq(DeltaSpec("a", s"$root/x", 0.4), DeltaSpec("b", s"$root/x2", 0.4)))
    table.count() shouldBe 4L
  }
}
