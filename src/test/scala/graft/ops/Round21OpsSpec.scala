package graft.ops

import graft.SparkSpec
import graft.streaming.{AnnIndexMaintainer, MaintenancePlanner, Retention,
  SnapshotManifest}
import org.apache.spark.sql.functions.col

/** Specs for the round-14 fixes: the pin-HELD superseded dir's audit
  * row + inner-generation vacuum ([[Retention.sweep]] `holder` column,
  * [[Retention.HeldSentinel]]), the planner's droppable count excluding
  * held rows, and [[MaintenancePlanner.servingCentsFile]]'s read-only
  * treatment of an in-flight `.cents.tmp` (round 15: readers must not
  * clean up what may be a concurrent grow's mid-commit write).
  */
class Round21OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def blobVecs(ids: Range) =
    ids.map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.0, 3.0, 0.0)
        else Seq(0.0, 1.0, 0.0, 3.0)
      (i.toLong, base.map(_ + 0.01 * (i % 3)))
    }.toDF("vec_id", "embedding")

  private val blobCents = Array(Array(1.0, 0.0, 3.0, 0.0),
    Array(0.0, 1.0, 0.0, 3.0))

  private def centsDf(cents: Array[Array[Double]]) =
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c")

  test("a pin-HELD superseded dir emits a sweep AUDIT row naming its " +
      "holder, and its inner quantizer generations keep vacuuming at " +
      "the pin floor — a long-lived audit pin no longer accumulates " +
      "inner history invisibly") {
    val root = tmp("heldsup")
    val dir = s"$root/gen_old"
    AnnIndexMaintainer.processBatchMonitored(blobVecs(0 to 5), 0L,
      "vec_id", "embedding", blobCents, dir, roundScale = 6)
    // three quantizer generations on the held dir's own axis
    Seq(0L, 2L, 5L).foreach(b =>
      AnnIndexMaintainer.persistCentroids(spark, dir, b, centsDf(blobCents)))
    Retention.setQuantizerPolicy(dir, 1)
    Retention.markSuperseded(dir, s"$root/gen_new")
    val mdir = tmp("heldsupm") + "/manifest"
    SnapshotManifest.pin(spark, Seq(SnapshotManifest.Pin("old", "ann",
      dir, 5L, "vec_id")), mdir)
    // discovery still classifies the stamped dir as superseded ALONE
    Retention.discoverStates(root).toSet shouldBe
      Set(("superseded", dir))
    def rows(dry: Boolean) =
      Retention.sweep(spark, root, Seq(mdir), dryRun = dry)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          Option(r.getString(3)))).toSet
    val dry = rows(dry = true)
    // the audit row: sentinel −2, holder naming manifest+state+horizon
    val held = dry.filter(_._3 == Retention.HeldSentinel)
    held should have size 1
    held.head._1 shouldBe "superseded"
    held.head._2 shouldBe "gen_old"
    held.head._4.get should include("state 'old'")
    // inner generations below the pin floor (5) are droppable — qg0, qg2
    dry.filter(_._1 == "quantizer").map(_._3) shouldBe Set(0L, 2L)
    dry.filter(_._1 == "quantizer").foreach(
      _._4.get should include("state 'old'"))
    // dry == action, and the vacuum actually reclaims them
    rows(dry = false) shouldBe dry
    new java.io.File(dir, "qg0").exists() shouldBe false
    new java.io.File(dir, "qg2").exists() shouldBe false
    new java.io.File(dir, "qg5").exists() shouldBe true
    new java.io.File(dir).exists() shouldBe true // the pin holds the dir
    // post: the audit row persists (the hold is still a fact), nothing
    // else is droppable
    rows(dry = true) shouldBe Set(
      ("superseded", "gen_old", Retention.HeldSentinel, held.head._4))
  }

  test("the planner's SweepSpec droppable count EXCLUDES held audit " +
      "rows — a fleet whose only superseded dirs are pinned must not " +
      "fire a vacuum that cannot reclaim anything") {
    import graft.streaming.MaintenancePlanner.SweepSpec
    val root = tmp("heldplan")
    val dir = s"$root/gen_old"
    AnnIndexMaintainer.processBatchMonitored(blobVecs(0 to 5), 0L,
      "vec_id", "embedding", blobCents, dir, roundScale = 6)
    Retention.markSuperseded(dir, s"$root/gen_new")
    val mdir = tmp("heldplanm") + "/manifest"
    SnapshotManifest.pin(spark, Seq(SnapshotManifest.Pin("old", "ann",
      dir, 0L, "vec_id")), mdir)
    val plan = MaintenancePlanner.plan(spark, Seq(
      SweepSpec("gc", root, 1.0, Seq(mdir)))).collect().head
    plan.getAs[Double]("value") shouldBe 0.0
    plan.getAs[String]("decision") shouldBe "none"
  }

  test("servingCentsFile leaves a .cents.tmp next to a live file " +
      "UNTOUCHED — live+tmp is a healthy transient of executeGrow's " +
      "commit (tmp fully written before live is renamed aside), and a " +
      "reader-side delete would race the writer and destroy its fresh " +
      "union set mid-commit") {
    val dir = tmp("centsorphan")
    def commitCents(cs: Array[Array[Double]]): Unit =
      graft.StateCommit.writeDir(new java.io.File(dir, "cents").getPath)(
        centsDf(cs).coalesce(1).write.mode("overwrite").parquet(_))
    commitCents(blobCents)
    // a grow commit stopped with its union set fully written at the temp
    graft.StateCommitSpec.crashAt(dir, "written")(
      commitCents(blobCents.take(1))) shouldBe true
    val f = MaintenancePlanner.servingCentsFile(dir)
    f.getName shouldBe "cents"
    // the tmp survives: it may be a concurrent grow's in-flight commit
    new java.io.File(dir, ".cents.tmp").exists() shouldBe true
    // and the live copy is the one served (2 centroids, not 1)
    spark.read.parquet(f.getPath).count() shouldBe 2L
  }
}
