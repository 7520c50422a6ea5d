package graft.ops

import graft.SparkSpec
import graft.streaming.{AnnIndexMaintainer, CurateMaintainer, Retention,
  SnapshotManifest}
import org.apache.spark.sql.functions.col

/** Specs for the round-18 additions: pin-aware generation retention
  * (selection + quantizer vacuum, floor markers, fail-safe manifest
  * handling, reader-side below-floor errors) and the paren-balanced
  * GRAFT_* clause capture (subquery query-vector form).
  */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // passes every gopher rule (the Round16OpsSpec fixture)
  private def doc(id: Long, extra: String) = (id,
    "the quick brown fox jumps over a lazy dog while many other animals " +
      "watch quietly from the tall grass near slowly running water today " +
      extra)

  /** A drift-curated state with two selection generations (s0, s2). */
  private def twoGenState(): (String, Seq[String], Seq[String]) = {
    val dir = tmp("ret")
    val w0 = Seq(doc(6L, "alpha beta"), doc(9L, "gamma delta"))
      .toDF("doc_id", "text")
    val w1 = Seq(doc(11L, "alpha gamma"), doc(17L, "beta delta"))
      .toDF("doc_id", "text")
    val w2 = Seq(doc(2L, ("zz " * 30).trim), doc(5L, ("qq " * 30).trim))
      .toDF("doc_id", "text")
    CurateMaintainer.processBatchDriftTriggered(w0, w0, 0L, "doc_id",
      "text", 30, dir, klThreshold = 0.05, pplKeepBelow = 1000.0)
    val sel0 = CurateMaintainer.currentSelection(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    CurateMaintainer.processBatchDriftTriggered(w1, w0.unionByName(w1), 1L,
      "doc_id", "text", 30, dir, klThreshold = 0.05, pplKeepBelow = 1000.0)
    val all = w0.unionByName(w1).unionByName(w2)
    CurateMaintainer.processBatchDriftTriggered(w2, all, 2L, "doc_id",
      "text", 30, dir, klThreshold = 0.05, pplKeepBelow = 1000.0)
    val sel2 = CurateMaintainer.currentSelection(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    (dir, sel0, sel2)
  }

  private def gens(dir: String): Seq[Long] =
    Option(new java.io.File(dir, "selection").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(_.getName.stripPrefix("s").toLongOption).sorted

  // ------------------------------------------ selection retention

  test("vacuumSelections: superseded generations drop, kept horizons " +
      "read unchanged, below-floor horizons fail with the retention error") {
    val (dir, _, sel2) = twoGenState()
    gens(dir) shouldBe Seq(0L, 2L)
    Retention.vacuumSelections(spark, dir, keepFrom = 2L) shouldBe Seq(0L)
    gens(dir) shouldBe Seq(2L)
    CurateMaintainer.currentSelection(spark, dir)
      .collect().map(_.toString).sorted.toSeq shouldBe sel2
    CurateMaintainer.selectionAsOf(spark, dir, 2L)
      .collect().map(_.toString).sorted.toSeq shouldBe sel2
    val e = intercept[IllegalArgumentException] {
      CurateMaintainer.selectionAsOf(spark, dir, 1L)
    }
    e.getMessage should include("below the retention floor 2")
    // idempotent re-run: nothing left to drop
    Retention.vacuumSelections(spark, dir, keepFrom = 2L) shouldBe empty
  }

  test("vacuumSelections: the generation SERVING the floor is kept — " +
      "a floor between generations drops nothing below its server") {
    val (dir, sel0, _) = twoGenState()
    // floor 1 is served by s0, so s0 must survive
    Retention.vacuumSelections(spark, dir, keepFrom = 1L) shouldBe empty
    gens(dir) shouldBe Seq(0L, 2L)
    CurateMaintainer.selectionAsOf(spark, dir, 0L)
      .collect().map(_.toString).sorted.toSeq shouldBe sel0
  }

  test("a SnapshotManifest pin lowers the floor: the pinned training " +
      "version survives a head-floor vacuum and verify stays green; " +
      "an unpinned vacuum then breaks exactly that contract visibly") {
    val (dir, sel0, _) = twoGenState()
    val mdir = tmp("retman") + "/manifest"
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("cur", "curate", dir, 0L)), mdir)
    Retention.vacuumSelections(spark, dir, keepFrom = Long.MaxValue,
      manifestDirs = Seq(mdir)) shouldBe empty
    gens(dir) shouldBe Seq(0L, 2L)
    CurateMaintainer.selectionAsOf(spark, dir, 0L)
      .collect().map(_.toString).sorted.toSeq shouldBe sel0
    SnapshotManifest.verify(spark, mdir)
      .collect().forall(_.getBoolean(3)) shouldBe true
    // the operator who vacuums WITHOUT naming the manifest loses the
    // pinned version — and verify says so instead of serving wrong data
    Retention.vacuumSelections(spark, dir,
      keepFrom = Long.MaxValue) shouldBe Seq(0L)
    val audit = SnapshotManifest.verify(spark, mdir).collect().head
    audit.getBoolean(3) shouldBe false
    audit.getString(4) should include("below the retention floor")
    // and re-pinning the lost horizon fails AT PIN TIME
    val e = intercept[IllegalArgumentException] {
      SnapshotManifest.pin(spark,
        Seq(SnapshotManifest.Pin("cur2", "curate", dir, 0L)),
        tmp("retman2") + "/manifest")
    }
    e.getMessage should include("below the retention floor")
  }

  test("vacuum is fail-safe: a missing manifest dir FAILS the vacuum " +
      "instead of silently widening the floor") {
    val (dir, _, _) = twoGenState()
    val e = intercept[IllegalArgumentException] {
      Retention.vacuumSelections(spark, dir, keepFrom = Long.MaxValue,
        manifestDirs = Seq(tmp("nomanifest") + "/missing"))
    }
    e.getMessage should include("no manifest")
    gens(dir) shouldBe Seq(0L, 2L) // nothing was dropped
  }

  test("retention floors only rise, and a crash-leftover marker temp " +
      "file is never read as a floor") {
    val (dir, _, _) = twoGenState()
    Retention.vacuumSelections(spark, dir, keepFrom = 2L) shouldBe Seq(0L)
    val marker = s"$dir/selection/_retfloor"
    Retention.readFloor(marker) shouldBe Some(2L)
    // a later lower-floor vacuum drops nothing and must not LOWER the
    // committed floor (it would understate what is already gone)
    Retention.vacuumSelections(spark, dir, keepFrom = 0L) shouldBe empty
    Retention.readFloor(marker) shouldBe Some(2L)
    // a crash between the marker temp-write and its rename leaves only
    // an ignored .tmp — readers still see the committed floor
    val w = new java.io.PrintWriter(marker + ".tmp")
    try w.print("99") finally w.close()
    Retention.readFloor(marker) shouldBe Some(2L)
  }

  // ------------------------------------------ quantizer retention

  private val cents2 = Array(Array(1.0, 0.0), Array(0.0, 1.0))

  private def vecs(ids: Seq[Long]) =
    ids.map(i => (i, Seq(
      (if (i % 2 == 0) 1.0 else 0.0) + 0.01 * (i % 3),
      if (i % 2 == 0) 0.0 else 1.0)))
      .toDF("vec_id", "embedding")

  private def twoGenAnnState(): String = {
    val dir = tmp("retq")
    AnnIndexMaintainer.processBatch(vecs(0L to 9L), 0L, "vec_id",
      "embedding", cents2, dir)
    AnnIndexMaintainer.persistCentroids(spark, dir, 0L,
      Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cid", "c"))
    AnnIndexMaintainer.processBatch(vecs(10L to 14L), 1L, "vec_id",
      "embedding", cents2, dir)
    AnnIndexMaintainer.persistCentroids(spark, dir, 1L,
      Seq((0, Seq(0.9, 0.1)), (1, Seq(0.1, 0.9))).toDF("cid", "c"))
    dir
  }

  test("vacuumQuantizers: the superseded generation drops, the horizon " +
      "it served fails with the retention error, kept horizons resolve " +
      "the surviving generation") {
    val dir = twoGenAnnState()
    Retention.vacuumQuantizers(spark, dir, keepFrom = 1L) shouldBe Seq(0L)
    AnnIndexMaintainer.centroidsAsOf(spark, dir, 1L).head.head shouldBe
      0.9 +- 1e-12
    val e = intercept[IllegalArgumentException] {
      AnnIndexMaintainer.centroidsAsOf(spark, dir, 0L)
    }
    e.getMessage should include("below the retention floor 1")
  }

  // ------------------------------------------ planner integration

  test("RetentionSpec in the maintenance loop: the dry-run metric counts " +
      "exactly what the vacuum drops, a fully-pinned state never fires, " +
      "and the post sweep is clean") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.RetentionSpec
    val (dir, sel0, _) = twoGenState()
    val (pinnedDir, _, _) = twoGenState()
    val mdir = tmp("retplan") + "/manifest"
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("cur", "curate", pinnedDir, 0L)), mdir)
    val specs = Seq(
      RetentionSpec("tail", dir, 1.0, "selection"),
      RetentionSpec("pinned", pinnedDir, 1.0, "selection",
        manifestDirs = Seq(mdir)))
    val pre = MaintenancePlanner.plan(spark, specs).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getString(4))).toMap
    pre("tail") shouldBe ((1.0, "vacuum"))
    pre("pinned") shouldBe ((0.0, "none"))
    val (table, _) = MaintenancePlanner.execute(spark, specs)
    val post = table.where(col("phase") === "post").collect()
      .map(r => r.getString(1) -> (r.getDouble(3), r.getString(5))).toMap
    post("tail") shouldBe ((0.0, "none"))
    post("pinned") shouldBe ((0.0, "none"))
    gens(dir) shouldBe Seq(2L)        // the executor's vacuum acted
    gens(pinnedDir) shouldBe Seq(0L, 2L) // the pin held everything
    CurateMaintainer.selectionAsOf(spark, pinnedDir, 0L)
      .collect().map(_.toString).sorted.toSeq should not be empty
    sel0 should not be empty
    // unknown kinds fail the sweep loudly
    intercept[IllegalArgumentException] {
      MaintenancePlanner.plan(spark,
        Seq(RetentionSpec("x", dir, 1.0, "postings")))
    }.getMessage should include("unknown kind")
  }

  test("retireState: a superseded generation dir deletes wholesale once " +
      "nothing pins it; any pin on it refuses the retirement by name") {
    val dir = twoGenAnnState()
    val mdir = tmp("retire") + "/manifest"
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("old_gen", "ann", dir, 1L, "vec_id")), mdir)
    val e = intercept[IllegalArgumentException] {
      Retention.retireState(spark, dir, Seq(mdir))
    }
    e.getMessage should include("old_gen")
    new java.io.File(dir).exists() shouldBe true
    // a manifest that no longer pins it releases the hold
    val other = twoGenAnnState()
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("new_gen", "ann", other, 1L, "vec_id")), mdir)
    Retention.retireState(spark, dir, Seq(mdir))
    new java.io.File(dir).exists() shouldBe false
    // fail-safe: a missing manifest fails the call, nothing is deleted
    intercept[IllegalArgumentException] {
      Retention.retireState(spark, other, Seq(tmp("gone") + "/missing"))
    }.getMessage should include("no manifest")
    new java.io.File(other).exists() shouldBe true
  }

  // ------------------------------------------ PQ maintenance loop

  private def vecs4(ids: Seq[Long], shift: Double = 0.0) =
    ids.map(i => (i, Seq(
      (if (i % 2 == 0) 1.0 else 0.0) + 0.01 * (i % 3) + shift,
      (if (i % 2 == 0) 0.0 else 1.0) + shift,
      0.1 * (i % 5) + shift, 0.2 + shift)))
      .toDF("vec_id", "embedding")

  private val cents4 = Array(Array(1.0, 0.0, 0.2, 0.2),
    Array(0.0, 1.0, 0.2, 0.2))

  test("AnnPqSpec retrain: the loop rebuilds the compressed index — " +
      "fresh quantizer AND codebooks persisted as the new generation, " +
      "serving equal to the one-shot IVF-PQ over the union corpus") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.AnnPqSpec
    import graft.ops.Ann
    val dir = tmp("pqloop")
    val w0 = vecs4(0L to 9L)
    val w1 = vecs4(10L to 19L, shift = 5.0)
    val cb0 = Ann.pqTrain(w0, "embedding", m = 2, k = 4)
    AnnIndexMaintainer.processBatchPqMonitored(w0, 0L, "vec_id",
      "embedding", cents4, cb0, dir, roundScale = 6)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchPqMonitored(w1, 1L, "vec_id",
      "embedding", cents4, cb0, dir, roundScale = 6)
    val spec = AnnPqSpec("pq", dir, 2.0, m = 2, kCode = 4, roundScale = 6)
    val pre = MaintenancePlanner.plan(spark, Seq(spec)).collect().head
    pre.getString(4) shouldBe "retrain"
    val gen2 = tmp("pqloop2") + "/idx2"
    val (table, postSpecs) = MaintenancePlanner.execute(spark, Seq(spec),
      annNewDirs = Map("pq" -> gen2))
    table.where(col("phase") === "post").collect()
      .head.getString(5) shouldBe "none"
    postSpecs.head.asInstanceOf[AnnPqSpec].dir shouldBe gen2
    // both generation artifacts landed; serving from them equals the
    // one-shot IVF-PQ over the full corpus (independent derivation)
    val cents1 = Ann.ivfCentroidsFromDf(spark.read.parquet(s"$gen2/cents"))
    val cb1 = Ann.pqCodebookFromDf(spark.read.parquet(s"$gen2/codebook"))
    val union = w0.unionByName(w1)
    val queries = Seq((0L, Array(1.0, 0.0, 0.0, 0.2)),
      (15L, Array(5.0, 6.0, 5.0, 5.2)))
    val served = AnnIndexMaintainer.searchPq(spark, gen2, cents1, cb1,
      queries, k = 5, rankOnRoundedTo = Some(6))
      .collect().map(_.toString).sorted.toSeq
    val oneShot = Ann.ivfPqTopK(
      union.selectExpr("vec_id", "cast(embedding as array<double>) as v"),
      queries.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "v"),
      "vec_id", "v", 5, cents1, cb1, nprobe = 4, rerank = 4,
      rankOnRoundedTo = Some(6))
      .collect().map(_.toString).sorted.toSeq
    served shouldBe oneShot
  }

  test("AnnPqSpec grow: the delta remedy commits the union quantizer " +
      "back to the state's cents artifact and a generation lands") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.AnnPqSpec
    import graft.ops.Ann
    val dir = tmp("pqgrow")
    val w0 = vecs4(0L to 19L)
    val w1 = vecs4(20L to 24L, shift = 5.0)
    val cb0 = Ann.pqTrain(w0, "embedding", m = 2, k = 4)
    AnnIndexMaintainer.processBatchPqMonitored(w0, 0L, "vec_id",
      "embedding", cents4, cb0, dir, roundScale = 6)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchPqMonitored(w1, 1L, "vec_id",
      "embedding", cents4, cb0, dir, roundScale = 6)
    graft.StateCommit.writeDir(s"$dir/cents")(
      cents4.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "c").coalesce(1).write.parquet(_))
    // drifted tail is 5/25 of the index → the cost-aware choice is grow
    val spec = AnnPqSpec("pq", dir, 2.0, m = 2, kCode = 4,
      growPostFractionMax = 0.5, roundScale = 6)
    val pre = MaintenancePlanner.plan(spark, Seq(spec)).collect().head
    pre.getString(4) shouldBe "grow"
    val (table, _) = MaintenancePlanner.execute(spark, Seq(spec))
    table.where(col("phase") === "post").collect()
      .head.getString(5) shouldBe "none"
    val unionCents = Ann.ivfCentroidsFromDf(
      spark.read.parquet(s"$dir/cents"))
    unionCents.length should be > cents4.length
    // the grown quantizer generation serves horizon reads
    AnnIndexMaintainer.centroidsAsOf(spark, dir,
      Long.MaxValue).length shouldBe unionCents.length
    // served answers equal the from-scratch IVF-PQ under the union set
    // (the oracle contract s_knn_grow_pq pins at scale, here end-to-end
    // through the executor)
    val queries = Seq((0L, Array(1.0, 0.0, 0.0, 0.2)),
      (22L, Array(5.0, 6.0, 5.0, 5.2)))
    val served = AnnIndexMaintainer.searchPq(spark, dir, unionCents, cb0,
      queries, k = 5, rankOnRoundedTo = Some(6))
      .collect().map(_.toString).sorted.toSeq
    val oneShot = Ann.ivfPqTopK(
      w0.unionByName(w1)
        .selectExpr("vec_id", "cast(embedding as array<double>) as v"),
      queries.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "v"),
      "vec_id", "v", 5, unionCents, cb0, nprobe = 4, rerank = 4,
      rankOnRoundedTo = Some(6))
      .collect().map(_.toString).sorted.toSeq
    served shouldBe oneShot
  }

  test("persisted retention policies: a keepLast window on the state " +
      "drives the vacuum with no caller knobs; pins still win; fewer " +
      "generations than the window drop nothing") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.RetentionSpec
    val (dir, _, sel2) = twoGenState()
    Retention.setSelectionPolicy(dir, keepLast = 2)
    // 2 generations, keepLast 2 → nothing stale
    Retention.vacuumSelections(spark, dir) shouldBe empty
    Retention.setSelectionPolicy(dir, keepLast = 1)
    // the planner sweep needs NO per-spec configuration now
    val spec = RetentionSpec("sel", dir, 1.0, "selection")
    MaintenancePlanner.plan(spark, Seq(spec)).collect()
      .head.getString(4) shouldBe "vacuum"
    val (table, _) = MaintenancePlanner.execute(spark, Seq(spec))
    table.where(col("phase") === "post").collect()
      .head.getString(5) shouldBe "none"
    gens(dir) shouldBe Seq(2L)
    CurateMaintainer.currentSelection(spark, dir)
      .collect().map(_.toString).sorted.toSeq shouldBe sel2
    // a pin beats the policy: the pinned generation survives keepLast=1
    val (dir2, sel0, _) = twoGenState()
    Retention.setSelectionPolicy(dir2, keepLast = 1)
    val mdir = tmp("polman") + "/manifest"
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("cur", "curate", dir2, 0L)), mdir)
    Retention.vacuumSelections(spark, dir2,
      manifestDirs = Seq(mdir)) shouldBe empty
    CurateMaintainer.selectionAsOf(spark, dir2, 0L)
      .collect().map(_.toString).sorted.toSeq shouldBe sel0
    intercept[IllegalArgumentException] {
      Retention.setSelectionPolicy(dir2, keepLast = 0)
    }.getMessage should include("at least 1")
  }

  test("codebook generations: the horizon resolves the codebook, the " +
      "quantizer vacuum drops superseded cbg at the same floor, and a " +
      "'codebook' manifest pin protects them") {
    import graft.ops.Ann
    val dir = twoGenAnnState() // qg0, qg1 already persisted
    val cb0 = Array(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val cb1 = Array(Array(Array(0.9, 0.1), Array(0.1, 0.9)))
    AnnIndexMaintainer.persistCodebook(spark, dir, 0L,
      Ann.pqCodebookDf(spark, cb0))
    AnnIndexMaintainer.persistCodebook(spark, dir, 1L,
      Ann.pqCodebookDf(spark, cb1))
    AnnIndexMaintainer.codebooksAsOf(spark, dir, 0L)
      .head.head.head shouldBe 1.0 +- 1e-12
    AnnIndexMaintainer.codebooksAsOf(spark, dir, 5L)
      .head.head.head shouldBe 0.9 +- 1e-12
    // a 'codebook' pin holds BOTH generation families' floor
    val mdir = tmp("cbgman") + "/manifest"
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("cbk", "codebook", dir, 0L)), mdir)
    SnapshotManifest.readState(spark, mdir, "cbk").count() shouldBe 2L
    Retention.vacuumQuantizers(spark, dir, keepFrom = Long.MaxValue,
      manifestDirs = Seq(mdir)) shouldBe empty
    // unpinned: both families drop their superseded generation together
    Retention.vacuumQuantizers(spark, dir,
      keepFrom = Long.MaxValue) shouldBe Seq(0L, 0L)
    val e = intercept[IllegalArgumentException] {
      AnnIndexMaintainer.codebooksAsOf(spark, dir, 0L)
    }
    e.getMessage should include("below the retention floor")
    // the pinned manifest's audit reports the loss
    SnapshotManifest.verify(spark, mdir)
      .collect().head.getBoolean(3) shouldBe false
  }

  // ---------------------------------- codebook drift (recon sidecar)

  /** Two per-subspace patterns (4-dim, m=2): rows combine (a0 ++ a1) or
    * (b0 ++ b1), plus a small within-cluster jitter so the trained
    * codebooks have nonzero baseline reconstruction error. */
  private def comboVecs(ids: Seq[Long], flip: Boolean = false,
      shift: Double = 0.0) =
    ids.map { i =>
      val s0 = if (i % 2 == 0) Seq(1.0, 0.0) else Seq(0.0, 1.0)
      // flip recombines: subspace-1 pattern from the OTHER class — every
      // subvector stays in the trained vocabulary, the COMBINATION is new
      val odd1 = if (flip) i % 2 == 0 else i % 2 != 0
      val s1 = if (odd1) Seq(0.0, 3.0) else Seq(3.0, 0.0)
      val jit = 0.01 * (i % 3)
      (i, Seq(s0.head + jit + shift, s0(1) + shift,
        s1.head + jit + shift, s1(1) + shift))
    }.toDF("vec_id", "embedding")

  private val comboCents = Array(Array(1.0, 0.0, 3.0, 0.0),
    Array(0.0, 1.0, 0.0, 3.0))

  test("codebook drift refines the PQ remedy: a recombination drift " +
      "(new cells, codes still faithful) grows; a translation drift " +
      "(codes unfaithful) forces the rebuild — same tail size") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.AnnPqSpec
    import graft.ops.Ann
    val w0 = comboVecs(0L to 9L)
    val cb0 = Ann.pqTrain(w0, "embedding", m = 2, k = 2)
    def mkState(w1: org.apache.spark.sql.DataFrame): String = {
      val dir = tmp("cbdrift")
      AnnIndexMaintainer.processBatchPqMonitored(w0, 0L, "vec_id",
        "embedding", comboCents, cb0, dir, roundScale = 6)
      AnnIndexMaintainer.markTrained(dir, 0L)
      AnnIndexMaintainer.processBatchPqMonitored(w1, 1L, "vec_id",
        "embedding", comboCents, cb0, dir, roundScale = 6)
      dir
    }
    val growDir = mkState(comboVecs(10L to 14L, flip = true))
    val rebuildDir = mkState(comboVecs(10L to 14L, shift = 5.0))
    // the recombined tail re-encodes as faithfully as the training era...
    AnnIndexMaintainer.codebookDriftRatio(spark, growDir).get should
      be < 3.0
    // ...the shifted tail does not
    AnnIndexMaintainer.codebookDriftRatio(spark, rebuildDir).get should
      be > 3.0
    // both drifts fire the coarse trigger with the same small tail — the
    // recon signal is the ONLY thing separating the two decisions
    val specs = Seq(
      AnnPqSpec("bycell", growDir, 10.0, m = 2, kCode = 2,
        growPostFractionMax = 0.5, codebookRatioMax = 3.0, roundScale = 6),
      AnnPqSpec("bycode", rebuildDir, 10.0, m = 2, kCode = 2,
        growPostFractionMax = 0.5, codebookRatioMax = 3.0, roundScale = 6))
    val pre = MaintenancePlanner.plan(spark, specs).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    pre("bycell") shouldBe "grow"
    pre("bycode") shouldBe "retrain"
    // the executor acts on both and the fleet measures healthy after
    graft.StateCommit.writeDir(s"$growDir/cents")(
      comboCents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "c").coalesce(1).write.parquet(_))
    val gen2 = tmp("cbdrift2") + "/idx2"
    val (table, postSpecs) = MaintenancePlanner.execute(spark, specs,
      annNewDirs = Map("bycode" -> gen2))
    table.where(col("phase") === "post").collect()
      .map(_.getString(5)).toSet shouldBe Set("none")
    // grow arm: union quantizer committed back; rebuild arm: both
    // generation artifacts in the new dir, spec re-pointed
    graft.ops.Ann.ivfCentroidsFromDf(spark.read.parquet(s"$growDir/cents"))
      .length should be > comboCents.length
    new java.io.File(s"$gen2/codebook").exists() shouldBe true
    postSpecs.collect { case s: AnnPqSpec if s.name == "bycode" => s.dir }
      .head shouldBe gen2
  }

  test("a pin of kind 'ann' (rows) ALSO protects the quantizer " +
      "generations — a pinned row horizon implies its quantizer audit") {
    val dir = twoGenAnnState()
    val mdir = tmp("retqman") + "/manifest"
    SnapshotManifest.pin(spark,
      Seq(SnapshotManifest.Pin("idx", "ann", dir, 0L, "vec_id")), mdir)
    Retention.vacuumQuantizers(spark, dir, keepFrom = Long.MaxValue,
      manifestDirs = Seq(mdir)) shouldBe empty
    AnnIndexMaintainer.centroidsAsOf(spark, dir, 0L).head.head shouldBe
      1.0 +- 1e-12
  }
}
