package graft.ops

import graft.SparkSpec
import graft.streaming.{AnnIndexMaintainer, BpeMaintainer, MaintenancePlanner,
  Retention, ShardMaintainer, SnapshotManifest}
import org.apache.spark.sql.functions.col

/** Specs for the round-13 fixes and additions: the snapshot pin/verify
  * emptiness probe (limit(1), never a slice scan), the codebook-drift
  * era split surviving a quantizer growth ([[AnnIndexMaintainer
  * .codeBaseBatch]]), the executor's `cents` commit crash window
  * ([[MaintenancePlanner.servingCentsFile]]), the discovery GC's new
  * families (`shards`, `superseded`) and its hardened `merges`
  * signature, defensive BPE metadata parsing, and the keep-two default
  * for policy-less merges models under the discovery sweep.
  */
class Round20OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // --------- recon-era split across a growth (codebookDriftRatio)

  /** 4-dim vectors in two well-separated blobs: clean rows near the two
    * training centroids, shifted rows translated by `shift` on every
    * component — a region the frozen codebooks cannot reconstruct. */
  private def blobVecs(ids: Range, shift: Double = 0.0) =
    ids.map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.0, 3.0, 0.0)
        else Seq(0.0, 1.0, 0.0, 3.0)
      val jit = 0.01 * (i % 3)
      (i.toLong, base.map(_ + jit + shift))
    }.toDF("vec_id", "embedding")

  private val blobCents = Array(Array(1.0, 0.0, 3.0, 0.0),
    Array(0.0, 1.0, 0.0, 3.0))

  test("codebookDriftRatio keeps its era split at the CODE-defining " +
      "baseline through a growth: the drifted tail stays on the post " +
      "side and the ratio still fires after grow + a later batch") {
    val w0 = blobVecs(0 to 9)
    val cb0 = Ann.pqTrain(w0, "embedding", m = 2, k = 2)
    val dir = tmp("cbgrow")
    AnnIndexMaintainer.processBatchPqMonitored(w0, 0L, "vec_id",
      "embedding", blobCents, cb0, dir, roundScale = 6)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchPqMonitored(blobVecs(10 to 14,
      shift = 5.0), 1L, "vec_id", "embedding", blobCents, cb0, dir,
      roundScale = 6)
    val preGrow = AnnIndexMaintainer.codebookDriftRatio(spark, dir).get
    preGrow should be > 10.0
    // the growth covers the shifted region with new CELLS but never
    // touches a code — trainedBatch advances, codeBaseBatch must not
    val union = Ann.ivfCentroidsFromDf(
      AnnIndexMaintainer.growPq(spark, dir, blobCents, kNew = 2,
        roundScale = 6)) // growB = 2
    AnnIndexMaintainer.trainedBatch(dir) shouldBe 2L
    AnnIndexMaintainer.codeBaseBatch(dir) shouldBe 0L
    // pre-grow recon rows must NOT fold into the baseline: the ratio
    // still reads the drifted tail against the clean training era
    AnnIndexMaintainer.codebookDriftRatio(spark, dir).get shouldBe
      preGrow +- 1e-9
    // a later batch drifted into yet another region (codes unfaithful
    // again): both shifted waves sit on the post side, ratio fires
    AnnIndexMaintainer.processBatchPqMonitored(blobVecs(15 to 19,
      shift = -5.0), 3L, "vec_id", "embedding", union, cb0, dir,
      roundScale = 6)
    AnnIndexMaintainer.codebookDriftRatio(spark, dir).get should be > 10.0
    // and the refined remedy reads it: coarse drift fires (the -5 region
    // has no cells), the tail is small, but the unfaithful codes force
    // the rebuild — the bias the growth-advanced split would have
    // introduced (folding the tail into the baseline) is gone
    MaintenancePlanner.pqRemedy(spark, dir, ratioThreshold = 4.0,
      growPostFractionMax = 0.5, codebookRatioMax = 3.0) shouldBe "retrain"
  }

  // --------- the executor's cents commit crash window

  test("servingCentsFile heals the two-rename crash window: tmp+aside " +
      "rolls FORWARD to the grown set, aside-only rolls BACK, neither " +
      "artifact fails explicitly") {
    import graft.StateCommit
    import graft.StateCommitSpec.crashAt
    def writeCents(dir: String, tag: Double): Unit =
      StateCommit.writeDir(s"$dir/cents")(
        Seq((0, Seq(tag, 0.0)), (1, Seq(0.0, tag)))
          .toDF("cid", "c").coalesce(1)
          .write.mode("overwrite").parquet(_))
    def served(dir: String): Double =
      spark.read.parquet(MaintenancePlanner.servingCentsFile(dir).getPath)
        .where(col("cid") === 0).head.getSeq[Double](1).head
    // roll-forward: a grow commit crashed between its two renames after
    // the union set was renamed in as a version — no live name
    val dir = tmp("centswin")
    writeCents(dir, 1.0)
    crashAt(dir, "versioned")(writeCents(dir, 2.0)) shouldBe true
    new java.io.File(dir, "cents").exists() shouldBe false
    val healed = MaintenancePlanner.servingCentsFile(dir)
    healed.getPath shouldBe new java.io.File(dir, "cents").getPath
    served(dir) shouldBe 2.0
    // roll-back: crashed right after the old set was renamed aside
    val dir2 = tmp("centswin2")
    writeCents(dir2, 1.0)
    crashAt(dir2, "aside")(writeCents(dir2, 2.0)) shouldBe true
    new java.io.File(dir2, "cents").exists() shouldBe false
    served(dir2) shouldBe 1.0
    // the next commit leaves only the one-version grace beside the name
    writeCents(dir2, 3.0)
    served(dir2) shouldBe 3.0
    new java.io.File(dir2).list().toSeq.filter(_.startsWith(".cents."))
      .sorted shouldBe Seq(".cents.v1", ".cents.v2")
    // nothing at all: explicit error, not a silent empty
    val dir3 = tmp("centswin3")
    intercept[IllegalStateException] {
      MaintenancePlanner.servingCentsFile(dir3)
    }.getMessage should include("no persisted quantizer")
  }

  test("a grow decided AFTER the crash window completes: the executor " +
      "resolves the healed quantizer and commits the union set") {
    import graft.streaming.MaintenancePlanner.AnnSpec
    val dir = tmp("centsgrow")
    val w01 = blobVecs(0 to 19)
    AnnIndexMaintainer.processBatchMonitored(w01, 0L, "vec_id",
      "embedding", blobCents, dir, roundScale = 6)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchMonitored(blobVecs(20 to 23,
      shift = 5.0), 1L, "vec_id", "embedding", blobCents, dir,
      roundScale = 6)
    // the window: a commit of the quantizer crashed between its two
    // renames, the new set renamed in as a version, no live cents
    def commitCents(): Unit = graft.StateCommit.writeDir(s"$dir/cents")(
      blobCents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "c").coalesce(1).write.mode("overwrite").parquet(_))
    commitCents()
    graft.StateCommitSpec.crashAt(dir, "versioned")(commitCents()) shouldBe
      true
    new java.io.File(dir, "cents").exists() shouldBe false
    val (table, _) = MaintenancePlanner.execute(spark, Seq(
      AnnSpec("a", dir, 4.0, growPostFractionMax = 0.5, roundScale = 6)))
    table.collect().map(r => (r.getString(0), r.getString(5)))
      .toSet should contain(("pre", "grow"))
    // the committed quantizer grew past the healed bootstrap
    Ann.ivfCentroidsFromDf(spark.read.parquet(s"$dir/cents"))
      .length should be > blobCents.length
  }

  // --------- snapshot pin/verify: emptiness probe, not a slice scan

  test("pin and verify probe non-emptiness with limit(1): the records " +
      "read stay far below the pinned slice's size") {
    val dir = tmp("pinprobe")
    // one 30k-row batch landing in ONE cell file: the vectorized reader
    // counts whole 4096-row column batches, so a limit(1) probe reads
    // ~one batch while the old slice count() reads all 30k — the
    // difference is only measurable when files span many batches
    val big = spark.range(0, 30000).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit(1.0),
        org.apache.spark.sql.functions.lit(0.0),
        org.apache.spark.sql.functions.lit(3.0),
        org.apache.spark.sql.functions.lit(0.0)).as("embedding"))
    AnnIndexMaintainer.processBatch(big, 0L, "vec_id", "embedding",
      Array(Array(1.0, 0.0, 3.0, 0.0)), dir)
    val total = 30000L
    val (_, trace) = graft.Trace.run(sc) {
      val mdir = tmp("pinprobem") + "/manifest"
      SnapshotManifest.pin(spark,
        Seq(SnapshotManifest.Pin("idx", "ann", dir, 0L, "vec_id")), mdir)
      SnapshotManifest.verify(spark, mdir).collect()
        .map(_.getBoolean(3)) shouldBe Array(true)
    }
    // pin + verify together: a slice COUNT would read >= 2 * total rows
    // (60k); the limit(1) probe loads ~one 4096-row column batch per
    // probe
    trace.rowsRead should be < total / 2
  }

  // --------- discovery GC: hardened merges signature, new families

  test("discoverStates does not mistake a recdb-style _LATEST state for " +
      "a merges model, and latestMeta names the file on a foreign " +
      "payload instead of a MatchError") {
    val root = tmp("discflt")
    // a DeltaSimilarityMaintainer-shaped state: _LATEST with a
    // single-token payload, v<N> children without merges.parquet
    val delta = new java.io.File(root, "delta")
    new java.io.File(delta, "v3").mkdirs()
    java.nio.file.Files.writeString(delta.toPath.resolve("_LATEST"), "3")
    Retention.discoverStates(root) shouldBe empty
    // the fleet sweep over a tree containing it must not crash
    Retention.sweep(spark, root, dryRun = true).count() shouldBe 0L
    intercept[IllegalArgumentException] {
      BpeMaintainer.latestMeta(delta.getPath)
    }.getMessage should include("_LATEST")
  }

  test("a truncated version _meta stamp reads as UNSTAMPED (horizon " +
      "unprovable, never vacuumed) instead of a MatchError") {
    val base = tmp("bpemeta")
    val (st, md) = (s"$base/state", s"$base/model")
    val cfg = BpeMaintainer.Config(numMerges = 4, growthFactor = 0.0)
    Seq(Seq("aaab aaab aaab"), Seq("ccd ccd ccd ccd")).zipWithIndex
      .foreach { case (w, g) =>
        BpeMaintainer.processBatch(
          w.zipWithIndex.map { case (t, i) => (10L * g + i, t) }
            .toDF("doc_id", "text"),
          g.toLong, "doc_id", "text", st, md, cfg)
      }
    // corrupt v0's stamp the way a crash mid-write would
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(md, "v0", "_meta"), "1")
    val vs = BpeMaintainer.versions(md)
    vs.map(v => (v._1, v._2)) shouldBe Seq((0L, -1L), (1L, 1L))
    // the unstamped version is invisible to the horizon axis and
    // protected from the vacuum, exactly like a pre-stamp legacy version
    Retention.staleMergeVersions(spark, md,
      keepFrom = Long.MaxValue) shouldBe empty
  }

  test("policy-less merges models default to the commit-time keep-two " +
      "window under the discovery sweep; an explicit keepFrom still " +
      "wins") {
    val base = tmp("bpek2")
    val (st, md) = (s"$base/state", s"$base/model")
    val cfg = BpeMaintainer.Config(numMerges = 4, growthFactor = 0.0)
    (0 until 3).foreach { g =>
      BpeMaintainer.processBatch(
        Seq((10L * g, Seq("aaab aaab", "ccd ccd ccd", "eef eef")(g)))
          .toDF("doc_id", "text"),
        g.toLong, "doc_id", "text", st, md, cfg)
    }
    // the commit-time window already kept only v1 (rollback) + v2 (head)
    BpeMaintainer.versions(md).map(_._1) shouldBe Seq(1L, 2L)
    // a no-keepFrom vacuum (the discovery sweep's shape) must NOT drop
    // the rollback copy the maintainer deliberately preserves
    Retention.vacuumMergeVersions(spark, md) shouldBe empty
    BpeMaintainer.versions(md).map(_._1) shouldBe Seq(1L, 2L)
    // an operator's explicit floor is their own decision and wins
    Retention.vacuumMergeVersions(spark, md, keepFrom = 2L) shouldBe
      Seq(1L)
    BpeMaintainer.versions(md).map(_._1) shouldBe Seq(2L)
  }

  private def shardPayload(ids: Range) =
    ids.map(i => (i.toLong, s"$i:${i + 1}", 2L))
      .toDF("seq_id", "ids_str", "n_tok")

  test("the discovery sweep carries the SHARD family: a layout folds at " +
      "the pin-lowered horizon, the pinned history stays serveable, and " +
      "dry run == action") {
    val root = tmp("sweepsh")
    def build(dir: String): Unit = {
      ShardMaintainer.reconcile(shardPayload(0 until 12), 0L, epochs = 1,
        shardSize = 4, dir)
      ShardMaintainer.reconcile(shardPayload(0 until 12)
        .where(col("seq_id") % 5 =!= 0), 1L, epochs = 1, shardSize = 4, dir)
      ShardMaintainer.reconcile(shardPayload(0 until 12)
        .where(col("seq_id") % 5 =!= 0 && col("seq_id") % 7 =!= 0), 2L,
        epochs = 1, shardSize = 4, dir)
    }
    build(s"$root/pinned")
    build(s"$root/plain")
    val mdir = tmp("sweepshm") + "/manifest"
    SnapshotManifest.pin(spark, Seq(SnapshotManifest.Pin("sh", "shards",
      s"$root/pinned", 1L)), mdir)
    Retention.discoverStates(root).toSet shouldBe Set(
      ("shards", s"$root/pinned"), ("shards", s"$root/plain"))
    val dry = Retention.sweep(spark, root, Seq(mdir), dryRun = true)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    dry shouldBe Set(("pinned", 1L), ("plain", 2L))
    val acted = Retention.sweep(spark, root, Seq(mdir))
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    acted shouldBe dry
    // the pinned layout sealed AT the pin and keeps horizon 1; the
    // unpinned twin sealed at 2 and lost it
    ShardMaintainer.sealedHorizon(s"$root/pinned") shouldBe 1L
    ShardMaintainer.sealedHorizon(s"$root/plain") shouldBe 2L
    ShardMaintainer.readShardsAsOf(spark, s"$root/pinned", 1L)
      .count() should be > 0L
    intercept[IllegalArgumentException] {
      ShardMaintainer.readShardsAsOf(spark, s"$root/plain", 1L)
    }.getMessage should include("sealed compaction floor")
    // post sweep: nothing left to fold
    Retention.sweep(spark, root, Seq(mdir), dryRun = true)
      .count() shouldBe 0L
  }

  test("retireState in the loop: the retrain executor stamps the " +
      "superseded generation, the sweep reclaims it once unpinned, a " +
      "pinned twin is skipped by the sweep and refused by name on a " +
      "direct retire") {
    import graft.streaming.MaintenancePlanner.AnnSpec
    val root = tmp("retire")
    def mkDrifted(dir: String): Unit = {
      AnnIndexMaintainer.processBatchMonitored(blobVecs(0 to 5), 0L,
        "vec_id", "embedding", blobCents, dir, roundScale = 6)
      AnnIndexMaintainer.markTrained(dir, 0L)
      AnnIndexMaintainer.processBatchMonitored(blobVecs(6 to 19,
        shift = 5.0), 1L, "vec_id", "embedding", blobCents, dir,
        roundScale = 6)
    }
    mkDrifted(s"$root/a_old")
    mkDrifted(s"$root/b_old")
    MaintenancePlanner.execute(spark, Seq(
        AnnSpec("a", s"$root/a_old", 4.0, roundScale = 6),
        AnnSpec("b", s"$root/b_old", 4.0, roundScale = 6)),
      annNewDirs = Map("a" -> s"$root/a_new", "b" -> s"$root/b_new"))
    new java.io.File(s"$root/a_old/_superseded").isFile shouldBe true
    // pin b's OLD generation (deep-horizon audit still needs it)
    val mdir = tmp("retirem") + "/manifest"
    SnapshotManifest.pin(spark, Seq(SnapshotManifest.Pin("b0", "ann",
      s"$root/b_old", 0L, "vec_id")), mdir)
    // discovery reports the superseded dirs ALONE (not their qg family)
    Retention.discoverStates(root)
      .filter(_._2.endsWith("_old")).map(_._1).toSet shouldBe
      Set("superseded")
    val dry = Retention.sweep(spark, root, Seq(mdir), dryRun = true)
      .where(col("family") === "superseded")
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    // the unpinned twin is droppable (−1); the pinned twin emits a HELD
    // audit row (−2) instead of silently vanishing from the report
    dry shouldBe Set(("a_old", Retention.RetiredSentinel),
      ("b_old", Retention.HeldSentinel))
    // the held row names its holder (manifest + state + horizon)
    val holder = Retention.sweep(spark, root, Seq(mdir), dryRun = true)
      .where(col("dropped_id") === Retention.HeldSentinel)
      .collect().map(_.getString(3))
    holder should have size 1
    holder.head should include("state 'b0'")
    Retention.sweep(spark, root, Seq(mdir))
      .where(col("family") === "superseded")
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet shouldBe dry
    new java.io.File(s"$root/a_old").exists() shouldBe false
    new java.io.File(s"$root/b_old").exists() shouldBe true
    // the direct retire names its holder
    intercept[IllegalArgumentException] {
      Retention.retireState(spark, s"$root/b_old", Seq(mdir))
    }.getMessage should include("state 'b0'")
    // the pinned twin's deep horizon still serves from the old dir
    AnnIndexMaintainer.readIndexAsOf(spark, s"$root/b_old", 0L)
      .count() shouldBe 6L
  }
}
