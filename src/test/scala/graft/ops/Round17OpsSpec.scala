package graft.ops

import graft.SparkSpec
import graft.streaming.{AnnIndexMaintainer, ShardMaintainer}
import org.apache.spark.sql.functions._

/** Specs for the round-17 hardening: the atomically-committed quantizer
  * growth (g-dir commit, post-growth metrics subsumption), the
  * horizon-aware manifest ann leg, the crash-atomic manifest commit,
  * pin-time emptiness validation, the legacy shard-layout migration
  * fallback, and the quantizer-training points-per-centroid floor.
  */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val cents2 = Array(Array(1.0, 0.0), Array(0.0, 1.0))

  private def vecs(ids: Seq[Long], shift: Double = 0.0) =
    ids.map(i => (i, Seq(
      (if (i % 2 == 0) 1.0 else 0.0) + 0.01 * (i % 3) + shift,
      (if (i % 2 == 0) 0.0 else 1.0) + shift)))
      .toDF("vec_id", "embedding")

  /** min over `cs` of ‖v−c‖² — the distortion the metrics sidecar holds. */
  private def minD2(v: Seq[Double], cs: Array[Array[Double]]): Double =
    cs.map(c => v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min

  // -------------------- post-growth drift signals (metrics subsumption)

  test("grow: driftRatio/postFraction after a later batch measure ONLY " +
      "against the grown baseline — no double-counted pre-growth rows, " +
      "no retired-quantizer distortion") {
    val dir = tmp("growm")
    val w0 = vecs(0L to 9L)
    val w1 = vecs(10L to 19L, shift = 5.0)
    AnnIndexMaintainer.processBatchMonitored(w0, 0L, "vec_id", "embedding",
      cents2, dir)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchMonitored(w1, 1L, "vec_id", "embedding",
      cents2, dir)
    val grown = AnnIndexMaintainer.grow(spark, dir, cents2, kNew = 2)
    val cents1 = graft.ops.Ann.ivfCentroidsFromDf(grown)
    // fresh baseline, nothing after → no signal yet
    AnnIndexMaintainer.driftRatio(spark, dir) shouldBe None
    // a later monitored batch (ingested under the GROWN quantizer)
    val w3 = vecs(20L to 24L, shift = 5.0)
    AnnIndexMaintainer.processBatchMonitored(w3, 3L, "vec_id", "embedding",
      cents1, dir)
    // expected baseline: the whole 20-row index under the grown
    // quantizer; expected post: the 5 new rows under the same quantizer
    val allRows = (0L to 9L).map(i => (i, 0.0)) ++
      (10L to 19L).map(i => (i, 5.0))
    def d2of(id: Long, shift: Double) = minD2(Seq(
      (if (id % 2 == 0) 1.0 else 0.0) + 0.01 * (id % 3) + shift,
      (if (id % 2 == 0) 0.0 else 1.0) + shift), cents1)
    val baseMean = allRows.map { case (i, sh) => d2of(i, sh) }.sum / 20.0
    val postMean = (20L to 24L).map(d2of(_, 5.0)).sum / 5.0
    AnnIndexMaintainer.driftRatio(spark, dir).get shouldBe
      (postMean / baseMean) +- 1e-9
    // tn counts the index ONCE (20) plus the tail (5) — the double-count
    // bug reported 2N in the baseline and halved this
    AnnIndexMaintainer.postFraction(spark, dir).get shouldBe
      (5.0 / 25.0) +- 1e-12
  }

  // ----------------------------- growth commit atomicity (g-dir rename)

  test("grow: a crashed attempt (leftover .g*.tmp) is invisible to every " +
      "reader, and a re-run commits cleanly on top of it") {
    val dir = tmp("growa")
    AnnIndexMaintainer.processBatchMonitored(vecs(0L to 9L), 0L, "vec_id",
      "embedding", cents2, dir)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchMonitored(vecs(10L to 19L, shift = 5.0),
      1L, "vec_id", "embedding", cents2, dir)
    val qs = Seq((0L, Array(1.0, 0.0)), (10L, Array(6.0, 6.0)))
    val before = AnnIndexMaintainer.search(spark, dir, cents2, qs, k = 3)
      .collect().map(_.toString).sorted.toSeq
    val ratioBefore = AnnIndexMaintainer.driftRatio(spark, dir).get
    // simulate a crash mid-grow: a fully-written tmp dir that never got
    // its commit rename — every artifact present, none visible
    val crashed = vecs(10L to 19L, shift = 5.0)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"),
        lit(2L).as("batch_id"), lit(2).as("cell"))
    crashed.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/.g2.tmp/data")
    crashed.select(col("id"), lit(0).as("cell"), lit(2L).as("batch_id"))
      .write.mode("overwrite").parquet(s"$dir/.g2.tmp/mv")
    Seq((2L, 20L, 1.0)).toDF("batch_id", "n", "sum_d2")
      .write.mode("overwrite").parquet(s"$dir/.g2.tmp/m")
    AnnIndexMaintainer.search(spark, dir, cents2, qs, k = 3)
      .collect().map(_.toString).sorted.toSeq shouldBe before
    AnnIndexMaintainer.driftRatio(spark, dir).get shouldBe
      ratioBefore +- 1e-12
    AnnIndexMaintainer.trainedBatch(dir) shouldBe 0L
    // the re-run replays over the wreckage and commits atomically
    val grown = AnnIndexMaintainer.grow(spark, dir, cents2, kNew = 2)
    val cents1 = graft.ops.Ann.ivfCentroidsFromDf(grown)
    AnnIndexMaintainer.trainedBatch(dir) shouldBe 2L
    AnnIndexMaintainer.driftRatio(spark, dir) shouldBe None
    // served ids are unique (no duplicate copies through the growth)
    val ids = AnnIndexMaintainer.readIndexAsOf(spark, dir, Long.MaxValue)
      .select("id").collect().map(_.getLong(0)).toSeq
    ids.size shouldBe 20
    ids.distinct.size shouldBe 20
    cents1.length shouldBe 4
  }

  // ------------------- manifest ann leg through a growth (no dup ids)

  test("SnapshotManifest ann leg: a pin at or above a growth batch " +
      "serves each moved row ONCE; below the growth, the original " +
      "assignment") {
    import graft.streaming.SnapshotManifest
    import graft.streaming.SnapshotManifest.Pin
    val dir = tmp("snapgrow")
    AnnIndexMaintainer.processBatchMonitored(vecs(0L to 9L), 0L, "vec_id",
      "embedding", cents2, dir)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchMonitored(vecs(10L to 19L, shift = 5.0),
      1L, "vec_id", "embedding", cents2, dir)
    AnnIndexMaintainer.grow(spark, dir, cents2, kNew = 2) // growB = 2
    val atGrowth = tmp("snapga") + "/m"
    SnapshotManifest.pin(spark, Seq(Pin("ann", "ann", dir, 2L)), atGrowth)
    val served = SnapshotManifest.readState(spark, atGrowth, "ann")
      .select("id").collect().map(_.getLong(0)).toSeq
    served.size shouldBe 20 // the double-count bug returned 20 + movers
    served.distinct.size shouldBe 20
    // below the growth: the growth never happened on that timeline —
    // same ids, original cells
    val below = tmp("snapgb") + "/m"
    SnapshotManifest.pin(spark, Seq(Pin("ann", "ann", dir, 1L)), below)
    val cells = SnapshotManifest.readState(spark, below, "ann")
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    cells.size shouldBe 20
    cells.values.max should be <= 1 // grown cells (≥2) invisible below G
  }

  // ----------------------------- manifest commit crash window (aside)

  test("SnapshotManifest.pin: rename-aside commit — a crash between the " +
      "two renames still serves the OLD manifest; the next pin heals") {
    import graft.streaming.SnapshotManifest
    import graft.streaming.SnapshotManifest.Pin
    val ann = tmp("snapcr")
    AnnIndexMaintainer.processBatch(vecs(0L to 5L), 0L, "vec_id",
      "embedding", cents2, ann)
    AnnIndexMaintainer.processBatch(vecs(6L to 9L), 1L, "vec_id",
      "embedding", cents2, ann)
    val mdir = tmp("snapcm") + "/m"
    SnapshotManifest.pin(spark, Seq(Pin("ann", "ann", ann, 0L)), mdir)
    // crash a re-pin between the two renames of its first swap: the old
    // manifest is renamed aside as a version, the new one never linked in
    graft.StateCommitSpec.crashAt(mdir, "aside")(SnapshotManifest.pin(spark,
      Seq(Pin("ann", "ann", ann, 1L)), mdir)) shouldBe true
    new java.io.File(mdir).exists() shouldBe false
    SnapshotManifest.pins(spark, mdir).head.asOf shouldBe 0L
    SnapshotManifest.readState(spark, mdir, "ann").count() shouldBe 6L
    // a re-pin commits the new manifest; no temp is left beside it
    SnapshotManifest.pin(spark, Seq(Pin("ann", "ann", ann, 1L)), mdir)
    SnapshotManifest.pins(spark, mdir).head.asOf shouldBe 1L
    new java.io.File(mdir).getParentFile.list().toSeq
      .filter(n => n.startsWith(".m.") && !n.matches("\\.m\\.v\\d+")) shouldBe
      empty
    // no manifest anywhere is an explicit error
    intercept[IllegalArgumentException] {
      SnapshotManifest.pins(spark, tmp("snapnone") + "/m")
    }.getMessage should include("no manifest")
  }

  // ------------------------------- pin-time validation: empty horizons

  test("SnapshotManifest.pin: an ann/postings horizon below the state's " +
      "first batch fails AT PIN TIME instead of pinning an empty index") {
    import graft.streaming.SnapshotManifest
    import graft.streaming.SnapshotManifest.Pin
    val ann = tmp("snapemt")
    AnnIndexMaintainer.processBatch(vecs(0L to 5L), 3L, "vec_id",
      "embedding", cents2, ann)
    intercept[IllegalArgumentException] {
      SnapshotManifest.pin(spark, Seq(Pin("a", "ann", ann, 1L)),
        tmp("snapem") + "/m")
    }.getMessage should include("EMPTY frame")
    val post = tmp("snapemp")
    graft.streaming.SearchIndexMaintainer.processBatch(
      Seq((0L, "alpha beta")).toDF("doc_id", "text"), 2L, "doc_id",
      "text", post)
    intercept[IllegalArgumentException] {
      SnapshotManifest.pin(spark, Seq(Pin("p", "postings", post, 0L,
        "doc_id")), tmp("snapem2") + "/m")
    }.getMessage should include("EMPTY frame")
  }

  // ------------------------------ neardup kind in the snapshot manifest

  test("SnapshotManifest neardup kind: pins the LSH signature index at " +
      "a horizon, validates non-empty, reads equal indexAsOf") {
    import graft.streaming.{NearDupMaintainer, SnapshotManifest}
    import graft.streaming.SnapshotManifest.Pin
    val dir = tmp("snapnd")
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    (0 until 2).foreach { g =>
      NearDupMaintainer.processBatch(
        docs.where(col("doc_id") % 2 === g), g.toLong, "doc_id", "text",
        dir, tmp("sndp"))
    }
    val mdir = tmp("snapndm") + "/m"
    SnapshotManifest.pin(spark, Seq(Pin("sigs", "neardup", dir, 0L)), mdir)
    SnapshotManifest.readState(spark, mdir, "sigs")
      .collect().map(_.toString).sorted.toSeq shouldBe
      NearDupMaintainer.indexAsOf(spark, dir, 0L).drop("batch_id")
        .collect().map(_.toString).sorted.toSeq
    intercept[IllegalArgumentException] {
      SnapshotManifest.pin(spark, Seq(Pin("x", "neardup", dir, -1L)),
        tmp("snapndx") + "/m")
    }.getMessage should include("EMPTY frame")
  }

  // ----------------------- legacy shard layouts (no seqs/ append log)

  test("ShardMaintainer: a layout whose early batches predate the seqs/ " +
      "sidecar derives their liveness from the data dir — deadFraction " +
      "holds and a reconcile does not re-append") {
    val dir = tmp("shardleg")
    def payload(ids: Seq[Long]) =
      ids.map(i => (i, s"ids$i", 4L)).toDF("seq_id", "ids_str", "n_tok")
    ShardMaintainer.reconcile(payload(0L to 9L), 0L, epochs = 1,
      shardSize = 2, dir)
    ShardMaintainer.reconcile(payload(0L to 7L), 1L, epochs = 1,
      shardSize = 2, dir) // 8,9 tombstoned
    val dfBefore = ShardMaintainer.deadFraction(spark, dir)
    dfBefore shouldBe 0.2 +- 1e-12
    val liveBefore = ShardMaintainer.readShardsLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    // simulate the pre-sidecar format: drop the append log entirely
    graft.Exec.deletePath(s"$dir/seqs")
    ShardMaintainer.deadFraction(spark, dir) shouldBe dfBefore +- 1e-12
    // a reconcile with the same selection must see the survivors as
    // already-live: no duplicate appends, no spurious tombstones
    ShardMaintainer.reconcile(payload(0L to 7L), 2L, epochs = 1,
      shardSize = 2, dir)
    ShardMaintainer.readShardsLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq shouldBe liveBefore
  }

  // --------------------------- PQ-index growth (codes travel unchanged)

  test("growPq: union parity on the PQ-coded index; the layout guard " +
      "rejects plain-grow on a coded state and vice versa") {
    val dir = tmp("growpq")
    val cb: Array[Array[Array[Double]]] =
      Array(Array(Array(0.0), Array(1.0), Array(6.0)),
        Array(Array(0.0), Array(1.0), Array(6.0)))
    val w0 = vecs(0L to 9L)
    val w1 = vecs(10L to 19L, shift = 5.0)
    AnnIndexMaintainer.processBatchPq(w0, 0L, "vec_id", "embedding",
      cents2, cb, dir)
    AnnIndexMaintainer.markTrained(dir, 0L)
    AnnIndexMaintainer.processBatchPq(w1, 1L, "vec_id", "embedding",
      cents2, cb, dir)
    intercept[IllegalArgumentException] {
      AnnIndexMaintainer.grow(spark, dir, cents2, kNew = 2)
    }.getMessage should include("use growPq")
    val grown = AnnIndexMaintainer.growPq(spark, dir, cents2, kNew = 2)
    val cents1 = graft.ops.Ann.ivfCentroidsFromDf(grown)
    cents1.length shouldBe 4
    val all = w0.unionByName(w1)
    val qids = Seq(0L, 10L, 11L)
    val qs = all.where(col("vec_id").isin(qids: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val served = AnnIndexMaintainer.searchPq(spark, dir, cents1, cb, qs,
        k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toString).sorted.toSeq
    val oneShot = graft.ops.Ann.ivfPqTopK(all,
        all.where(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        k = 3, cents1, cb)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toString).sorted.toSeq
    served shouldBe oneShot
    // ...and the other direction of the guard
    val plainDir = tmp("growpqplain")
    AnnIndexMaintainer.processBatch(w0, 0L, "vec_id", "embedding", cents2,
      plainDir)
    AnnIndexMaintainer.markTrained(plainDir, 0L)
    AnnIndexMaintainer.processBatch(w1, 1L, "vec_id", "embedding", cents2,
      plainDir)
    intercept[IllegalArgumentException] {
      AnnIndexMaintainer.growPq(spark, plainDir, cents2, kNew = 2)
    }.getMessage should include("use grow")
  }

  // ------------------- the executor runs the remedy the planner chose

  test("MaintenancePlanner.execute: a grow-shaped ANN state executes " +
      "GROW in place (union quantizer committed to <dir>/cents), the " +
      "post sweep is healthy, and serving equals the union-set scan") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.AnnSpec
    val dir = tmp("execgrow")
    // 20 baseline rows (baseline at batch 1), 4 shifted post rows → the
    // tail case: pf 4/24 ≤ 0.5, ratio fires
    AnnIndexMaintainer.processBatchMonitored(vecs(0L to 9L), 0L, "vec_id",
      "embedding", cents2, dir)
    AnnIndexMaintainer.processBatchMonitored(vecs(10L to 19L), 1L,
      "vec_id", "embedding", cents2, dir)
    AnnIndexMaintainer.markTrained(dir, 1L)
    AnnIndexMaintainer.processBatchMonitored(vecs(20L to 23L, shift = 5.0),
      2L, "vec_id", "embedding", cents2, dir)
    // no persisted quantizer → the executor fails fast, state untouched
    intercept[IllegalStateException] {
      MaintenancePlanner.execute(spark, Seq(
        AnnSpec("a", dir, 4.0, growPostFractionMax = 0.5)))
    }.getMessage should include("no persisted quantizer")
    graft.StateCommit.writeDir(s"$dir/cents")(
      cents2.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "c").write.mode("overwrite").parquet(_))
    val (table, postSpecs) = MaintenancePlanner.execute(spark, Seq(
      AnnSpec("a", dir, 4.0, growPostFractionMax = 0.5)))
    val rows = table.collect()
      .map(r => (r.getString(0), r.getString(5))).toSet
    rows should contain(("pre", "grow"))
    rows should contain(("post", "none"))
    postSpecs.head.asInstanceOf[AnnSpec].dir shouldBe dir // in place
    // the committed quantizer grew and serving matches the union scan
    val cents1 = graft.ops.Ann.ivfCentroidsFromDf(
      spark.read.parquet(s"$dir/cents"))
    cents1.length should be > 2
    cents1.take(2).map(_.toSeq) shouldBe cents2.map(_.toSeq)
    val all = vecs(0L to 19L).unionByName(vecs(20L to 23L, shift = 5.0))
    val qids = Seq(0L, 20L)
    val qs = all.where(col("vec_id").isin(qids: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    AnnIndexMaintainer.search(spark, dir, cents1, qs, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toString).sorted.toSeq shouldBe
      graft.ops.Ann.ivfTopK(all, all.where(col("vec_id").isin(qids: _*)),
          "vec_id", "embedding", k = 3, centroidsOpt = Some(cents1))
        .select("query_id", "neighbor_id", "rank")
        .collect().map(_.toString).sorted.toSeq
  }

  // --------------------------------- versioned quantizer generations

  test("centroidsAsOf/searchAsOfAuto: the horizon resolves the quantizer " +
      "generation serving then; pre-first-generation horizons throw; the " +
      "executor persists a generation with each remedy") {
    import graft.streaming.MaintenancePlanner
    import graft.streaming.MaintenancePlanner.AnnSpec
    val dir = tmp("qgauto")
    AnnIndexMaintainer.processBatchMonitored(vecs(0L to 9L), 0L, "vec_id",
      "embedding", cents2, dir)
    AnnIndexMaintainer.markTrained(dir, 0L)
    val c2df = cents2.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cid", "c")
    AnnIndexMaintainer.persistCentroids(spark, dir, 0L, c2df)
    graft.StateCommit.writeDir(s"$dir/cents")(
      c2df.write.mode("overwrite").parquet(_))
    AnnIndexMaintainer.processBatchMonitored(vecs(10L to 13L, shift = 5.0),
      1L, "vec_id", "embedding", cents2, dir)
    intercept[IllegalArgumentException] {
      AnnIndexMaintainer.centroidsAsOf(spark, dir, -1L)
    }.getMessage should include("no quantizer generation")
    AnnIndexMaintainer.centroidsAsOf(spark, dir, 1L)
      .map(_.toSeq) shouldBe cents2.map(_.toSeq)
    // the executor's grow also lands a qg generation at the growth batch
    MaintenancePlanner.execute(spark, Seq(
      AnnSpec("a", dir, 4.0, growPostFractionMax = 0.5)))
    val g = AnnIndexMaintainer.trainedBatch(dir)
    g should be > 0L
    val atHead = AnnIndexMaintainer.centroidsAsOf(spark, dir, g)
    atHead.length should be > 2
    // auto probes: below the growth under the bootstrap set, at head
    // under the union — equal to the manually-resolved searches
    val qs = Seq((100L, Array(5.0, 5.0)))
    AnnIndexMaintainer.searchAsOfAuto(spark, dir, qs, k = 3, asOf = 0L)
      .collect().map(_.toString).sorted.toSeq shouldBe
      AnnIndexMaintainer.searchAsOf(spark, dir, cents2, qs, k = 3,
        asOf = 0L).collect().map(_.toString).sorted.toSeq
    AnnIndexMaintainer.searchAsOfAuto(spark, dir, qs, k = 3,
        asOf = Long.MaxValue)
      .collect().map(_.toString).sorted.toSeq shouldBe
      AnnIndexMaintainer.searchAsOf(spark, dir, atHead, qs, k = 3,
        asOf = Long.MaxValue).collect().map(_.toString).sorted.toSeq
    // the manifest pins the quantizer artifact itself: the 'quantizer'
    // kind serves the generation at the horizon (bootstrap below the
    // growth, union at it); pre-first-generation horizons fail the pin
    import graft.streaming.SnapshotManifest
    import graft.streaming.SnapshotManifest.Pin
    val mdir = tmp("qgm") + "/m"
    SnapshotManifest.pin(spark, Seq(
      Pin("q_boot", "quantizer", dir, 0L),
      Pin("q_head", "quantizer", dir, g)), mdir)
    SnapshotManifest.readState(spark, mdir, "q_boot")
      .count() shouldBe 2L
    SnapshotManifest.readState(spark, mdir, "q_head")
      .count().toInt shouldBe atHead.length
    intercept[IllegalArgumentException] {
      SnapshotManifest.pin(spark, Seq(
        Pin("q", "quantizer", dir, -1L)), tmp("qgmx") + "/m")
    }.getMessage should include("no quantizer generation")
  }

  // --------------------------- quantizer training budget floor (4/cell)

  test("ivfTrain: the training budget never degenerates to one point " +
      "per centroid at the maxTrainN cap") {
    val pts = ((0 until 50).map(i => Seq(0.0 + i * 0.001, 0.0)) ++
      (0 until 50).map(i => Seq(10.0 + i * 0.001, 10.0)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    // cap == k: the old budget collapsed to 2 hash-ordered sample points
    // (centroids == the sample); the 4-per-centroid floor keeps the fit
    // a real clustering that separates the two blobs
    val cs = Ann.ivfCentroidsFromDf(
      Ann.ivfTrain(pts, "v", nlist = 2, maxTrainN = 2))
    cs.length shouldBe 2
    val gap = math.sqrt(cs(0).zip(cs(1))
      .map { case (a, b) => (a - b) * (a - b) }.sum)
    gap should be > 5.0
  }
}
