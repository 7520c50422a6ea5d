package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Autonomous-maintenance planning over the persistent streaming states —
  * the scheduling face of the reference's threshold-maintenance idea
  * (recathon.c:1089 rebuilds a recommender when inserts cross 0.5× the
  * build-time total) generalized across every maintained artifact this
  * engine keeps: ONE metadata-cost sweep reads each state's health signal
  * and emits the (state, metric, value, threshold, decision) table an
  * operations loop executes from, instead of each artifact hiding its own
  * ad-hoc trigger.
  *
  * Every metric is sidecar- or metadata-sized by construction — the
  * planner NEVER re-scans a corpus, which is what makes a fleet-wide
  * sweep viable at 100 TB where the states themselves are huge:
  *
  *   - `dead_fraction` ([[ShardMaintainer.deadFraction]]): seq-id-sized
  *     joins over append/tombstone sidecars → `compact` (the
  *     [[ShardMaintainer.compactTombstones]] rewrite pays off once the
  *     dead mass warrants it).
  *   - `drift_ratio` ([[AnnIndexMaintainer.driftRatio]]): two sums over
  *     the per-batch distortion sidecar → `retrain` (the frozen-quantizer
  *     policy's offline [[AnnIndexMaintainer.retrain]] remedy).
  *   - `delta_fraction` ([[deltaFraction]]): parquet-footer row counts of
  *     un-folded batch dirs over the total → `compact` (fold the LSM
  *     delta once read fan-in/delta mass crosses the line).
  *   - `kl_drift` ([[graft.ops.Corpus.klTotal]] between the selection
  *     baseline's word-frequency snapshot and the current one):
  *     vocabulary-sized aggregate → `recurate` (the
  *     [[CurateMaintainer.processBatchDriftTriggered]] re-derivation,
  *     surfaced as a decision for a trigger running out-of-band).
  *   - `stale_generations` ([[Retention.staleSelections]] /
  *     [[Retention.staleQuantizers]]): dir listing + manifest reads →
  *     `vacuum` (the pin-aware generation GC, dropping exactly the
  *     superseded history the dry run counted).
  *
  * Decisions are threshold comparisons on the driver — the table is
  * bounded by the number of states, not data. Callers act on the
  * decisions with the respective maintainers' own operations — either
  * directly, or through [[execute]], the closed loop that applies every
  * non-none decision and re-sweeps; [[plan]] itself only measures and
  * recommends (idempotent, safe to run on a schedule).
  */
object MaintenancePlanner {

  sealed trait StateSpec {
    def name: String; def dir: String; def threshold: Double
  }

  /** Training-shard layout ([[ShardMaintainer]]): tombstoned mass →
    * `compact`. With `manifestDirs`, the executor's fold runs
    * PIN-AWARE ([[ShardMaintainer.compactTombstonesPinAware]]): the
    * seal horizon is lowered to the oldest `shards` pin on this layout,
    * so the closed loop can never compact a pinned corpus version out
    * of reproducibility. */
  final case class ShardSpec(name: String, dir: String,
      threshold: Double,
      manifestDirs: Seq[String] = Nil) extends StateSpec

  /** Monitored ANN inverted file
    * ([[AnnIndexMaintainer.processBatchMonitored]]): quantization
    * distortion drift → `retrain`, or — when `growPostFractionMax` > 0,
    * enabling the [[annRemedy]] cost-aware choice — `grow` when the
    * drifted mass is confined to a tail of at most that fraction. The
    * grow remedy needs the state's CURRENT quantizer: [[execute]] reads
    * it from `<dir>/cents` (the same persisted-centroids convention the
    * retrain path writes to its new generation) and commits the grown
    * union set back there. `roundScale` is the state's assignment
    * rounding (it must match how the rows were ingested/served).
    */
  final case class AnnSpec(name: String, dir: String,
      threshold: Double, growPostFractionMax: Double = 0.0,
      roundScale: Int = -1) extends StateSpec

  /** [[AnnSpec]] for the PQ-CODED inverted file
    * ([[AnnIndexMaintainer.processBatchPqMonitored]]): the drift signal
    * and the remedy choice are identical (coarse-quantizer distortion;
    * [[annRemedy]]), but the remedies are the code-aware ones —
    * `retrain` → [[AnnIndexMaintainer.retrainPq]] (fresh quantizer AND
    * fresh `m`×`kCode` codebooks, re-encode pass, codebook persisted to
    * `<newDir>/codebook` beside `<newDir>/cents`), `grow` →
    * [[AnnIndexMaintainer.growPq]] (movers' codes travel unchanged,
    * codebooks frozen). */
  final case class AnnPqSpec(name: String, dir: String,
      threshold: Double, m: Int = 8, kCode: Int = 32,
      growPostFractionMax: Double = 0.0,
      codebookRatioMax: Double = Double.MaxValue,
      roundScale: Int = -1) extends StateSpec

  /** Any `c*`/`b*` LSM state ([[BatchDirs]] layout: postings index,
    * inverted file, signature index): un-folded delta mass → `compact`. */
  final case class DeltaSpec(name: String, dir: String,
      threshold: Double) extends StateSpec

  /** Drift-triggered curation state ([[CurateMaintainer]]): token
    * distribution movement since the selection baseline → `recurate`. */
  final case class CurateSpec(name: String, dir: String,
      threshold: Double) extends StateSpec

  /** Generation-family retention ([[Retention]]): count of superseded
    * generations at the pin-aware floor → `vacuum`. `kind` is
    * `selection` (curation `selection/s<b>`), `quantizer` (`qg<b>` +
    * `cbg<b>`) or `merges` (BPE model `v<N>/` versions);
    * `keepFrom`/`manifestDirs` are the vacuum's own
    * parameters, so the metric measures EXACTLY what the executor's
    * vacuum would drop — plan and action agree by construction, and a
    * state whose history is fully pinned simply never fires. The dry
    * run is a dir listing plus the manifest reads (metadata-cost, like
    * every planner measurement); a missing manifest dir fails the
    * SWEEP, the same fail-safe the vacuum itself enforces. */
  final case class RetentionSpec(name: String, dir: String,
      threshold: Double, kind: String, keepFrom: Long = Long.MaxValue,
      manifestDirs: Seq[String] = Nil) extends StateSpec

  /** [[RetentionSpec]] with DISCOVERY: the spec names a ROOT DIR, the
    * metric is the total droppable-generation count across every state
    * [[Retention.discoverStates]] finds under it (the dry sweep —
    * metadata-cost), and the executor's action is the acting
    * [[Retention.sweep]] with the SAME manifests — the fleet-wide
    * nightly GC as a scheduled planner citizen: one spec per state
    * TREE, not per state. */
  final case class SweepSpec(name: String, root: String,
      threshold: Double, manifestDirs: Seq[String] = Nil) extends StateSpec {
    def dir: String = root
  }

  private def staleOf(spark: SparkSession, sp: RetentionSpec): Seq[Long] =
    sp.kind match {
      case "selection" =>
        Retention.staleSelections(spark, sp.dir, sp.keepFrom,
          sp.manifestDirs)
      case "quantizer" =>
        Retention.staleQuantizers(spark, sp.dir, sp.keepFrom,
          sp.manifestDirs)
      case "merges" =>
        Retention.staleMergeVersions(spark, sp.dir, sp.keepFrom,
          sp.manifestDirs)
      case other => throw new IllegalArgumentException(
        s"RetentionSpec '${sp.name}': unknown kind '$other' " +
          "(expected 'selection', 'quantizer' or 'merges')")
    }

  /** Fraction of state rows living in batch dirs NEWER than the last
    * compaction horizon — the LSM compaction trigger. Row counts come
    * from parquet footers (a metadata read), never a data scan.
    */
  def deltaFraction(spark: SparkSession, dir: String): Double = {
    val maxC = BatchDirs.listDirs(dir, "c").lastOption
    val live = BatchDirs.listDirs(dir, "b")
      .filter { case (id, _) => id > maxC.fold(-1L)(_._1) }.map(_._2)
    val nDelta = live.map(p => spark.read.parquet(p).count()).sum
    val nBase = maxC.map(c => spark.read.parquet(c._2).count()).getOrElse(0L)
    val tot = nBase + nDelta
    if (tot == 0L) 0.0 else nDelta.toDouble / tot
  }

  /** Token-distribution movement since the last selection re-derivation:
    * KL(current ‖ baseline snapshot) from the maintained word-frequency
    * state — exactly the statistic
    * [[CurateMaintainer.processBatchDriftTriggered]] triggers on, exposed
    * so an out-of-band planner can flag a stale selection (e.g. when the
    * inline trigger is disabled or mis-tuned). 0 when the state has no
    * baseline or no batches yet.
    */
  def curateKlDrift(spark: SparkSession, stateDir: String): Double = {
    val base = CurateMaintainer.selectionBaseline(stateDir)
    val cur = BatchDirs.listDirs(s"$stateDir/freq", "b")
      .lastOption.map(_._1).getOrElse(-1L)
    if (base < 0L || cur < 0L || cur == base) 0.0
    else graft.ops.Corpus.klTotal(
      BpeMaintainer.stateWordFreq(spark, s"$stateDir/freq", base),
      BpeMaintainer.stateWordFreq(spark, s"$stateDir/freq", cur))
  }

  /** COST-AWARE remedy choice for a drifted ANN state — which operation
    * the `retrain` decision should execute as:
    *   - `grow` ([[AnnIndexMaintainer.grow]]) when the post-baseline
    *     fraction of the index is at most `growPostFractionMax`: drift
    *     confined to a tail is the additive case — extra centroids over
    *     the tail plus a movers-sized rewrite beat a corpus rewrite;
    *   - `retrain` ([[AnnIndexMaintainer.retrain]]) when the drifted
    *     mass dominates: a union quantizer would leave most of the data
    *     under the stale cells, so the full rebuild pays for itself.
    * Both signals ([[AnnIndexMaintainer.driftRatio]],
    * [[AnnIndexMaintainer.postFraction]]) are sidecar-sized sums — the
    * choice costs metadata, like every other planner measurement.
    * "none" when the drift trigger has not fired.
    */
  def annRemedy(spark: SparkSession, dir: String, ratioThreshold: Double,
      growPostFractionMax: Double = 0.5): String =
    if (!AnnIndexMaintainer.shouldRetrain(spark, dir, ratioThreshold)) "none"
    else if (AnnIndexMaintainer.postFraction(spark, dir)
        .exists(_ <= growPostFractionMax)) "grow"
    else "retrain"

  /** [[annRemedy]] refined for the PQ state by the CODEBOOK drift signal
    * ([[AnnIndexMaintainer.codebookDriftRatio]], the `mr/` reconstruction
    * sidecar): when the drift trigger fires AND the post-baseline
    * reconstruction error has blown past `codebookRatioMax`× the
    * training-era error, the rebuild is forced even for a tail-confined
    * drift — growing the quantizer would only re-home rows whose CODES
    * are already unfaithful, spreading ADC error over the new cells;
    * only [[AnnIndexMaintainer.retrainPq]]'s fresh codebooks restore
    * fidelity. Codebooks still faithful → the usual tail-size split.
    * All three signals are sidecar sums — metadata cost. */
  def pqRemedy(spark: SparkSession, dir: String, ratioThreshold: Double,
      growPostFractionMax: Double = 0.5,
      codebookRatioMax: Double = Double.MaxValue): String =
    if (!AnnIndexMaintainer.shouldRetrain(spark, dir, ratioThreshold)) "none"
    else if (AnnIndexMaintainer.codebookDriftRatio(spark, dir)
        .exists(_ > codebookRatioMax)) "retrain"
    else if (AnnIndexMaintainer.postFraction(spark, dir)
        .exists(_ <= growPostFractionMax)) "grow"
    else "retrain"

  /** Per-state context the EXECUTOR needs beyond the spec itself —
    * things only the caller can supply:
    *   - `annNewDirs`: where each ANN state's retrained generation lands
    *     (the rebuild is a NEW dir by [[AnnIndexMaintainer.retrain]]'s
    *     contract; serving swaps after it returns);
    *   - `curateRuns`: the ingested-corpus view a re-curation derives its
    *     selection over (state alone holds the scan-heavy stages, the
    *     cheap map-side stages re-run over the corpus view);
    *   - `deltaCompactors`: the fold operation of each generic LSM state
    *     (the planner treats them uniformly, but folding needs the
    *     state's own schema/sidecar logic — e.g.
    *     [[SearchIndexMaintainer.compact]] rebuilds a lengths sidecar).
    */
  final case class CurateRun(ingested: DataFrame, idCol: String,
      textCol: String, width: Int, pplKeepBelow: Double = 3.43,
      tokenBudget: Long = 6000L)

  /** EXECUTE a maintenance plan — the closed operations loop over
    * [[plan]]'s decisions, the acting half of the reference's
    * threshold-maintenance idea (recathon.c:1089 doesn't just measure the
    * insert counter, it REBUILDS when it trips): one sweep measures, the
    * executor applies each non-`none` decision with the state's own
    * maintainer operation, and a second sweep proves the fleet is healthy
    * again. Actions per state kind:
    *   - shard `compact` → [[ShardMaintainer.compactTombstones]] up to the
    *     newest tombstone batch (live view bit-identical by that
    *     operation's contract);
    *   - ANN `retrain` → [[AnnIndexMaintainer.retrain]] into the caller's
    *     new-generation dir; the retrained centroids persist to
    *     `<newDir>/cents` (a non-numeric name, invisible to the `b*`/`c*`
    *     listing) and the post-sweep measures the NEW generation;
    *   - ANN `grow` (a [[annRemedy]] choice, emitted when the spec
    *     enables it) → [[AnnIndexMaintainer.grow]] in place, kNew sized
    *     by [[AnnIndexMaintainer.growKNew]]'s tail-√N rule, the union
    *     quantizer committed back to `<dir>/cents` — the closed loop
    *     executes the DELTA remedy when the planner says the delta
    *     suffices, instead of paying the corpus rewrite;
    *   - delta `compact` → the caller's compactor for that state;
    *   - curate `recurate` → [[CurateMaintainer.deriveSelection]] at the
    *     newest word-frequency batch (selection == the one-shot curate
    *     over the ingested view, baseline advances).
    * Returns (pre ∪ post sweep table with a `phase` column, post specs —
    * ANN specs re-pointed at their new generations). Idempotent in the
    * fixed point sense: a plan of all-`none` executes nothing and post ==
    * pre.
    *
    * Concurrency contract: the arms run concurrently, so each state owns
    * its dirs outright. Two specs whose dirs are equal or nested (a
    * [[SweepSpec]] root included), or an `annNewDirs` target equal to,
    * inside or around another spec's dir or target, are rejected with an
    * IllegalArgumentException before anything is measured or changed.
    * Callbacks (`deltaCompactors`) must touch only the dir they are
    * given.
    */
  def execute(spark: SparkSession, specs: Seq[StateSpec],
      annNewDirs: Map[String, String] = Map.empty,
      curateRuns: Map[String, CurateRun] = Map.empty,
      deltaCompactors: Map[String, (SparkSession, String) => Unit] =
        Map.empty): (DataFrame, Seq[StateSpec]) = {
    // each (owner, dir) pair: spec dirs and the retrain targets
    val owned = (specs.map(sp => sp.name -> sp.dir) ++ annNewDirs)
      .map { case (n, d) => n -> new java.io.File(d).getCanonicalFile.toPath }
    for (((n1, d1), i) <- owned.zipWithIndex; (n2, d2) <- owned.drop(i + 1)
        if n1 != n2 && (d1.startsWith(d2) || d2.startsWith(d1)))
      throw new IllegalArgumentException(
        s"execute: states '$n1' ($d1) and '$n2' ($d2) have equal or " +
          "nested dirs — remedies run concurrently and need disjoint ones")
    val pre = plan(spark, specs)
    val decisions = pre.select("state", "decision").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // fail FAST on a decision whose caller-supplied target is missing —
    // BEFORE any remedy acts: a mis-called execute() is a no-op instead
    // of a partial mutation, and the arms below can rely on the maps.
    specs.foreach {
      case AnnSpec(n, _, _, _, _)
          if decisions(n) == "retrain" && !annNewDirs.contains(n) =>
        throw new IllegalArgumentException(
          s"execute: ANN state '$n' decided retrain but no new-generation " +
            "dir was supplied in annNewDirs")
      case AnnPqSpec(n, _, _, _, _, _, _, _)
          if decisions(n) == "retrain" && !annNewDirs.contains(n) =>
        throw new IllegalArgumentException(
          s"execute: PQ state '$n' decided retrain but no new-generation " +
            "dir was supplied in annNewDirs")
      case DeltaSpec(n, _, _)
          if decisions(n) == "compact" && !deltaCompactors.contains(n) =>
        throw new IllegalArgumentException(
          s"execute: delta state '$n' decided compact but no compactor " +
            "was supplied in deltaCompactors")
      case CurateSpec(n, _, _)
          if decisions(n) == "recurate" && !curateRuns.contains(n) =>
        throw new IllegalArgumentException(
          s"execute: curate state '$n' decided recurate but no ingested " +
            "view was supplied in curateRuns")
      case _ => ()
    }
    // each spec's remedy acts on its OWN state dir (disjoint, checked
    // above) — overlap the arms (guide §2.6); result order is
    // index-pinned so the post plan and the returned spec seq are
    // byte-identical to the sequential run
    val postArr = new Array[StateSpec](specs.size)
    graft.Exec.inParallel(specs.zipWithIndex.map { case (sp0, i) =>
      () => postArr(i) = (sp0 match {
      case sp @ ShardSpec(n, dir, _, mans) if decisions(n) == "compact" =>
        val upTo = BatchDirs.listDirs(s"$dir/tomb", "b").map(_._1)
          .maxOption.getOrElse(-1L)
        if (upTo >= 0L) {
          if (mans.nonEmpty)
            ShardMaintainer.compactTombstonesPinAware(spark, dir, upTo, mans)
          else ShardMaintainer.compactTombstones(spark, dir, upTo)
        }
        sp
      case sp @ AnnSpec(n, dir, t, gmax, rs) if decisions(n) == "retrain" =>
        val newDir = annNewDirs(n)
        val re = AnnIndexMaintainer.retrain(spark, dir, newDir)
        graft.StateCommit.writeDir(s"$newDir/cents")(
          re.coalesce(1).write.mode("overwrite").parquet(_))
        // quantizer GENERATION alongside the live copy: horizon reads of
        // the new generation resolve their centroid set from the state
        AnnIndexMaintainer.persistCentroids(spark, newDir,
          AnnIndexMaintainer.trainedBatch(newDir), re)
        // the PRE-rebuild generation stays readable for deep horizons —
        // stamp it so the nightly sweep ([[Retention.discoverStates]]
        // family `superseded`) reclaims it once no pin holds it, instead
        // of every rebuild permanently doubling the index's footprint
        Retention.markSuperseded(dir, newDir)
        AnnSpec(n, newDir, t, gmax, rs)
      case sp @ AnnSpec(n, dir, _, _, rs) if decisions(n) == "grow" =>
        // the delta remedy the planner chose: extra centroids over the
        // drifted tail, movers-sized rewrite, SAME generation dir — the
        // state's current quantizer comes from its persisted-centroids
        // artifact and the grown union set commits back to it so
        // serving and the next ingest pick it up
        executeGrow(spark, n, dir, rs, pq = false)
        sp
      case sp @ AnnPqSpec(n, dir, t, m, kc, gmax, cbmax, rs)
          if decisions(n) == "retrain" =>
        val newDir = annNewDirs(n)
        val (cdf, cbDf) = AnnIndexMaintainer.retrainPq(spark, dir, newDir,
          m, kc, roundScale = rs)
        graft.StateCommit.writeDir(s"$newDir/cents")(
          cdf.coalesce(1).write.mode("overwrite").parquet(_))
        // the codebook is part of the PQ generation contract — persisted
        // beside the quantizer so serving resolves BOTH from the state
        graft.StateCommit.writeDir(s"$newDir/codebook")(
          cbDf.coalesce(1).write.mode("overwrite").parquet(_))
        AnnIndexMaintainer.persistCentroids(spark, newDir,
          AnnIndexMaintainer.trainedBatch(newDir), cdf)
        AnnIndexMaintainer.persistCodebook(spark, newDir,
          AnnIndexMaintainer.trainedBatch(newDir), cbDf)
        Retention.markSuperseded(dir, newDir)
        AnnPqSpec(n, newDir, t, m, kc, gmax, cbmax, rs)
      case sp @ AnnPqSpec(n, dir, _, _, _, _, _, rs)
          if decisions(n) == "grow" =>
        // movers' codes travel unchanged (non-residual PQ): the grow
        // remedy needs no codebook work, only the union quantizer commit
        executeGrow(spark, n, dir, rs, pq = true)
        sp
      case sp @ DeltaSpec(n, dir, _) if decisions(n) == "compact" =>
        deltaCompactors(n)(spark, dir)
        sp
      case sp @ CurateSpec(n, dir, _) if decisions(n) == "recurate" =>
        val c = curateRuns(n)
        val cur = BatchDirs.listDirs(s"$dir/freq", "b").map(_._1)
          .maxOption.getOrElse(
            throw new IllegalStateException(
              s"execute: curate state '$n' has no word-frequency batches"))
        CurateMaintainer.deriveSelection(c.ingested, cur, c.idCol,
          c.textCol, c.width, dir, c.pplKeepBelow, c.tokenBudget)
        sp
      case sp: RetentionSpec if decisions(sp.name) == "vacuum" =>
        // the vacuum takes the SAME keepFrom/manifests the metric
        // measured with, so it drops exactly the stale set the plan
        // reported — and the pins it was told about stay serveable
        sp.kind match {
          case "selection" => Retention.vacuumSelections(spark, sp.dir,
            sp.keepFrom, sp.manifestDirs)
          case "merges" => Retention.vacuumMergeVersions(spark, sp.dir,
            sp.keepFrom, sp.manifestDirs)
          case _ => Retention.vacuumQuantizers(spark, sp.dir,
            sp.keepFrom, sp.manifestDirs)
        }
        sp
      case sp: SweepSpec if decisions(sp.name) == "vacuum" =>
        // the acting sweep takes the SAME root + manifests the dry-run
        // metric measured with — plan and nightly-GC action agree by
        // construction, pins hold their horizons tree-wide
        Retention.sweep(spark, sp.root, sp.manifestDirs)
        sp
      case sp => sp
      })
    }: _*)
    val postSpecs: Seq[StateSpec] = postArr.toSeq
    val post = plan(spark, postSpecs)
    (pre.select(lit("pre").as("phase"), col("state"), col("metric"),
        col("value"), col("threshold"), col("decision"))
      .unionByName(post.select(lit("post").as("phase"), col("state"),
        col("metric"), col("value"), col("threshold"), col("decision"))),
      postSpecs)
  }

  /** The committed `<dir>/cents` quantizer of an ANN state. Its commits
    * go through [[graft.StateCommit.writeDir]], so a reader finds the old
    * set or the grown one at every crash point; a state with none fails
    * explicitly. */
  def servingCentsFile(dir: String): java.io.File = {
    val live = new java.io.File(graft.StateCommit.live(s"$dir/cents"))
    if (!live.exists()) throw new IllegalStateException(
      s"no persisted quantizer at $live (write the state's centroid " +
        "frame there, the retrain convention)")
    live
  }

  /** The executor's in-place grow: the state's serving quantizer comes
    * from its persisted `<dir>/cents` artifact ([[servingCentsFile]]),
    * the grown union set commits back to it (serving and the next ingest
    * pick it up), and a quantizer GENERATION lands for horizon reads. */
  private def executeGrow(spark: SparkSession, n: String, dir: String,
      rs: Int, pq: Boolean): Unit = {
    val centsPath =
      try servingCentsFile(dir)
      catch { case e: IllegalStateException =>
        throw new IllegalStateException(
          s"execute: ANN state '$n' decided grow but ${e.getMessage}")
      }
    val cents = graft.ops.Ann.ivfCentroidsFromDf(
      spark.read.parquet(centsPath.getPath))
    val kNew = AnnIndexMaintainer.growKNew(spark, dir)
    val union =
      if (pq) AnnIndexMaintainer.growPq(spark, dir, cents, kNew,
        roundScale = rs)
      else AnnIndexMaintainer.grow(spark, dir, cents, kNew,
        roundScale = rs)
    graft.StateCommit.writeDir(centsPath.getPath)(
      union.coalesce(1).write.mode("overwrite").parquet(_))
    AnnIndexMaintainer.persistCentroids(spark, dir,
      AnnIndexMaintainer.trainedBatch(dir), union)
  }

  /** The decision sweep: one row per state, value measured by the
    * state-kind's reader above, decision = threshold comparison. Output
    * is a bounded driver-built frame (states, not data, set its size).
    */
  def plan(spark: SparkSession, specs: Seq[StateSpec]): DataFrame = {
    import spark.implicits._
    // each spec's metric is a read-only probe of its OWN state — overlap
    // them (guide §2.6) instead of paying one probe-job latency per
    // state; row order (and so the plan table) is index-pinned
    val rowsArr =
      new Array[(String, String, Double, Double, String)](specs.size)
    graft.Exec.inParallel(specs.zipWithIndex.map { case (sp, i) =>
      () => rowsArr(i) = metricOf(spark, sp)
    }: _*)
    rowsArr.toSeq.toDF("state", "metric", "value", "threshold", "decision")
  }

  private def metricOf(spark: SparkSession, spec: StateSpec)
      : (String, String, Double, Double, String) = {
    val one = Seq(spec).map {
      case ShardSpec(n, dir, t, _) =>
        val v = ShardMaintainer.deadFraction(spark, dir)
        (n, "dead_fraction", v, t, if (v >= t) "compact" else "none")
      case AnnSpec(n, dir, t, gmax, _) =>
        val v = AnnIndexMaintainer.driftRatio(spark, dir).getOrElse(0.0)
        val decision =
          if (v < t) "none"
          else if (gmax > 0.0) annRemedy(spark, dir, t, gmax)
          else "retrain"
        (n, "drift_ratio", v, t, decision)
      case AnnPqSpec(n, dir, t, _, _, gmax, cbmax, _) =>
        // the coarse signal decides WHETHER, the recon signal refines
        // WHICH remedy ([[pqRemedy]]); codes are invisible to the metric
        val v = AnnIndexMaintainer.driftRatio(spark, dir).getOrElse(0.0)
        val decision =
          if (v < t) "none"
          else if (gmax > 0.0) pqRemedy(spark, dir, t, gmax, cbmax)
          else "retrain"
        (n, "drift_ratio", v, t, decision)
      case DeltaSpec(n, dir, t) =>
        val v = deltaFraction(spark, dir)
        (n, "delta_fraction", v, t, if (v >= t) "compact" else "none")
      case CurateSpec(n, dir, t) =>
        val v = curateKlDrift(spark, dir)
        (n, "kl_drift", v, t, if (v >= t) "recurate" else "none")
      case sp: RetentionSpec =>
        val v = staleOf(spark, sp).size.toDouble
        (sp.name, "stale_generations", v, sp.threshold,
          if (v >= sp.threshold) "vacuum" else "none")
      case SweepSpec(n, root, t, mans) =>
        // held-pin audit rows report nothing droppable — counting them
        // would fire a vacuum that by construction cannot reclaim them
        val v = Retention.sweep(spark, root, mans, dryRun = true)
          .where(col("dropped_id") =!= Retention.HeldSentinel)
          .count().toDouble
        (n, "stale_generations", v, t, if (v >= t) "vacuum" else "none")
    }
    one.head
  }
}
