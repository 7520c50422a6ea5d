package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CROSS-STATE consistent snapshots — the training-run version object.
  * Each maintained state time-travels on its own `batch_id` axis
  * (shards, curation selection, postings, ANN inverted file); what a
  * reproducibility audit actually needs is all four PINNED TOGETHER:
  * "version 7 of the training run" = the tuple of horizons whose as-of
  * reads compose to the exact historical training input. A manifest is
  * a tiny parquet of (state, kind, dir, as_of, id_col) rows committed by
  * [[graft.StateCommit.writeDir]] — the same discipline as every sidecar —
  * and [[readState]] dispatches each row to its state's own as-of
  * reader.
  *
  * [[pin]] VALIDATES resolvability at pin time (a shard horizon below
  * the sealed compaction floor, a selection horizon before the first
  * firing, a missing state dir — each fails the pin with the
  * maintainer's own error), so a manifest that exists is a manifest
  * that serves. [[verify]] re-checks the same conditions later — the
  * operational audit that catches a compaction that has since sealed
  * history out from under a pinned run (the seal contract says compact
  * only below your oldest pinned version; verify is how an operator
  * proves that held).
  *
  * Kinds: `shards` ([[ShardMaintainer.readShardsAsOf]]), `curate`
  * ([[CurateMaintainer.selectionAsOf]]), `postings`
  * ([[SearchIndexMaintainer.readPostings]] sliced on the row stamp),
  * `ann` ([[AnnIndexMaintainer.readIndexAsOf]] — horizon-aware through
  * quantizer growths), `annpq` ([[AnnIndexMaintainer.readIndexPqAsOf]],
  * the PQ-coded twin with codes + residual norms pinned too), `neardup`
  * ([[NearDupMaintainer.indexAsOf]], the LSH signature index),
  * `quantizer` (the `qg<batch>/` centroid generation serving at the
  * horizon — [[AnnIndexMaintainer.persistCentroids]]).
  */
object SnapshotManifest {

  final case class Pin(state: String, kind: String, dir: String,
      asOf: Long, idCol: String = "")

  private val manifestSchema: StructType = StructType(Seq(
    StructField("state", StringType),
    StructField("kind", StringType),
    StructField("dir", StringType),
    StructField("as_of", LongType),
    StructField("id_col", StringType)))

  private val kinds =
    Set("shards", "curate", "postings", "ann", "annpq", "neardup",
      "quantizer", "codebook", "bpe")

  /** Write the manifest (a [[graft.StateCommit.writeDir]] commit) after
    * validating every pin RESOLVES — failing at pin time, not at some
    * later read. Duplicate state names are rejected. A re-pin swaps the
    * manifest whole: [[pins]] reads the old one or the new one at every
    * crash point, never none.
    */
  def pin(spark: SparkSession, pins: Seq[Pin], manifestDir: String): Unit = {
    require(pins.nonEmpty, "pin: empty manifest")
    require(pins.map(_.state).distinct.size == pins.size,
      s"pin: duplicate state names in ${pins.map(_.state)}")
    // all-digit state names are rejected at pin time: GRAFT_PACK
    // disambiguates its explicit and manifest forms by whether the
    // second argument is an integer, so a pin literally named '1'
    // could never be addressed through SQL — it would always parse as
    // an explicit selection horizon
    pins.foreach(p => require(!p.state.trim.matches("-?\\d+"),
      s"pin: state name '${p.state}' is all digits — GRAFT_PACK " +
        "reads an integer second argument as an explicit horizon, so " +
        "a numeric pin name would be unaddressable; pick a " +
        "non-numeric name"))
    // each validation is a read-only emptiness probe on its own state —
    // overlap them (guide §2.6) instead of paying one sequential
    // probe-job latency per pin
    graft.Exec.inParallel(pins.map(p => () => validate(spark, p)): _*)
    import spark.implicits._
    graft.StateCommit.writeDir(manifestDir)(
      pins.map(p => (p.state, p.kind, p.dir, p.asOf, p.idCol))
        .toDF("state", "kind", "dir", "as_of", "id_col")
        .coalesce(1).write.mode("overwrite").parquet(_))
  }

  /** Every pin must resolve at pin/verify time, and the index-slice
    * kinds (`ann`, `annpq`, `postings`, `neardup` — whose readers happily serve
    * an empty frame) must additionally be NON-EMPTY at the horizon: an asOf
    * below the state's first batch would otherwise pin successfully and
    * silently serve an empty index, breaking the "a manifest that
    * exists is a manifest that serves" contract the shard/curate
    * readers already enforce by throwing.
    */
  private def validate(spark: SparkSession, p: Pin): Unit = {
    require(kinds.contains(p.kind),
      s"pin: unknown state kind '${p.kind}' (expected one of $kinds)")
    // emptiness probe, NOT a slice count: limit(1) stops at the first
    // surviving row, so pin()/verify() of a corpus-sized ann/postings
    // state stays O(first partition with a match) instead of a full
    // horizon scan per pin per call (any unresolvable horizon still
    // throws here, from the state's own as-of reader)
    val n = resolve(spark, p).limit(1).count()
    require(n > 0L || p.kind == "shards" || p.kind == "curate",
      s"pin: state '${p.state}' (${p.kind}) resolves to an EMPTY frame " +
        s"at horizon ${p.asOf} — the horizon predates the state's first " +
        "batch")
  }

  def pins(spark: SparkSession, manifestDir: String): Seq[Pin] = {
    require(new java.io.File(graft.StateCommit.live(manifestDir)).exists(),
      s"no manifest at $manifestDir")
    spark.read.schema(manifestSchema).parquet(manifestDir)
      .collect()
      .map(r => Pin(r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_.state).toSeq
  }

  /** The pinned historical view of one state, re-read from CURRENT
    * files through the state's own as-of reader. */
  def readState(spark: SparkSession, manifestDir: String,
      state: String): DataFrame = {
    val p = pins(spark, manifestDir).find(_.state == state).getOrElse(
      throw new IllegalArgumentException(
        s"manifest $manifestDir has no state '$state'"))
    resolve(spark, p)
  }

  /** Re-check that every pinned horizon still resolves (e.g. after later
    * compactions): one row per pin — (state, kind, as_of, ok, reason).
    */
  def verify(spark: SparkSession, manifestDir: String): DataFrame = {
    import spark.implicits._
    // read-only per-pin probes — overlap them (guide §2.6), row order
    // index-pinned so the audit table is byte-identical
    val ps = pins(spark, manifestDir)
    val out = new Array[(String, String, Long, Boolean, String)](ps.size)
    graft.Exec.inParallel(ps.zipWithIndex.map { case (p, i) =>
      () => {
        val err =
          try { validate(spark, p); "" }
          catch {
            case e: Exception => Option(e.getMessage).getOrElse("error") }
        out(i) = (p.state, p.kind, p.asOf, err.isEmpty, err)
      }
    }: _*)
    out.toSeq.toDF("state", "kind", "as_of", "ok", "reason")
  }

  private def resolve(spark: SparkSession, p: Pin): DataFrame = p.kind match {
    case "shards" => ShardMaintainer.readShardsAsOf(spark, p.dir, p.asOf)
    case "curate" => CurateMaintainer.selectionAsOf(spark, p.dir, p.asOf)
    case "postings" =>
      require(new java.io.File(p.dir).exists(),
        s"postings state dir ${p.dir} does not exist")
      val idCol = if (p.idCol.nonEmpty) p.idCol else "doc_id"
      SearchIndexMaintainer.readPostings(spark, idCol, p.dir)
        .where(col("batch_id") <= p.asOf)
        .drop("batch_id")
    case "ann" =>
      require(new java.io.File(p.dir).exists(),
        s"ann index dir ${p.dir} does not exist")
      // the state's OWN horizon-aware reader: readIndexAsOf applies the
      // grow() move-exclusion sidecars at the pinned horizon, exactly
      // like search/searchAsOf — a raw batch_id slice would return BOTH
      // copies of every row moved by a growth at or below the pin
      AnnIndexMaintainer.readIndexAsOf(spark, p.dir, p.asOf)
        .drop("batch_id")
    case "annpq" =>
      require(new java.io.File(p.dir).exists(),
        s"annpq index dir ${p.dir} does not exist")
      // the PQ-coded twin: same horizon-aware move exclusion, with the
      // codes + residual norms riding along — a reproducibility audit of
      // a compressed index needs the exact (id, codes) membership, since
      // the ADC shortlist is a function of the codes, not just the rows
      AnnIndexMaintainer.readIndexPqAsOf(spark, p.dir, p.asOf)
        .drop("batch_id")
    case "neardup" =>
      require(new java.io.File(p.dir).exists(),
        s"neardup signature-index dir ${p.dir} does not exist")
      NearDupMaintainer.indexAsOf(spark, p.dir, p.asOf).drop("batch_id")
    case "quantizer" =>
      // the centroid GENERATION serving at the horizon — a training-run
      // audit pins the model artifact next to the data it indexed
      // (growth/retrain change it; rows alone don't reproduce a probe)
      val gens = BatchDirs.listDirs(p.dir, "qg").filter(_._1 <= p.asOf)
      require(gens.nonEmpty,
        s"no quantizer generation at or below batch ${p.asOf} in " +
          s"${p.dir} (persistCentroids had not run at that horizon)")
      spark.read.parquet(gens.last._2)
    case "bpe" =>
      // the TOKENIZER version serving at the horizon — every token count
      // in a pinned run depends on it, so the audit pins the merges
      // table next to the shards it tokenized
      // ([[BpeMaintainer.mergesAsOf]]; errors below the first stamped
      // version or a retention floor)
      BpeMaintainer.mergesAsOfDf(spark, p.dir, p.asOf)
    case "codebook" =>
      // the PQ state's second model artifact: the codebook generation
      // serving at the horizon ([[AnnIndexMaintainer.persistCodebook]])
      val gens = BatchDirs.listDirs(p.dir, "cbg").filter(_._1 <= p.asOf)
      require(gens.nonEmpty,
        s"no codebook generation at or below batch ${p.asOf} in " +
          s"${p.dir} (persistCodebook had not run at that horizon)")
      spark.read.parquet(gens.last._2)
    case other => throw new IllegalArgumentException(
      s"unknown state kind '$other'")
  }
}
