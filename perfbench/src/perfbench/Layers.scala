package perfbench

/** Per-layer metrics of the traced slices. Every workload reports the same
  * names; a layer the workload never calls reports 0. Per-op figures are
  * means over the window's read ops; module call timings are medians.
  */
final case class Layers(h: Harness, snap: Tracer.Snapshot, untraced: Main.Window,
    traced: Main.Window, gcMs: Double, coldSetupS: Double) {

  private val reads = h.opsWithIds("traced").filter(_._2.kind == "read")

  private def perRead(f: ((Long, OpRecord)) => Double): Double =
    if (reads.isEmpty) 0.0 else reads.map(f).sum / reads.size

  private val spark = reads.map { case (id, r) =>
    id -> Tracer.opSpark(snap, id, h.epochMs(r.start), h.epochMs(r.end))
  }.toMap

  private def med(name: String, windows: String*): Double =
    Stats.median(h.samples(name, windows: _*)).getOrElse(0.0)

  private val spans = Tracer.assemble(h.spans, snap)
  private val selfOf = Stats.selfTimes(spans)
  private val readIds = reads.map(_._1).toSet

  /** Mean self time per read op of the spans named `name`. */
  private def self(name: String): Double =
    if (reads.isEmpty) 0.0
    else spans.filter(s => s.name == name && readIds.contains(s.op))
      .map(s => selfOf(s.id)).sum / reads.size

  def metrics: Seq[(String, Double, String)] = {
    val sp = (f: Tracer.OpSpark => Double) => perRead { case (id, _) => f(spark(id)) }
    val rowsOut = reads.map { case (id, _) => h.opStat(id, "rows_out") }.sum
    val all = Main.Windows.flatMap(h.ops)
    val counts = Stats.counts(all).map { case (k, n, f) => k -> (n, f) }.toMap
    val p50 = (w: Main.Window) => Stats.median(okReads(w)).getOrElse(0.0)
    Harness.PhaseMetrics.map { case (_, n) => (n, perRead { case (id, _) => h.opStat(id, n) }, "ms") } ++
    Seq(
      ("catalyst.codegen_compiles", perRead { case (id, _) => h.opStat(id, "codegen_compiles") },
        "count"),
      ("spark.jobs", sp(_.jobs), "count"),
      ("spark.stages", sp(_.stages), "count"),
      ("spark.tasks", sp(_.tasks), "count"),
      ("spark.idle_ms", sp(_.idleMs), "ms"),
      ("spark.task_run_ms", sp(_.taskRunMs), "ms"),
      ("spark.task_cpu_ms", sp(_.taskCpuMs), "ms"),
      ("spark.shuffle_bytes", sp(_.shuffleBytes), "bytes"),
      ("spark.spill_bytes", sp(_.spillBytes), "bytes"),
      ("spark.rows_read_per_row_out",
        if (rowsOut == 0) 0.0 else spark.values.map(_.recordsRead).sum / rowsOut, "ratio")) ++
    Layers.Methods.map(m => (s"recdb.create_s.$m", med(s"recdb.create_s.$m", "setup"), "s")) ++
    Seq(
      ("recdb.materialize_s", med("recdb.materialize_s", "setup", "traced"), "s"),
      ("recdb.append_ms", med("recdb.append_ms", "traced"), "ms"),
      ("recdb.rebuild_s", med("recdb.rebuild_s", "traced"), "s")) ++
    RegressionMix.ShapeNames.map(s => (s"query_ms.$s", med(s"query_ms.$s", "traced"), "ms")) ++
    Seq(
      ("streaming.search_batch_ms", med("streaming.search_batch_ms", "traced"), "ms"),
      ("streaming.ann_batch_ms", med("streaming.ann_batch_ms", "traced"), "ms"),
      ("streaming.compact_s", med("streaming.compact_s", "traced"), "s"),
      ("streaming.bm25_ms", med("streaming.bm25_ms", "traced"), "ms"),
      ("streaming.knn_ms", med("streaming.knn_ms", "traced"), "ms"),
      ("ops.rrf_ms", med("ops.rrf_ms", "traced"), "ms"),
      ("ops.embed_ms", med("ops.embed_ms", "traced"), "ms"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("jvm.heap_mb", h.peakHeapMb, "MB"),
      ("jvm.jit_ms", perRead { case (id, _) => h.opStat(id, "jit_ms") }, "ms"),
      ("bench.cold_setup_s", coldSetupS, "s"),
      ("bench.writer_lag_ms", Stats.median(traced.ops.filter(_.kind == "write")
        .map(_.lagMs)).getOrElse(0.0), "ms")) ++
    Layers.Kinds.flatMap { k =>
      val (n, f) = counts.getOrElse(k, (0, 0))
      Seq((s"bench.attempted.$k", n.toDouble, "count"), (s"bench.failed.$k", f.toDouble, "count"))
    } ++
    Seq(
      ("trace.self_op_ms", self("op.read"), "ms"),
      ("trace.self_execute_ms", self("execute"), "ms"),
      ("trace.self_job_ms", self("spark.job"), "ms"),
      ("trace.query_p50_untraced_ms", p50(untraced), "ms"),
      ("trace.query_p50_traced_ms", p50(traced), "ms"),
      ("trace.overhead_pct",
        if (p50(untraced) == 0) 0.0 else (p50(traced) / p50(untraced) - 1) * 100, "%"))
  }

  /** The tracer's overhead on the read p50, in percent, with whether it
    * exceeds the untraced reads' own spread; within it, it is unresolved.
    */
  def overheadReport: String =
    (Stats.median(okReads(untraced)), Stats.median(okReads(traced)),
        Stats.spread(okReads(untraced))) match {
      case (Some(a), Some(b), Some(noise)) =>
        val (pct, noisePct) = ((b / a - 1) * 100, noise * 100)
        f"tracer overhead on the read p50: $pct%.1f %%, " +
          (if (math.abs(pct) <= noisePct) "unresolved: within" else "beyond") +
          f" the untraced reads' spread of $noisePct%.1f %%"

      case _ => "tracer overhead: unresolved (fewer than four successful reads per side)"
    }

  /** Latencies of a window's successful reads. The tracer's cost shows on
    * these; failures would make both medians infinite on a workload whose
    * reads fail under writers.
    */
  private def okReads(w: Main.Window): Seq[Double] = w.reads.filter(_.ok).map(_.latencyMs)

  /** The span tree, one JSON object per line. */
  def spanLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Json.str(s.name)}, """ +
      s""""start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}, """ +
      s""""self_ms": ${Json.num(selfOf(s.id))}}"""
  }
}

object Layers {
  val Methods: Seq[String] = Seq("itemcoscf", "itempearcf", "usercoscf", "userpearcf", "svd")
  val Kinds: Seq[String] = Seq("read", "write", "refresh", "check")
}
