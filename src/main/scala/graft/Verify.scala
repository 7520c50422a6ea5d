package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * CRASH-DURABLE (round 15): round 14's driver run timed out mid-loop and
  * left `{}` as the round's whole correctness artifact, because this main
  * wrote `oracle_sql.json` only AFTER all 279 queries. Now:
  *   1. `oracle_sql.json` is written FIRST — it is pure string assembly
  *      (the template substitutions are path arithmetic, no Spark), so
  *      the driver's DuckDB compare can score whatever parquet landed
  *      even if the JVM dies on query 1;
  *   2. `_errors.json` is rewritten after EVERY failure (atomic
  *      tmp+rename), not once at the end;
  *   3. queries run CHEAPEST-FIRST, ordered by the committed
  *      BENCH_FULL.json per-gate seconds when that file parses (name
  *      order otherwise) — a timeout at any point preserves the maximum
  *      number of scored gates;
  *   4. a per-query progress line goes to stderr, so a killed run's log
  *      shows exactly how far it got.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated name-prefix filter (local fast
    // checks of one gate family; the driver always runs the full set)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      args.drop(2).headOption.map(_.split(',').toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeJson(path: String, entries: Iterable[(String, String)]): Unit = {
      // committed, not truncated in place: these files are rewritten
      // mid-loop, and a kill inside the write must not leave a partial
      StateCommit.writeFile(path, entries
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // oracle_sql.json FIRST (before the SparkSession even exists).
    // Late-bound artifact paths: some oracles read parquet the gate itself
    // persists (e.g. SVD factor tables), at a location keyed by the sf dir
    // only known here.
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql
      .filter(e => wanted(e._1))
      .map { case (k, v) =>
        k -> v
          .replace("__SVD_FACTORS__",
            Fixtures.dir(RecQueries.SvdFactors, sfDir))
          .replace("__ANN_ARTIFACTS__",
            Fixtures.dir(PipelineQueries.AnnArtifacts, sfDir))
          .replace("__BPE_ARTIFACTS__",
            Fixtures.dir(PipelineQueries.BpeArtifacts, sfDir))
          .replace("__NEG_DRAWS__", Fixtures.dir(RecQueries.NegDraws, sfDir))
      })
    writeJson(s"$outDir/_errors.json", Nil)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata events.ts is TIMESTAMP(NANOS); read as long ns since epoch
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // codegen class cache sized for a 279-gate run (the Bench note)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // cheapest-first: per-gate seconds from the committed bench artifact
    // (cwd is the repo when the driver runs `sbt runMain`). Unknown names
    // (a gate added after the last bench) sort at their family's median
    // rather than the front — a brand-new expensive gate must not push
    // 200 known-cheap ones past the timeout.
    val cost: Map[String, Double] = benchCosts("BENCH_FULL.json")
    val med = if (cost.isEmpty) 0.0
      else cost.values.toSeq.sorted.apply(cost.size / 2)
    val ordered = SparkEntry.queries.filter(e => wanted(e._1)).toSeq
      .sortBy { case (name, _) => (cost.getOrElse(name, med), name) }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val n = ordered.size
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] ${i + 1}/$n $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${i + 1}/$n $name FAILED: ${e.getMessage}")
        // failures as a first-class artifact, flushed as they land: a
        // query that throws otherwise just VANISHES from the correctness
        // report (no parquet dir → no row) — and a later timeout must not
        // take the already-collected failure list with it
        errors += name -> String.valueOf(e.getMessage).take(500)
        writeJson(s"$outDir/_errors.json", errors)
      }
    }
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: " +
        errors.keys.mkString(","))
    spark.stop()
  }

  /** Per-gate seconds from a committed BENCH_FULL.json — the `"queries"`
    * object is flat `"name":sec` pairs, extracted with a scan rather than
    * a JSON library (none on the classpath); any parse trouble degrades
    * to an empty map (name-ordered run), never a crash.
    */
  private[graft] def benchCosts(path: String): Map[String, Double] =
    try {
      val txt = Files.readString(Paths.get(path))
      val start = txt.indexOf("\"queries\":{")
      if (start < 0) Map.empty
      else {
        val body = txt.substring(start + 11, txt.indexOf('}', start))
        "\"([^\"]+)\":([0-9.eE+-]+)".r.findAllMatchIn(body)
          .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _))
          .toMap
      }
    } catch { case _: Throwable => Map.empty }
}
