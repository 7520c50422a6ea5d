package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedHaving, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, LogicalPlan, SubqueryAlias, UnresolvedWith, WithWindowDefinition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.recdb.{EventCols, RecCatalog, Recommender}

/** The RecDB SQL surface, re-expressed as a Spark session extension
  * (SURVEY.md §7.3 / §3.1):
  *
  *   SELECT … FROM <from_list> RECOMMEND <item> TO <user> ON <event>
  *     USING <method> [WHERE …] [ORDER BY …] [LIMIT n]       (gram.y:8934-8944)
  *   CREATE RECOMMENDER <name> ON <tbl> USERS FROM <u> ITEMS FROM <i>
  *     EVENTS FROM <e> [USING <method>]                      (gram.y:2444-2474)
  *   DROP RECOMMENDER <name>                                 (gram.y:2482-2488)
  *
  * The from_list may hold several comma-joined tables with aliases and the
  * clause columns may be alias-qualified — the reference regression file's
  * join form (recdb_regression_test.sql:39,41) parses verbatim; the events
  * table is located by matching the clause qualifiers against the FROM list,
  * or by probing which table holds all three clause columns when they are
  * unqualified (getEventsTable, parse_rec.c:187-297, same error messages).
  *
  * PARSING IS PURE (SURVEY §7.3 design, round-4 rework): the injected parser
  * only REWRITES the statement text — the events-table entry is replaced by a
  * placeholder relation name and the clause's parameters are recorded in a
  * registry — then delegates to the stock parser. An injected RESOLUTION RULE
  * ([[ResolveRecommend]]) replaces the placeholder with the scoring plan
  * during analysis. Consequences:
  *   - EXPLAIN of a RECOMMEND query plans but never executes scoring; on the
  *     materialized (catalog-hit) path the strategy pick reads CREATE-time
  *     stats from the catalog, so EXPLAIN runs ZERO Spark jobs (the legacy
  *     `RECOMMEND(k)` form over a view loads the view's resident index at
  *     the first analysis that reads a view version, once);
  *   - a RECOMMEND keyword inside a string literal cannot trigger the clause
  *     (literals are masked before the clause patterns run);
  *   - no temp views are registered — the splice is a plan substitution.
  * The R18 query-counter bump happens at analysis time; the reference bumps
  * it in ExecInitRecScan (execRecommend.c:831), which PostgreSQL also runs
  * for plain EXPLAIN, so the observable behavior matches.
  *
  * Statement-level clause validation mirrors validateClauses
  * (parse_rec.c:119-157): DISTINCT / GROUP BY / HAVING / WINDOW / WITH on
  * the query block carrying RECOMMEND are rejected with the reference's
  * error messages. Synthesized-tuple quirks preserved: the predicted score
  * lands in the event column and every other column of the events table
  * reads 0 (§2.3 #2, execRecommend.c:398-405); a materialized recommender
  * returns only the three clause columns (§2.3 #3).
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    e.injectResolutionRule(session => new ResolveRecommend(session))
    e.injectPlannerStrategy(_ => new GraftActionStrategy)
    GraftSql.nativeFunctions.foreach(e.injectFunction)
  }
}

object GraftSql {
  val CatalogDirKey = "spark.graft.catalogDir"
  val ModelsDirKey = "spark.graft.modelsDir"

  /** The engine's native codegen expressions as SQL functions, so the pure
    * SQL surface reaches them too:
    *   graft_word_shingles(text, n), graft_simhash60(text),
    *   graft_dot(a, b), graft_dense_from_entries(entries, dims).
    * Int parameters must be literals (they parameterize codegen).
    */
  val nativeFunctions: Seq[(FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] = {
    import graft.functions.{DenseFromEntries, DotProduct, SimHash60, WordShingles}
    def litInt(e: Expression, fn: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: expected an integer literal, got $other")
    }
    def info(name: String, usage: String) =
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.functions", name, usage)
    Seq(
      (FunctionIdentifier("graft_word_shingles"),
        info("graft_word_shingles", "distinct word n-grams of split-on-space text"),
        (args: Seq[Expression]) => args match {
          case Seq(text, n) => WordShingles(text, litInt(n, "graft_word_shingles"))
          case _ => throw new IllegalArgumentException(
            "graft_word_shingles(text, n) takes 2 arguments")
        }),
      (FunctionIdentifier("graft_simhash60"),
        info("graft_simhash60", "60-bit SimHash signature of text"),
        (args: Seq[Expression]) => args match {
          case Seq(text) => SimHash60(text)
          case _ => throw new IllegalArgumentException(
            "graft_simhash60(text) takes 1 argument")
        }),
      (FunctionIdentifier("graft_dot"),
        info("graft_dot", "dense dot product of two ARRAY<DOUBLE>"),
        (args: Seq[Expression]) => args match {
          case Seq(a, b) => DotProduct(a, b)
          case _ => throw new IllegalArgumentException(
            "graft_dot(a, b) takes 2 arguments")
        }),
      (FunctionIdentifier("graft_dense_from_entries"),
        info("graft_dense_from_entries",
          "scatter ARRAY<STRUCT<i INT, v DOUBLE>> into a dense vector"),
        (args: Seq[Expression]) => args match {
          case Seq(entries, dims) =>
            DenseFromEntries(entries, litInt(dims, "graft_dense_from_entries"))
          case _ => throw new IllegalArgumentException(
            "graft_dense_from_entries(entries, dims) takes 2 arguments")
        }),
      (FunctionIdentifier("graft_nfc"),
        info("graft_nfc", "Unicode NFC normalization"),
        (args: Seq[Expression]) => args match {
          case Seq(text) => graft.functions.NfcNormalize(text)
          case _ => throw new IllegalArgumentException(
            "graft_nfc(text) takes 1 argument")
        }),
      (FunctionIdentifier("graft_fold_accents"),
        info("graft_fold_accents", "NFD accent-mark fold (café → cafe)"),
        (args: Seq[Expression]) => args match {
          case Seq(text) => graft.functions.FoldAccents(text)
          case _ => throw new IllegalArgumentException(
            "graft_fold_accents(text) takes 1 argument")
        }),
      (FunctionIdentifier("graft_char_shingles"),
        info("graft_char_shingles", "distinct character n-grams of text"),
        (args: Seq[Expression]) => args match {
          case Seq(text, n) =>
            graft.functions.CharShingles(text, litInt(n, "graft_char_shingles"))
          case _ => throw new IllegalArgumentException(
            "graft_char_shingles(text, n) takes 2 arguments")
        }),
      (FunctionIdentifier("graft_char_entropy"),
        info("graft_char_entropy", "Shannon entropy of the codepoint distribution"),
        (args: Seq[Expression]) => args match {
          case Seq(text) => graft.functions.CharEntropy(text)
          case _ => throw new IllegalArgumentException(
            "graft_char_entropy(text) takes 1 argument")
        })) ++ columnFunctions
  }

  /** The Column-composed pipeline operators as SQL functions: each builds
    * the SAME Catalyst expression tree the DataFrame API builds (the
    * Column wrapper is unwrapped around the call arguments), so the SQL
    * surface reaches the whole scalar pipeline vocabulary with zero
    * duplicated logic.
    */
  private def columnFunctions: Seq[(FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.ColumnShim
    def info(name: String, usage: String) =
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.ops", name, usage)
    def unary(name: String, usage: String, f: Column => Column) =
      (FunctionIdentifier(name), info(name, usage),
        (args: Seq[Expression]) => args match {
          case Seq(a) => ColumnShim.expressionNow(f(ColumnShim.column(a)))
          case _ => throw new IllegalArgumentException(
            s"$name(text) takes 1 argument")
        })
    Seq(
      unary("graft_quality", "rule-based quality score in [0,1]",
        graft.ops.TextOps.qualityScore),
      unary("graft_langid", "n-gram-heuristic language id",
        graft.ops.TextOps.langId),
      unary("graft_fingerprint", "polynomial content fingerprint (mod 1e9+7)",
        graft.ops.TextOps.fingerprint),
      unary("graft_normalize", "NFC + whitespace-collapse + trim",
        graft.ops.TextOps.normalizeText),
      unary("graft_redact", "email/long-digit PII redaction",
        graft.ops.TextOps.redactPii),
      unary("graft_extract_html", "HTML tag/script strip + entity decode",
        graft.ops.TextOps.extractHtmlText))
  }

  def catalog(session: SparkSession): RecCatalog =
    new RecCatalog(session.conf.get(CatalogDirKey, "/tmp/graft/catalog"))
  def modelsDir(session: SparkSession): String =
    session.conf.get(ModelsDirKey, "/tmp/graft/models")

  // ---- parse-time clause recognition (pure: text only) ----

  /** One entry of a comma-joined FROM list: `tbl [AS] [alias]`. */
  private[sql] final case class FromEntry(table: String, alias: Option[String])

  /** What the parser recorded for one RECOMMEND statement; resolved into a
    * scoring plan by [[ResolveRecommend]] at analysis time.
    */
  sealed trait RecSpec
  final case class RecommendSpec(table: String, alias: Option[String],
      user: String, item: String, event: String, method: String,
      wherePart: Option[String]) extends RecSpec
  final case class LegacyRecSpec(recName: String, k: Int, userCol: String,
      userId: Long) extends RecSpec

  /** A maintained-state read lifted to SQL — the time-travel surface over
    * the persistent streaming states, so reproducibility audits are
    * writable by a SQL-only user (the CURATE lifting applied to the
    * version axis):
    *
    *   GRAFT_SHARDS('<dir>')                  [VERSION AS OF <batch>]
    *   GRAFT_SELECTION('<stateDir>')          [VERSION AS OF <batch>]
    *   GRAFT_BM25('<stateDir>', '<terms>', k) [VERSION AS OF <batch>]
    *   GRAFT_KNN('<indexDir>', '<centroids parquet>', <queryView>, k)
    *                                          [VERSION AS OF <batch>]
    *   GRAFT_KNN('<indexDir>', '<centroids parquet>',
    *             '<id>:<v1> <v2> ...; <id>:...', k)   (inline vectors —
    *                                          no pre-registered view)
    *   GRAFT_KNN('<indexDir>', '<centroids parquet>',
    *             (SELECT id, vec FROM ...), k)   (subquery vectors — may
    *                                          itself read GRAFT_* state)
    *   GRAFT_KNN('<indexDir>', 'auto', ...)   (quantizer resolved from
    *                                          the state's qg<batch>/
    *                                          generations at the horizon)
    *   GRAFT_KNNPQ('<indexDir>', '<centroids parquet>',
    *               '<codebook parquet>', <q>, k)  [VERSION AS OF <batch>]
    *                                          (the compressed index: ADC
    *                                          shortlist + exact rerank;
    *                                          'auto' for either artifact
    *                                          resolves its qg<b>/cbg<b>
    *                                          generation at the horizon)
    *   GRAFT_SNAPSHOT('<manifestDir>', '<state>')   (horizon from the pin)
    *   GRAFT_MERGES('<modelDir>')             [VERSION AS OF <batch>]
    *                                          (the tokenizer model: merge
    *                                          rules serving at the horizon)
    *   GRAFT_VACUUM('<stateDir>', 'selection'|'quantizer'|'merges'
    *               [, keepFrom[, '<manifest>;...']])  (ACTION: pin-aware
    *                                          generation GC; returns the
    *                                          dropped generation ids)
    *   GRAFT_PACK('<curateStateDir>', <selAsOf>, '<mergesModelDir>',
    *     <mergesAsOf>[, <seqLen>[, <epochs>]]) (the pinned-tokenizer
    *                                          packed training epochs)
    *   GRAFT_PACK('<manifestDir>', '<curatePin>', '<bpePin>'[, <seqLen>
    *     [, <epochs>]])                       (same, horizons resolved
    *                                          from the manifest's pins)
    *   GRAFT_RETIRE('<stateDir>', '<manifest>;...') (ACTION, deferred:
    *                                          pin-guarded whole-dir
    *                                          generation retirement)
    *   GRAFT_SWEEP('<root>'[, '<manifest>;...'[, 'dry']])  (ACTION: the
    *                                          discovery GC — walk the
    *                                          root, vacuum every
    *                                          recognized state; 'dry'
    *                                          only measures)
    *
    * Each appears as a relation in FROM; without the version clause it
    * reads the live state. The sealed-history contracts surface
    * unchanged: an as-of below a shard layout's compaction floor, or
    * before a curation state's first firing, throws the maintainer's own
    * error through SQL.
    */
  final case class StateReadSpec(kind: String, args: Seq[String],
      asOf: Option[Long]) extends RecSpec

  /** Placeholder-relation registry, parse-side producer / analysis-side
    * consumer. Keys are content hashes of the spec, so re-issuing a statement
    * reuses its slot; LRU-bounded for long-lived sessions.
    */
  private val specs: java.util.Map[String, RecSpec] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, RecSpec](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, RecSpec]): Boolean = size() > 256
      })

  /** 'auto': resolve the quantizer GENERATION serving at the read horizon
    * from the state's own `qg<batch>/` artifacts
    * ([[graft.streaming.AnnIndexMaintainer.persistCentroids]]) — a
    * VERSION AS OF probe then picks both the row slice and the centroid
    * set from the horizon alone. Otherwise an explicit parquet path. */
  private def resolveCents(session: SparkSession, idxDir: String,
      centsDir: String, asOf: Option[Long]): Array[Array[Double]] =
    if (centsDir.equalsIgnoreCase("auto"))
      graft.streaming.AnnIndexMaintainer.centroidsAsOf(session, idxDir,
        asOf.getOrElse(Long.MaxValue))
    else graft.ops.Ann.ivfCentroidsFromDf(session.read.parquet(centsDir))

  /** Query vectors for the KNN relations: a parenthesized SUBQUERY
    * producing (id, vector) rows — runs through session.sql, so it may
    * itself read GRAFT_* relations — or an INLINE literal
    * ('id:v1 v2 ...; id:...'), or a view/table name with (id, vector)
    * columns. '(' marks the subquery form; a ':' marks the inline form
    * (neither can appear in a relation identifier). */
  private def resolveQueryVecs(session: SparkSession, q: String,
      fn: String): Seq[(Long, Array[Double])] = {
    def vecRows(qdf: org.apache.spark.sql.DataFrame,
        what: String): Seq[(Long, Array[Double])] = {
      val qc = qdf.columns
      require(qc.length >= 2,
        s"$fn $what must have (id, vector) columns")
      qdf.select(col(qc(0)).cast("long"),
          col(qc(1)).cast("array<double>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    }
    if (q.startsWith("("))
      vecRows(session.sql(q.substring(1, q.length - 1)), s"subquery '$q'")
    else if (q.contains(":"))
      q.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
        val parts = e.split(":", 2)
        require(parts.length == 2 && parts(1).trim.nonEmpty,
          s"$fn inline query entry '$e' must be '<id>:<v1> <v2> ...'")
        (parts(0).trim.toLong,
          parts(1).trim.split("\\s+").map(_.toDouble))
      }
    else vecRows(session.table(q), s"query view '$q'")
  }

  /** The spec's placeholder name: its hash, probed on to the next free
    * (or same-spec) slot, so two specs with equal hashes never share one.
    */
  private[sql] def registerSpec(spec: RecSpec): String = specs.synchronized {
    def name(h: Int) = "graft_rec_" + Integer.toHexString(h)
    var h = spec.hashCode()
    while (Option(specs.get(name(h))).exists(_ != spec)) h += 1
    specs.put(name(h), spec)
    name(h)
  }

  private[sql] def lookupSpec(name: String): Option[RecSpec] =
    Option(specs.get(name))

  /** Mask the contents of quoted regions ('…', "…", `…`) with spaces,
    * PRESERVING LENGTH so match offsets on the masked text apply to the
    * original. A RECOMMEND inside a string literal can then never trigger
    * the clause patterns. Doubled quotes inside a region ('it''s') stay
    * masked because the region simply re-opens.
    */
  private[sql] def maskQuoted(sql: String): String = {
    val out = sql.toCharArray
    var i = 0
    var quote: Char = 0
    while (i < out.length) {
      val ch = out(i)
      if (quote == 0) {
        if (ch == '\'' || ch == '"' || ch == '`') quote = ch
      } else if (ch == quote) quote = 0
      else out(i) = ' '
      i += 1
    }
    new String(out)
  }

  // from_list = comma list of `tbl [AS] [alias]` — exactly the RangeVar
  // shapes the reference's getEventsTable walks; anything fancier
  // (subqueries, JOIN syntax) falls through to the delegate parser.
  private val FromListPat = """[\w.]+(?:\s+(?:AS\s+)?\w+)?(?:\s*,\s*[\w.]+(?:\s+(?:AS\s+)?\w+)?)*"""
  private[sql] val RecommendRe =
    ("""(?is)\bFROM\s+(""" + FromListPat + """)\s+RECOMMEND\s+([\w.]+)""" +
      """\s+TO\s+([\w.]+)\s+ON\s+([\w.]+)\s+USING\s+(\w+)""").r
  // a RECOMMEND clause shape with no recognizable FROM list ahead of it
  private[sql] val BareRecommendRe =
    """(?is)\bRECOMMEND\s+[\w.]+\s+TO\s+[\w.]+\s+ON\s+[\w.]+\s+USING\s+\w+""".r
  // the older Recathon workload syntax the reference's experiments issue
  // (rec_workload.c:226): SELECT itemid FROM <rec> RECOMMEND(10) userid = 42
  private[sql] val LegacyRecommendRe =
    """(?is)\bFROM\s+([\w.]+)\s+RECOMMEND\s*\(\s*(\d+)\s*\)\s+(\w+)\s*=\s*(\d+)""".r
  private[sql] val CreateRe =
    ("""(?is)^\s*CREATE\s+RECOMMENDER\s+(\w+)\s+ON\s+([\w.]+)\s+USERS\s+FROM\s+(\w+)""" +
      """\s+ITEMS\s+FROM\s+(\w+)\s+EVENTS\s+FROM\s+(\w+)(?:\s+USING\s+(\w+))?\s*;?\s*$""").r
  private[sql] val DropRe =
    """(?is)^\s*DROP\s+RECOMMENDER\s+(\w+)\s*;?\s*$""".r
  // the curation pipeline as a statement (the RECOMMEND splice pattern
  // applied to Corpus.curate): CURATE <tbl> ID <col> TEXT <col>
  // [WIDTH n] [PPL x] [BUDGET n]
  private[sql] val CurateRe =
    ("""(?is)^\s*CURATE\s+([\w.]+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
      """(?:\s+WIDTH\s+(\d+))?(?:\s+PPL\s+(\d+(?:\.\d+)?))?""" +
      """(?:\s+BUDGET\s+(\d+))?\s*;?\s*$""").r

  /** The CURATE statement's plan: [[graft.ops.Corpus.curate]] over the named
    * table, spliced in as a plan substitution (the same mechanism
    * [[ResolveRecommend]] uses for RECOMMEND). The pipeline's intermediate
    * materializations run when the statement is built — CURATE is an
    * action-shaped statement (its result is the budget-bounded selection),
    * so eager staging is its semantics, not a surprise.
    */
  def curatePlan(session: SparkSession, table: String, idCol: String,
      textCol: String, width: Int, ppl: Double, budget: Long): LogicalPlan =
    graft.ops.Corpus.curate(session.table(table), idCol, textCol,
      width, ppl, budget).queryExecution.logical

  private val FromEntryRe = """(?is)^\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*$""".r

  private[sql] def parseFromList(fromList: String): Seq[FromEntry] =
    fromList.split(',').toSeq.map {
      case FromEntryRe(t, a) => FromEntry(t, Option(a))
      case other => throw new IllegalArgumentException(
        s"unsupported FROM entry alongside RECOMMEND: '$other'")
    }

  /** Split `[qual.]col`; the qualifier is everything before the last dot. */
  private def splitQual(ref: String): (Option[String], String) = {
    val i = ref.lastIndexOf('.')
    if (i < 0) (None, ref) else (Some(ref.substring(0, i)), ref.substring(i + 1))
  }

  private def syntaxError(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** getEventsTable (parse_rec.c:187-297): locate the events table in the
    * FROM list from the clause columns' shared qualifier, or by probing
    * which table holds all three columns when unqualified. Reference error
    * messages verbatim.
    */
  private[sql] def findEventsEntry(session: SparkSession,
      entries: Seq[FromEntry], itemRef: String, userRef: String,
      eventRef: String): (FromEntry, String, String, String) = {
    val (iq, item) = splitQual(itemRef)
    val (uq, user) = splitQual(userRef)
    val (eq, event) = splitQual(eventRef)
    val quals = Seq(iq, uq, eq)
    if (quals.exists(_.isDefined) != quals.forall(_.isDefined) ||
        (iq.isDefined && (iq != uq || iq != eq)))
      syntaxError("elements of RECOMMEND clause must have matching table references")
    val entry = iq match {
      case Some(q) =>
        // tableMatch: alias first, else relation name (last path segment too)
        entries.find(e => e.alias.exists(_.equalsIgnoreCase(q)) ||
          (e.alias.isEmpty && (e.table.equalsIgnoreCase(q) ||
            e.table.split('.').last.equalsIgnoreCase(q))))
          .getOrElse(syntaxError("valid events table not found"))
      case None if entries.length == 1 => entries.head
      case None =>
        // cross-reference the column names against each table's schema
        // (columnExistsInRelation) — catalog metadata only, no Spark jobs
        def hasCols(t: String): Boolean =
          try {
            val cols = session.table(t).columns.map(_.toLowerCase).toSet
            Seq(item, user, event).forall(c => cols.contains(c.toLowerCase))
          } catch { case _: Exception => false }
        entries.filter(e => hasCols(e.table)) match {
          case Seq(one) => one
          case Seq() => syntaxError("valid events table not found")
          case _ => syntaxError("ambiguous references in RECOMMEND clause")
        }
    }
    (entry, item, user, event)
  }

  /** validateClauses (parse_rec.c:119-157) on the parsed plan: walk the
    * ancestors of the placeholder relation up to its query-block boundary
    * and reject the clauses the reference forbids, with its messages.
    */
  private[sql] def validateClauses(plan: LogicalPlan, placeholder: String): Unit = {
    def pathTo(p: LogicalPlan): Option[List[LogicalPlan]] = p match {
      case u: UnresolvedRelation if u.multipartIdentifier == Seq(placeholder) =>
        Some(List(u))
      case _ =>
        p.children.iterator.map(pathTo).collectFirst { case Some(tail) =>
          p :: tail
        }
    }
    val path = pathTo(plan).getOrElse(return)
    // the query block = ancestors below the last enclosing subquery boundary;
    // the SubqueryAlias directly wrapping the placeholder (its FROM alias)
    // is not a boundary
    val ancestors = path.dropRight(1) match {
      case ps if ps.nonEmpty && ps.last.isInstanceOf[SubqueryAlias] =>
        ps.dropRight(1)
      case ps => ps
    }
    val block = ancestors.reverse.takeWhile(!_.isInstanceOf[SubqueryAlias])
    block.foreach {
      case _: Distinct =>
        syntaxError("RECOMMEND clause is not allowed with DISTINCT clause")
      case _: UnresolvedHaving =>
        syntaxError("RECOMMEND clause is not allowed with HAVING clause")
      case _: Aggregate =>
        syntaxError("RECOMMEND clause is not allowed with GROUP BY clause")
      case _: WithWindowDefinition =>
        syntaxError("RECOMMEND clause is not allowed with WINDOW clause")
      case _: UnresolvedWith =>
        syntaxError("RECOMMEND clause is not allowed with WITH clause")
      case _ =>
    }
  }

  private val WhereRe =
    """(?is)\bWHERE\s+(.*?)(?=\bORDER\s+BY\b|\bLIMIT\b|\bGROUP\s+BY\b|\bHAVING\b|\bWINDOW\b|$)""".r

  /** Extract the WHERE expression text following the RECOMMEND clause.
    * Boundaries are found on the MASKED text (a literal containing 'order
    * by' must not truncate the predicate); content is taken from the
    * original.
    */
  private[sql] def whereText(original: String, masked: String,
      fromOffset: Int): Option[String] =
    WhereRe.findFirstMatchIn(masked.substring(fromOffset)).map { m =>
      original.substring(fromOffset + m.start(1), fromOffset + m.end(1))
    }

  /** The reference's user-WHERE extraction (parse_rec.c:1100-1211): keep only
    * conjuncts that reference the user column alone — an over-approximation
    * used purely to prune the user×item expansion early; the FULL WHERE
    * clause still applies above the scoring view, so results are identical
    * either way (SURVEY.md §2.3 #8). Qualified references (`r.userid`) match
    * when the qualifier is the events entry's alias/name, and are stripped
    * to bare columns so the predicate can run against the events frame.
    *
    * Also returns a job-free upper-bound ESTIMATE of how many users qualify
    * (equality → 1, IN-list → its length) for the scoring strategy pick.
    */
  private[sql] def userQual(session: SparkSession, whereSql: String,
      userCol: String, qualifiers: Set[String]): (Option[Column], Option[Long]) = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def isUserAttr(a: UnresolvedAttribute): Boolean = a.nameParts match {
      case Seq(c) => c.equalsIgnoreCase(userCol)
      case Seq(q, c) => c.equalsIgnoreCase(userCol) &&
        qualifiers.exists(_.equalsIgnoreCase(q))
      case _ => false
    }
    try {
      val parsed = session.sessionState.sqlParser.parseExpression(whereSql)
      val userOnly = conjuncts(parsed).filter { c =>
        val attrs = c.collect { case a: UnresolvedAttribute => a }
        attrs.nonEmpty && attrs.forall(isUserAttr) && c.deterministic
      }
      // strip qualifiers so the predicate applies to the bare events frame
      val stripped = userOnly.map(_.transform {
        case a: UnresolvedAttribute if a.nameParts.length == 2 =>
          UnresolvedAttribute(Seq(a.nameParts.last))
      })
      val estimate = stripped.flatMap {
        case EqualTo(_: UnresolvedAttribute, _: Literal) => Some(1L)
        case EqualTo(_: Literal, _: UnresolvedAttribute) => Some(1L)
        case In(_: UnresolvedAttribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
          Some(vs.length.toLong)
        case _ => None
      }.minOption
      (stripped.reduceOption(CAnd(_, _))
        .map(org.apache.spark.sql.graft.ColumnShim.column), estimate)
    } catch { case _: Exception => (None, None) } // prune is best-effort
  }

  // statement-level rejections the plan walk can't see because Spark SQL
  // has no SELECT INTO / FOR UPDATE grammar at all — without this check
  // they'd surface as generic Spark parse errors instead of the
  // reference's messages (parse_rec.c:130-133 intoClause,
  // parse_rec.c:147-150 lockingClause)
  private val IntoRe = """(?is)\bINTO\s+\w""".r
  // PG's lockingClause trails the statement: FOR UPDATE/SHARE [OF cols]
  // [NOWAIT] then end — the paren-free tail anchor keeps a
  // `PIVOT (... FOR update IN (...))` after the clause from tripping it
  private val LockingRe = """(?is)\bFOR\s+(UPDATE|SHARE)\b[\w\s.,]*;?\s*$""".r

  /** Blank parenthesized regions (preserving length) so statement-LEVEL
    * clause scans can't match inside subqueries or function arguments.
    */
  private[sql] def maskParens(s: String): String = {
    val out = s.toCharArray
    var depth = 0
    var i = 0
    while (i < out.length) {
      val c = out(i)
      if (c == '(') { depth += 1; out(i) = ' ' }
      else if (c == ')') { depth = math.max(0, depth - 1); out(i) = ' ' }
      else if (depth > 0) out(i) = ' '
      i += 1
    }
    new String(out)
  }

  private[sql] def validateStatementText(masked: String, fromStart: Int,
      clauseEnd: Int): Unit = {
    // both scans look at TOP-LEVEL text only: a scalar subquery in the
    // SELECT list carrying its own FROM/INTO must not shift the scan
    val top = maskParens(masked)
    // intoClause sits between SELECT and FROM; an INSERT INTO prefix is a
    // different statement kind and not the reference's intoClause
    if (!top.matches("(?is)\\s*INSERT\\b.*") &&
        IntoRe.findFirstIn(top.substring(0, fromStart)).isDefined)
      syntaxError("RECOMMEND clause is not allowed with INTO clause")
    // lockingClause trails the statement
    if (LockingRe.findFirstIn(top.substring(clauseEnd)).isDefined)
      syntaxError("RECOMMEND clause is not allowed with FOR clause")
  }

  /** Parse-time rewrite (PURE — text manipulation plus catalog METADATA
    * probes only): recognize the clause on literal-masked text, locate the
    * events entry, register the spec, splice the placeholder into the FROM
    * list. Returns None when the statement carries no RECOMMEND clause.
    */
  private[sql] val StateReadStartRe =
    ("""(?is)\bGRAFT_(SHARDS|BM25|KNNPQ|KNN|SELECTION|SNAPSHOT|VACUUM""" +
      """|MERGES|SWEEP|PACK|RETIRE)\s*\(""").r
  private val VersionAsOfRe = """(?is)^\s*VERSION\s+AS\s+OF\s+(-?\d+)""".r

  /** Index just past the ')' matching the '(' at `open` in LENGTH-PRESERVING
    * masked text (quoted regions already blanked, so parens inside string
    * literals never count). -1 when unbalanced — the clause then falls
    * through to the delegate parser, which reports its own error.
    */
  private def matchingParenEnd(masked: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return i + 1 }
      i += 1
    }
    -1
  }

  /** Split a GRAFT_* argument list on top-level commas (quoted regions and
    * parenthesized subexpressions opaque), stripping surrounding single
    * quotes from string arguments. A parenthesized argument — a subquery —
    * survives verbatim, parens included.
    */
  private def splitArgs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var depth = 0
    s.foreach { ch =>
      if (quote == 0 && (ch == '\'' || ch == '"')) { quote = ch; cur += ch }
      else if (quote != 0 && ch == quote) { quote = 0; cur += ch }
      else if (quote == 0 && ch == '(') { depth += 1; cur += ch }
      else if (quote == 0 && ch == ')') { depth -= 1; cur += ch }
      else if (quote == 0 && depth == 0 && ch == ',') {
        out += cur.toString; cur.clear()
      } else cur += ch
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).map { a =>
      if (a.length >= 2 && a.head == '\'' && a.last == '\'')
        a.substring(1, a.length - 1)
      else a
    }
  }

  /** Replace every GRAFT_* state-read clause (and its optional
    * VERSION AS OF) with a placeholder relation, recording the spec for
    * [[ResolveRecommend]] — the RECOMMEND rewrite mechanics applied to
    * the maintained-state surface. Pure text rewriting; args are
    * extracted from the ORIGINAL text at the masked match's offsets, so
    * quoted paths survive and a GRAFT_ keyword inside a string literal
    * never triggers.
    */
  private[sql] def rewriteStateReads(sqlText: String): String = {
    var text = sqlText
    var continue = true
    while (continue) {
      val masked = maskQuoted(text)
      StateReadStartRe.findFirstMatchIn(masked) match {
        case None => continue = false
        case Some(m) =>
          // paren-balanced capture so a subquery argument — e.g.
          // GRAFT_KNN(..., (SELECT id, vec FROM q), k) — survives whole
          val argsEnd = matchingParenEnd(masked, m.end - 1)
          if (argsEnd < 0) continue = false
          else {
            val kind = m.group(1).toLowerCase
            val args = splitArgs(text.substring(m.end, argsEnd - 1))
            val tail = masked.substring(argsEnd)
            val ver = VersionAsOfRe.findFirstMatchIn(tail)
            val asOf = ver.map(_.group(1).toLong)
            val clauseEnd = argsEnd + ver.map(_.end).getOrElse(0)
            val placeholder = registerSpec(StateReadSpec(kind, args, asOf))
            text = text.substring(0, m.start) + placeholder +
              text.substring(clauseEnd)
          }
      }
    }
    text
  }

  private[sql] def rewriteRecommend(session: SparkSession,
      sqlText: String): Option[(String, String)] = {
    val masked = maskQuoted(sqlText)
    RecommendRe.findFirstMatchIn(masked) match {
      case None =>
        if (BareRecommendRe.findFirstIn(masked).isDefined)
          syntaxError("RECOMMEND clause is not allowed without FROM clause")
        None
      case Some(m) =>
        validateStatementText(masked, m.start, m.end)
        val entries = parseFromList(sqlText.substring(m.start(1), m.end(1)))
        val (entry, item, user, event) = findEventsEntry(session, entries,
          m.group(2), m.group(3), m.group(4))
        val method = m.group(5)
        val where = whereText(sqlText, masked, m.end)
        val spec = RecommendSpec(entry.table, entry.alias, user, item, event,
          method, where)
        val placeholder = registerSpec(spec)
        // keep (or synthesize) the alias so qualified references still bind:
        // a table-name qualifier becomes an alias of the same name
        val alias = entry.alias.orElse(
          if (Seq(m.group(2), m.group(3), m.group(4)).exists(_.contains('.')))
            Some(entry.table.split('.').last)
          else None)
        val newEntries = entries.map { e =>
          if (e eq entry) placeholder + alias.map(" " + _).getOrElse("")
          else e.table + e.alias.map(" " + _).getOrElse("")
        }
        Some((sqlText.substring(0, m.start) +
          "FROM " + newEntries.mkString(", ") +
          sqlText.substring(m.end), placeholder))
    }
  }

  /** Parse-time rewrite of the legacy `FROM <rec> RECOMMEND(k) <user> = <id>`
    * workload form — same lazy placeholder mechanics; the named recommender
    * is resolved from the catalog at ANALYSIS time.
    */
  private[sql] def rewriteLegacyRecommend(session: SparkSession,
      sqlText: String): Option[(String, String)] = {
    val masked = maskQuoted(sqlText)
    LegacyRecommendRe.findFirstMatchIn(masked).map { m =>
      validateStatementText(masked, m.start, m.end)
      val spec = LegacyRecSpec(m.group(1), m.group(2).toInt, m.group(3),
        m.group(4).toLong)
      val placeholder = registerSpec(spec)
      (sqlText.substring(0, m.start) + s"FROM $placeholder" +
        sqlText.substring(m.end), placeholder)
    }
  }

  // ---- analysis-time plan construction (the splice) ----

  /** Build the scoring plan a placeholder stands for. Runs at analysis time;
    * on the materialized path the strategy pick is pure (CREATE-time stats
    * from the catalog), so planning — including EXPLAIN — runs no jobs.
    */
  private val packUsage: String =
    "('<curateStateDir>', <selectionAsOf>, '<mergesModelDir>', " +
      "<mergesAsOf>[, <seqLen>[, <epochs>]]) or ('<manifestDir>', " +
      "'<curatePinName>', '<bpePinName>'[, <seqLen>[, <epochs>]])"

  private[sql] def buildPlan(session: SparkSession, spec: RecSpec): LogicalPlan =
    spec match {
      case s: RecommendSpec =>
        val events = session.table(s.table)
        val c = EventCols(s.user, s.item, s.event)
        val qualifiers: Set[String] =
          s.alias.map(Set(_)).getOrElse(Set.empty) +
            s.table + s.table.split('.').last
        val (pred, userEst) = s.wherePart
          .map(w => userQual(session, w, s.user, qualifiers))
          .getOrElse((None, None))
        // user-qual pre-filter: prune qualifying users BEFORE scoring
        // (execRecommend.c:442-468) — the full WHERE still applies on top
        val users = pred.map(p => events.select(col(s.user)).where(p).distinct())
        val scored = Recommender.recommend(session, events, s.table, c,
          s.method, Some(catalog(session)), users, scoredUsersHint = userEst)
        // Output schema per SURVEY.md §2.3: materialized recommenders return
        // ONLY the three clause columns (README.md:110, quirk #3); on-the-fly
        // queries carry the full events schema with non-clause columns
        // reading 0 (execRecommend.c:398-405, quirk #2).
        val materialized = catalog(session)
          .findByTagAndMethod(s.table, graft.recdb.RecMethod.parse(s.method))
          .isDefined
        val clauseCols = Seq(s.user, s.item, s.event).map(_.toLowerCase)
        val others =
          if (materialized) Array.empty[String]
          else events.columns.filterNot(cn => clauseCols.contains(cn.toLowerCase))
        val full = scored.select(
          col(s.user) +: col(s.item) +: col("score").as(s.event) +:
            others.map(o => lit(0).cast(events.schema(o).dataType).as(o)).toSeq: _*)
        full.queryExecution.analyzed
      case s: LegacyRecSpec =>
        // resolve and R18-bump the named entry in one catalog write; a
        // wrong qualifier fails the statement before anything is written
        val e = Recommender.bumpQueryCounter(catalog(session), s.recName,
            e => require(s.userCol.equalsIgnoreCase(e.userCol),
              s"legacy RECOMMEND qualifier '${s.userCol}' must be the " +
                s"recommender's user column '${e.userCol}'"))
          .getOrElse(throw new IllegalArgumentException(
            s"recommender ${s.recName} does not exist (utility.c:968)"))
        // the point query, as Recommender.recommendTopK answers it: the
        // resident index's rows, already named as the recommender's clause
        // columns, spliced in as they are (zero jobs, nothing to analyze);
        // else a Spark plan — the events table is resolved only to compute
        val c = EventCols(e.userCol, e.itemCol, e.ratingCol)
        Recommender.residentRead(session, e, s.userId, s.k,
            Recommender.pointOutput(e.userCol, e.itemCol, e.ratingCol))
          .getOrElse(Recommender
            .topKPlan(session, session.table(e.eventsTag), c, e.method,
              Some(e), s.userId, s.k)
            .select(col(e.userCol), col(e.itemCol), col("score").as(e.ratingCol))
            .queryExecution.analyzed)
      case s: StateReadSpec =>
        import graft.streaming.{AnnIndexMaintainer, CurateMaintainer,
          SearchIndexMaintainer, ShardMaintainer, SnapshotManifest}
        def wrongArgs(usage: String): Nothing =
          throw new IllegalArgumentException(
            s"GRAFT_${s.kind.toUpperCase}: expected $usage, " +
              s"got ${s.args.size} arguments")
        val df = (s.kind, s.args) match {
          case ("shards", Seq(dir)) =>
            s.asOf.map(v => ShardMaintainer.readShardsAsOf(session, dir, v))
              .getOrElse(ShardMaintainer.readShardsLive(session, dir))
          case ("shards", _) => wrongArgs("('<dir>')")
          case ("selection", Seq(dir)) =>
            s.asOf.map(v => CurateMaintainer.selectionAsOf(session, dir, v))
              .getOrElse(CurateMaintainer.currentSelection(session, dir))
          case ("selection", _) => wrongArgs("('<stateDir>')")
          case ("bm25", Seq(dir, q, k)) =>
            val terms = q.split("\\s+").toSeq.filter(_.nonEmpty)
            s.asOf.map(v => SearchIndexMaintainer.searchAsOf(session, dir,
                "doc_id", terms, k.toInt, asOf = v))
              .getOrElse(SearchIndexMaintainer.search(session, dir,
                "doc_id", terms, k.toInt))
          case ("bm25", _) => wrongArgs("('<stateDir>', '<terms>', k)")
          case ("knn", Seq(idxDir, centsDir, q, k)) =>
            val cents = resolveCents(session, idxDir, centsDir, s.asOf)
            val qv = resolveQueryVecs(session, q, "GRAFT_KNN")
            s.asOf.map(v => AnnIndexMaintainer.searchAsOf(session, idxDir,
                cents, qv, k.toInt, asOf = v, rankOnRoundedTo = Some(6)))
              .getOrElse(AnnIndexMaintainer.search(session, idxDir, cents,
                qv, k.toInt, rankOnRoundedTo = Some(6)))
          case ("knn", _) =>
            wrongArgs("('<indexDir>', '<centroids parquet>', " +
              "<queryView> | '<id>:<v1> <v2> ...; ...' | (SELECT ...), k)")
          case ("knnpq", Seq(idxDir, centsDir, cbDir, q, k)) =>
            // the compressed index through SQL: ADC shortlist + exact
            // rerank over the persisted codes, time-travel included —
            // the codebook artifact is named explicitly (it is part of
            // the generation contract, like the centroid set)
            val cents = resolveCents(session, idxDir, centsDir, s.asOf)
            // 'auto' resolves the codebook GENERATION serving at the
            // horizon from the state's cbg<batch>/ artifacts, like the
            // quantizer's qg<batch>/ — the self-resolving probe needs to
            // name nothing but the state and the horizon
            val cb =
              if (cbDir.equalsIgnoreCase("auto"))
                AnnIndexMaintainer.codebooksAsOf(session, idxDir,
                  s.asOf.getOrElse(Long.MaxValue))
              else graft.ops.Ann.pqCodebookFromDf(
                session.read.parquet(cbDir))
            val qv = resolveQueryVecs(session, q, "GRAFT_KNNPQ")
            s.asOf.map(v => AnnIndexMaintainer.searchPqAsOf(session,
                idxDir, cents, cb, qv, k.toInt, asOf = v,
                rankOnRoundedTo = Some(6)))
              .getOrElse(AnnIndexMaintainer.searchPq(session, idxDir,
                cents, cb, qv, k.toInt, rankOnRoundedTo = Some(6)))
          case ("knnpq", _) =>
            wrongArgs("('<indexDir>', '<centroids parquet>', " +
              "'<codebook parquet>', <queryView> | '<id>:...' | " +
              "(SELECT ...), k)")
          case ("vacuum", args) if args.size >= 2 && args.size <= 4 =>
            // ACTION relation, EXPLAIN-SAFE: the statement runs the
            // pin-aware vacuum and returns the dropped generation ids —
            // DELETE ... RETURNING for generation history — but the
            // effect is DEFERRED to execution ([[DeferredActionRelation]]):
            // analysis/EXPLAIN only plan it. Missing manifests fail it,
            // pins hold their horizons, re-running is idempotent (empty
            // set). Kind is validated HERE (analysis time) so a typo'd
            // statement still fails fast, before any execution.
            require(s.asOf.isEmpty,
              "GRAFT_VACUUM: VERSION AS OF is not applicable " +
                "(the floor comes from keepFrom and the pinned manifests)")
            val keep =
              if (args.size >= 3) args(2).toLong else Long.MaxValue
            val mans =
              if (args.size >= 4)
                args(3).split(";").toSeq.map(_.trim).filter(_.nonEmpty)
              else Nil
            val kind = args(1).toLowerCase
            val vac: (SparkSession, String, Long, Seq[String]) => Seq[Long] =
              kind match {
                case "selection" => graft.streaming.Retention.vacuumSelections
                case "quantizer" => graft.streaming.Retention.vacuumQuantizers
                case "merges" =>
                  graft.streaming.Retention.vacuumMergeVersions
                case other => throw new IllegalArgumentException(
                  s"GRAFT_VACUUM: unknown kind '$other' " +
                    "(expected 'selection', 'quantizer' or 'merges')")
              }
            val dir = args.head
            return DeferredActionRelation(
              Seq(AttributeReference("dropped_gen",
                org.apache.spark.sql.types.LongType, nullable = false)()),
              s"vacuum $kind $dir",
              DeferredAction.once(
                () => vac(session, dir, keep, mans).map(Row(_))))
          case ("vacuum", _) =>
            wrongArgs("('<stateDir>', 'selection'|'quantizer'|'merges'" +
              "[, <keepFrom>[, '<manifest>;<manifest>']])")
          case ("merges", Seq(dir)) =>
            // the TOKENIZER model through SQL: the merge rules serving at
            // the horizon ([[BpeMaintainer.mergesAsOf]] — stamped
            // versions, retention-floor errors below a vacuum); without
            // VERSION AS OF, the _LATEST committed version (stamp-free
            // legacy models included)
            s.asOf.map(v => graft.streaming.BpeMaintainer
                .mergesAsOfDf(session, dir, v))
              .getOrElse(graft.streaming.BpeMaintainer
                .latestMergesDf(session, dir))
          case ("merges", _) => wrongArgs("('<modelDir>')")
          case ("sweep", args) if args.nonEmpty && args.size <= 3 &&
              (args.size < 3 || args(2).equalsIgnoreCase("dry")) =>
            // the discovery GC through SQL — GRAFT_VACUUM's action
            // semantics applied fleet-wide: walk the root, vacuum (or
            // with 'dry', only measure) every recognized state at its
            // own pin-and-policy floor, return the dropped rows. The
            // effect is DEFERRED to execution (EXPLAIN-safe, like
            // GRAFT_VACUUM). The third argument must be EXACTLY 'dry' —
            // a typo ('dryrun', 'dry-run') falls through to the usage
            // error instead of silently running the DESTRUCTIVE acting
            // sweep, the fail-safe rule the GC itself documents.
            require(s.asOf.isEmpty,
              "GRAFT_SWEEP: VERSION AS OF is not applicable (floors come " +
                "from the states' policies and the pinned manifests)")
            val mans =
              if (args.size >= 2)
                args(1).split(";").toSeq.map(_.trim).filter(_.nonEmpty)
              else Nil
            val dry = args.size >= 3
            val root = args.head
            val sweepOut = Seq(
              AttributeReference("family", StringType, nullable = true)(),
              AttributeReference("state_dir", StringType,
                nullable = true)(),
              AttributeReference("dropped_id",
                org.apache.spark.sql.types.LongType, nullable = false)(),
              // names the pin holding a superseded dir (HeldSentinel
              // rows); null everywhere else
              AttributeReference("holder", StringType, nullable = true)())
            return DeferredActionRelation(sweepOut,
              if (dry) s"sweep(dry) $root" else s"sweep $root",
              DeferredAction.once(() => graft.streaming.Retention
                .sweep(session, root, mans, dryRun = dry)
                .collect().toSeq))
          case ("sweep", _) =>
            wrongArgs("('<root>'[, '<manifest>;<manifest>'[, 'dry']]) — " +
              "the third argument, when present, must be exactly 'dry'")
          case ("pack", args) if args.size >= 3 && args.size <= 6 =>
            // the PINNED-TOKENIZER packing through SQL (the p_pack_asof
            // API path): name the curation state + its horizon and the
            // merges model + its horizon — or a SNAPSHOT MANIFEST plus
            // two pinned state names, resolving both (dir, horizon)
            // pairs from the pins — and get back the packed training
            // epochs: the training-run tuple reproducible end-to-end
            // THROUGH packing for a SQL-only operator. Horizons are
            // explicit arguments (or the manifest's), so the single
            // VERSION AS OF clause is not applicable.
            require(s.asOf.isEmpty,
              "GRAFT_PACK: horizons are explicit arguments (selection " +
                "as-of, merges as-of) or come from the manifest's pins; " +
                "VERSION AS OF is not applicable")
            // forms are disambiguated by the second argument: a NUMBER
            // is the explicit selection horizon, a NAME is a pinned
            // state in the manifest the first argument points at
            // (numeric pin NAMES are rejected at pin() time, so the
            // integer test is unambiguous). Non-numeric seqLen/epochs
            // surface as the usage error, not a raw
            // NumberFormatException.
            def num(v: String, what: String): Long =
              try v.trim.toLong
              catch {
                case _: NumberFormatException =>
                  wrongArgs(s"$packUsage — $what must be an integer, " +
                    s"got '$v'")
              }
            // Int-ranged counts: Long.toInt silently wraps (seqLen
            // 4294967296 → 0), so an out-of-range count must be the
            // usage error too
            def numInt(v: String, what: String): Int = {
              val n = num(v, what)
              if (n < Int.MinValue || n > Int.MaxValue)
                wrongArgs(s"$packUsage — $what out of range: $v")
              n.toInt
            }
            val explicitForm = args(1).trim.matches("-?\\d+")
            val (selDir, selAsOf, mdDir, mdAsOf, rest) =
              if (explicitForm) {
                if (args.size < 4) wrongArgs(packUsage)
                (args.head, num(args(1), "selectionAsOf"), args(2),
                  num(args(3), "mergesAsOf"), args.drop(4))
              } else {
                // manifest form takes 3–5 arguments; a 6th was
                // previously ignored silently
                if (args.size > 5) wrongArgs(s"$packUsage — the " +
                  s"manifest form takes at most 5 arguments, got " +
                  s"${args.size}")
                val pins = SnapshotManifest.pins(session, args.head)
                def pinOf(state: String, kind: String) =
                  pins.find(p => p.state == state && p.kind == kind)
                    .getOrElse(throw new IllegalArgumentException(
                      s"GRAFT_PACK: manifest ${args.head} has no pin " +
                        s"'$state' of kind '$kind' (pinned states: " +
                        s"${pins.map(p => s"${p.state}:${p.kind}")
                          .mkString(", ")})"))
                val sp = pinOf(args(1), "curate")
                val mp = pinOf(args(2), "bpe")
                (sp.dir, sp.asOf, mp.dir, mp.asOf, args.drop(3))
              }
            // argument validation BEFORE any state is read: a malformed
            // count must be the usage error even when the model dirs
            // would themselves fail to resolve
            val seqLen =
              if (rest.nonEmpty) numInt(rest.head, "seqLen") else 128
            val epochs =
              if (rest.size >= 2) numInt(rest(1), "epochs") else 2
            val sel = CurateMaintainer.selectionAsOf(session, selDir,
              selAsOf)
            require(sel.columns.length == 2,
              "GRAFT_PACK: the selection generation must be the " +
                "(id, text) pair a curation firing persists, got columns " +
                s"(${sel.columns.mkString(", ")})")
            val Seq(idCol, textCol) = sel.columns.toSeq
            val merges = graft.streaming.BpeMaintainer.mergesAsOf(session,
              mdDir, mdAsOf)
            graft.ops.Corpus.trainManifestFrom(sel, idCol, textCol,
              merges, seqLen, epochs)
          case ("pack", _) => wrongArgs(packUsage)
          case ("retire", Seq(dir, mans)) =>
            // whole-dir generation retirement through SQL —
            // [[graft.streaming.Retention.retireState]]'s pin-guarded
            // wholesale deletion as a DEFERRED action relation (the
            // VACUUM/SWEEP discipline: EXPLAIN-safe, effect at
            // execution; a pinned dir fails naming its holder). The
            // manifest list is MANDATORY: a retirement that names no
            // manifests would skip the pin check entirely, and an
            // unauditable delete is the disaster case the retention
            // surface is built to prevent.
            require(s.asOf.isEmpty,
              "GRAFT_RETIRE: VERSION AS OF is not applicable (a " +
                "retirement is whole-dir, not horizon-sliced)")
            val manDirs = mans.split(";").toSeq.map(_.trim)
              .filter(_.nonEmpty)
            require(manDirs.nonEmpty,
              "GRAFT_RETIRE: at least one manifest dir is required — " +
                "the pin check is what makes a retirement safe")
            return DeferredActionRelation(
              Seq(AttributeReference("retired_dir", StringType,
                nullable = false)()),
              s"retire $dir",
              DeferredAction.once(() => {
                graft.streaming.Retention.retireState(session, dir,
                  manDirs)
                Seq(Row(dir))
              }))
          case ("retire", _) =>
            wrongArgs("('<stateDir>', '<manifest>[;<manifest>]')")
          case ("snapshot", Seq(mdir, state)) =>
            require(s.asOf.isEmpty,
              "GRAFT_SNAPSHOT: the horizon comes from the pinned manifest; " +
                "VERSION AS OF is not applicable")
            SnapshotManifest.readState(session, mdir, state)
          case ("snapshot", _) =>
            wrongArgs("('<manifestDir>', '<state>')")
          case (other, _) => throw new IllegalArgumentException(
            s"unknown GRAFT state-read kind '$other'")
        }
        df.queryExecution.analyzed
    }
}

/** Analysis rule: substitute each registered placeholder relation with its
  * scoring plan. Fires once per placeholder (the substituted subtree is
  * resolved, so the pattern cannot rematch).
  */
class ResolveRecommend(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation if u.multipartIdentifier.length == 1 &&
        GraftSql.lookupSpec(u.multipartIdentifier.head).isDefined =>
      GraftSql.buildPlan(session,
        GraftSql.lookupSpec(u.multipartIdentifier.head).get)
  }
}

final case class CreateRecommenderCommand(name: String, table: String,
    user: String, item: String, event: String, method: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    Recommender.create(session, name, session.table(table), table,
      EventCols(user, item, event), method, GraftSql.catalog(session),
      GraftSql.modelsDir(session))
    Seq(Row(s"created recommender $name"))
  }
}

final case class DropRecommenderCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val ok = Recommender.drop(name, GraftSql.catalog(session))
    if (!ok) throw new IllegalArgumentException(
      s"recommender $name does not exist (utility.c:968)")
    Seq(Row(s"dropped recommender $name"))
  }
}

class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case GraftSql.CreateRe(name, table, user, item, event, method) =>
      CreateRecommenderCommand(name, table, user, item, event,
        Option(method).getOrElse(""))
    case GraftSql.DropRe(name) =>
      DropRecommenderCommand(name)
    case GraftSql.CurateRe(table, id, text, width, ppl, budget) =>
      GraftSql.curatePlan(session, table, id, text,
        Option(width).map(_.toInt).getOrElse(30),
        Option(ppl).map(_.toDouble).getOrElse(3.43),
        Option(budget).map(_.toLong).getOrElse(6000L))
    case _ =>
      // state reads first (no clause restrictions — any SQL may consume
      // the relation), then the RECOMMEND rewrite with its validation
      val pre = GraftSql.rewriteStateReads(sqlText)
      rewrite(pre) match {
        case Some((rewritten, placeholder)) =>
          val plan = delegate.parsePlan(rewritten)
          GraftSql.validateClauses(plan, placeholder)
          plan
        case None => delegate.parsePlan(pre)
      }
  }

  /** Returns the rewritten statement and the placeholder it introduced. */
  private def rewrite(sqlText: String): Option[(String, String)] =
    GraftSql.rewriteRecommend(session, sqlText)
      .orElse(GraftSql.rewriteLegacyRecommend(session, sqlText))

  @throws[ParseException]
  override def parseQuery(sqlText: String): LogicalPlan = {
    val pre = GraftSql.rewriteStateReads(sqlText)
    rewrite(pre) match {
      case Some((rewritten, placeholder)) =>
        val plan = delegate.parseQuery(rewritten)
        GraftSql.validateClauses(plan, placeholder)
        plan
      case None => delegate.parseQuery(pre)
    }
  }

  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
}
