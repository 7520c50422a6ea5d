package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding hot path: a codegen'd dense
  * dot product over ARRAY<DOUBLE>.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: higher-order
  * functions evaluate through per-element lambda closures and fall out of
  * whole-stage codegen, which made pairwise-cosine the dominant cost of ANN
  * ops. This expression generates a tight primitive loop inside the stage
  * (the preference order of the builder prompt: compose built-ins → custom
  * Expression → custom plan → mapPartitions).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> inputs, " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

/** Shared eval helpers callable from generated code (static forwarders). */
object VectorExprUtil {
  /** Zero-filled double[dims] scattered from (index, value) entries — the
    * sparse→dense bridge for the bounded-dimension strategy. Entries with
    * out-of-range indices are ignored (cannot occur for indices built by
    * dense_rank over the same data).
    */
  def denseFromEntries(entries: ArrayData, dims: Int): ArrayData = {
    val out = new Array[Double](dims)
    val n = entries.numElements()
    var k = 0
    while (k < n) {
      val row = entries.getStruct(k, 2)
      val i = row.getInt(0)
      if (i >= 0 && i < dims) out(i) = row.getDouble(1)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** round(x, scale) with Spark's Round semantics for doubles (BigDecimal
    * HALF_UP) — used so native argmin loops reproduce the HOF forms' rounded
    * rankings bit-for-bit. scale < 0 → no rounding.
    */
  def roundTo(x: Double, scale: Int): Double =
    if (scale < 0) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** PQ codes of one vector: for each of m disjoint subspaces, the id of the
    * centroid minimizing round(|c|² − 2·v_j·c, roundScale); strict `<`
    * keeps the LOWEST centroid id on ties (same contract as the HOF form in
    * [[graft.ops.Ann.pqEncodeHof]]). `cb` is the codebook flattened as
    * (j·k + c)·dsub + i; `n2` the per-centroid |c|² at j·k + c.
    */
  def pqEncode(vec: ArrayData, cb: Array[Double], n2: Array[Double],
      m: Int, k: Int, dsub: Int, roundScale: Int): ArrayData = {
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      val vOff = j * dsub
      var c = 0
      while (c < k) {
        val cbOff = (j * k + c) * dsub
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          dot += vec.getDouble(vOff + i) * cb(cbOff + i)
          i += 1
        }
        val d = roundTo(n2(j * k + c) - 2.0 * dot, roundScale)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score: Σ_j table(j)(codes(j)) — m lookups into the per-query
    * inner-product table, the whole PQ scan cost per candidate row.
    */
  def adcScore(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      s += table.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    s
  }

  /** SDC lookup-sum: Σ_j tables[j·k² + c1_j·k + c2_j], j ascending (the
    * HOF-equivalent summation order).
    */
  def sdcScore(c1: ArrayData, c2: ArrayData, tables: Array[Double],
      k: Int): Double = {
    val m = c1.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      s += tables(j * k * k + c1.getInt(j) * k + c2.getInt(j))
      j += 1
    }
    s
  }

  /** Top-`n` nearest cells ranked by (round(|c|² − 2·v·c, roundScale) asc,
    * cid asc) — the multi-cell probe of [[nearestCell]] for corpus-scale
    * query sides (kNN-graph construction), where the per-row HOF sort of
    * the few-queries path would run once per corpus row. Bounded insertion
    * into an n-slot window (n ≤ nprobe, small by construction).
    */
  def nearestCells(vec: ArrayData, cents: Array[Double], n2: Array[Double],
      nCells: Int, dim: Int, roundScale: Int, n: Int): ArrayData = {
    val keep = math.min(n, nCells)
    val topD = new Array[Double](keep)
    val topC = new Array[Int](keep)
    var filled = 0
    var c = 0
    while (c < nCells) {
      val off = c * dim
      var dot = 0.0
      var i = 0
      while (i < dim) {
        dot += vec.getDouble(i) * cents(off + i)
        i += 1
      }
      val d = roundTo(n2(c) - 2.0 * dot, roundScale)
      // insert (d, c) if it beats the current worst (ties keep lower cid —
      // insertion order is ascending cid, so strict < on equal d suffices)
      var j = if (filled < keep) { filled += 1; filled - 1 }
        else if (d < topD(keep - 1)) keep - 1 else -1
      if (j >= 0) {
        while (j > 0 && d < topD(j - 1)) {
          topD(j) = topD(j - 1); topC(j) = topC(j - 1); j -= 1
        }
        topD(j) = d; topC(j) = c
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var k = 0
    while (k < filled) { out(k) = topC(k); k += 1 }
    new GenericArrayData(out)
  }

  /** Nearest coarse-quantizer cell: argmin over round(|c|² − 2·v·c,
    * roundScale) with lowest-cid ties — the IVF corpus-assignment loop
    * (matches `nearest(vec, 1)`'s struct-sort ordering). `cents` flattened
    * as cid·dim + i; `n2` the per-cell |c|².
    */
  def nearestCell(vec: ArrayData, cents: Array[Double], n2: Array[Double],
      nCells: Int, dim: Int, roundScale: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < nCells) {
      val off = c * dim
      var dot = 0.0
      var i = 0
      while (i < dim) {
        dot += vec.getDouble(i) * cents(off + i)
        i += 1
      }
      val d = roundTo(n2(c) - 2.0 * dot, roundScale)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}

/** Codegen'd scatter of ARRAY<STRUCT<i:INT, v:DOUBLE>> into a zero-filled
  * dense ARRAY<DOUBLE> of fixed width.
  */
case class DenseFromEntries(child: Expression, dims: Int)
    extends UnaryExpression {
  require(dims >= 1, "dims must be >= 1")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_dense_from_entries"

  override def nullSafeEval(a: Any): Any =
    VectorExprUtil.denseFromEntries(a.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorExprUtil.denseFromEntries($c, $dims)")

  override protected def withNewChildInternal(newChild: Expression): DenseFromEntries =
    copy(child = newChild)
}

/** Codegen'd count of positions where two ARRAY<LONG> agree — the MinHash
  * signature-similarity estimator (matches/numPerm ≈ jaccard).
  */
case class LongMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_match_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongMatchCount = copy(left = newLeft, right = newRight)
}

/** Codegen'd PQ encode: ARRAY<DOUBLE> vector → ARRAY<INT> of m per-subspace
  * centroid ids. The codebook rides along as a broadcast-in-plan reference
  * object (ctx.addReferenceObj), so the m·k·dsub fused multiply-adds run in
  * ONE JVM loop per row instead of an interpreted HOF lambda per centroid —
  * the difference between PQ encoding being free at scan time and being the
  * pipeline's bottleneck.
  */
case class PqEncodeExpr(child: Expression,
    codebooks: Array[Array[Array[Double]]], roundScale: Int)
    extends UnaryExpression {
  private val m = codebooks.length
  private val k = codebooks.head.length
  private val dsub = codebooks.head.head.length
  @transient private lazy val flatCb: Array[Double] =
    codebooks.flatMap(_.flatMap(_.toSeq))
  @transient private lazy val flatN2: Array[Double] =
    codebooks.flatMap(_.map(c => c.map(x => x * x).sum))

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(v: Any): Any =
    VectorExprUtil.pqEncode(v.asInstanceOf[ArrayData], flatCb, flatN2,
      m, k, dsub, roundScale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", flatCb, "double[]")
    val n2Ref = ctx.addReferenceObj("pqN2", flatN2, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorExprUtil.pqEncode($c, $cbRef, $n2Ref, " +
        s"$m, $k, $dsub, $roundScale)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** Codegen'd ADC lookup-sum: (codes ARRAY<INT>, table ARRAY<ARRAY<DOUBLE>>)
  * → Σ_j table(j)(codes(j)).
  */
case class AdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_score"

  override def nullSafeEval(codes: Any, table: Any): Any =
    VectorExprUtil.adcScore(codes.asInstanceOf[ArrayData],
      table.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, t) =>
      s"graft.functions.VectorExprUtil.adcScore($c, $t)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AdcScore = copy(left = newLeft, right = newRight)
}

/** Codegen'd symmetric-distance (SDC) lookup-sum over TWO code arrays —
  * the per-PAIR screen of PQ-coded SemDeDup: Σ_j T_j[c1_j][c2_j] with the
  * m×k×k subspace dot tables flattened as a plan reference object.
  * Summation order matches the HOF form it replaces (j ascending), so the
  * rounded screen values are bit-identical. `tables` is an IndexedSeq for
  * structural equality (the [[BpeEncodeExpr]] canonicalization argument —
  * an Array field would compare by reference and break plan-cache dedup).
  */
case class SdcScore(left: Expression, right: Expression,
    tables: IndexedSeq[Double], k: Int)
    extends BinaryExpression {
  @transient private lazy val flat: Array[Double] = tables.toArray

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sdc_score"

  override def nullSafeEval(c1: Any, c2: Any): Any =
    VectorExprUtil.sdcScore(c1.asInstanceOf[ArrayData],
      c2.asInstanceOf[ArrayData], flat, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("sdcTables", flat, "double[]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorExprUtil.sdcScore($a, $b, $tRef, $k)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SdcScore = copy(left = newLeft, right = newRight)
}

/** Codegen'd multi-cell probe: ARRAY<DOUBLE> vector → ARRAY<INT> of the
  * `n` nearest centroid ids, (distance, cid)-ordered — the query-side
  * assignment of kNN-graph construction, where the "query" set is the
  * corpus itself and probing must stay in the codegen'd per-row loop.
  */
case class NearestCellsExpr(child: Expression,
    centroids: Array[Array[Double]], roundScale: Int, n: Int)
    extends UnaryExpression {
  private val nCells = centroids.length
  private val dim = centroids.head.length
  @transient private lazy val flat: Array[Double] = centroids.flatten
  @transient private lazy val n2: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override def nullSafeEval(v: Any): Any =
    VectorExprUtil.nearestCells(v.asInstanceOf[ArrayData], flat, n2,
      nCells, dim, roundScale, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", flat, "double[]")
    val n2Ref = ctx.addReferenceObj("ivfN2", n2, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorExprUtil.nearestCells($c, $cRef, $n2Ref, " +
        s"$nCells, $dim, $roundScale, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

/** Codegen'd IVF cell assignment: ARRAY<DOUBLE> vector → INT id of the
  * nearest centroid (centroids as a plan reference object — one tight loop
  * per row over nCells·dim cells).
  */
case class NearestCellExpr(child: Expression,
    centroids: Array[Array[Double]], roundScale: Int)
    extends UnaryExpression {
  private val nCells = centroids.length
  private val dim = centroids.head.length
  @transient private lazy val flat: Array[Double] = centroids.flatten
  @transient private lazy val n2: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_nearest_cell"

  override def nullSafeEval(v: Any): Any =
    VectorExprUtil.nearestCell(v.asInstanceOf[ArrayData], flat, n2,
      nCells, dim, roundScale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", flat, "double[]")
    val n2Ref = ctx.addReferenceObj("ivfN2", n2, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorExprUtil.nearestCell($c, $cRef, $n2Ref, " +
        s"$nCells, $dim, $roundScale)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellExpr =
    copy(child = newChild)
}

object VectorFns {
  /** Codegen'd dot(a, b) over two ARRAY<DOUBLE> columns. */
  def dotNative(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(
      ColumnShim.expression(a.cast("array<double>")),
      ColumnShim.expression(b.cast("array<double>"))))

  /** Dense ARRAY<DOUBLE>(dims) from ARRAY<STRUCT<i INT, v DOUBLE>> entries. */
  def denseFromEntries(entries: Column, dims: Int): Column =
    ColumnShim.column(DenseFromEntries(ColumnShim.expression(entries), dims))

  /** Positions where two ARRAY<LONG> agree (MinHash similarity estimate). */
  def matchCount(a: Column, b: Column): Column =
    ColumnShim.column(LongMatchCount(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Codegen'd PQ codes of an ARRAY<DOUBLE> vector (roundScale < 0 = exact). */
  def pqEncodeNative(vec: Column, codebooks: Array[Array[Array[Double]]],
      roundScale: Int): Column =
    ColumnShim.column(PqEncodeExpr(
      ColumnShim.expression(vec.cast("array<double>")), codebooks, roundScale))

  /** Codegen'd ADC lookup-sum over (codes, per-query table). */
  def adcNative(codes: Column, table: Column): Column =
    ColumnShim.column(AdcScore(
      ColumnShim.expression(codes), ColumnShim.expression(table)))

  /** Codegen'd SDC lookup-sum over two code columns with the m×k×k
    * subspace dot tables embedded (flattened j·k²+a·k+b layout).
    */
  def sdcNative(c1: Column, c2: Column, tables: Seq[Seq[Seq[Double]]]): Column = {
    val k = tables.head.length
    ColumnShim.column(SdcScore(
      ColumnShim.expression(c1), ColumnShim.expression(c2),
      tables.flatMap(_.flatten).toVector, k))
  }

  /** Codegen'd nearest-centroid id of an ARRAY<DOUBLE> vector. */
  def nearestCellNative(vec: Column, centroids: Array[Array[Double]],
      roundScale: Int): Column =
    ColumnShim.column(NearestCellExpr(
      ColumnShim.expression(vec.cast("array<double>")), centroids, roundScale))

  /** Codegen'd top-n nearest-centroid ids ((distance, cid)-ordered). */
  def nearestCellsNative(vec: Column, centroids: Array[Array[Double]],
      roundScale: Int, n: Int): Column =
    ColumnShim.column(NearestCellsExpr(
      ColumnShim.expression(vec.cast("array<double>")), centroids,
      roundScale, n))
}
