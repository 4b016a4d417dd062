package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused IVF codebook scan (see [[PqKernel]] for the pattern): the
  * per-vector top-`n` centroids by round(cosine, 6) DESC with
  * cent_id ASC tie-break — EXACTLY the ordering of the
  * `row_number() OVER (PARTITION BY vec_id ORDER BY sim_r DESC,
  * cent_id)` window it replaces, but as one kernel call per corpus
  * row against the broadcast-literal codebook.
  *
  * Why: the window formulation materializes corpus × cells rows
  * through a shuffle AND pins them (quadratic once the codebook obeys
  * the k ∝ corpus rule — knnIvfTrained measured 129 s on 10× and
  * non-terminating at 100×, COVERAGE.md Round 17 R5), and the map-side
  * `aggregate` HOF alternative runs `cells` interpreted lambda
  * closures with a BigDecimal round each per row. The kernel is a
  * primitive loop, codegen-friendly, and rounds exactly like
  * Catalyst ONLY for candidates within 2·10⁻⁶ of the running top-n
  * raw boundary (round6 is monotone with |Δ| ≤ 5·10⁻⁷, so anything
  * further cannot enter or reorder the top n — [[PqKernel.assign]]'s
  * argument, applied to a DESC top-n). */
object IvfKernel {

  /** Top-`n` (cent_id, sim_r) of `v` against the codebook, ranked.
    * `ids` must be sorted ascending — index order then IS the
    * tie-break order.
    *
    * Degenerate-input policy (documented, spec-pinned): a NON-FINITE
    * similarity (a zero-norm or NaN/Inf vector makes EVERY cosine
    * NaN; an individual NaN centroid makes its own) is never a
    * candidate — such cells are skipped, and a vector with fewer than
    * `n` finite similarities emits a SHORTER array (empty for a fully
    * degenerate vector, which thereby drops out of the index/probe
    * frames after the posexplode instead of crashing the scan). The
    * window formulation this kernel replaced ranked NaN highest
    * (Spark's NaN ordering), i.e. indexed garbage cells; excluding
    * them is the correction, not a drift. */
  def topN(v: ArrayData, norm: Double, ids: Array[UTF8String],
      cvs: Array[Array[Double]], norms: Array[Double],
      n: Int): ArrayData = {
    val cells = ids.length
    if (cells == 0) return new GenericArrayData(new Array[Any](0))
    val dim = cvs(0).length
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_ivf_topn: vector dimension ${v.numElements()} does not " +
          s"match codebook dimension $dim — the scanned vectors and the " +
          "codebook were built with different dims")
    val raw = new Array[Double](cells)
    var c = 0
    while (c < cells) {
      var ab = 0.0
      val cv = cvs(c)
      var i = 0
      while (i < dim) { ab += v.getDouble(i) * cv(i); i += 1 }
      raw(c) = ab / (norm * norms(c))
      c += 1
    }
    // n-th largest FINITE raw value (n is tiny: selection into a small
    // array). NaN/Inf never enter: NaN comparisons are false, and Inf
    // is explicitly excluded so round6 (BigDecimal) can't throw below.
    val k = math.min(n, cells)
    val top = Array.fill(k)(Double.NegativeInfinity)
    c = 0
    while (c < cells) {
      val x = raw(c)
      if (java.lang.Double.isFinite(x) && x > top(k - 1)) {
        var j = k - 1
        while (j > 0 && top(j - 1) < x) { top(j) = top(j - 1); j -= 1 }
        top(j) = x
      }
      c += 1
    }
    val bound = top(k - 1) - 2e-6
    // exact-round the finite survivors only; keep (idx, r6). If fewer
    // than k similarities are finite, bound is -Inf and every finite
    // cell is a candidate (m < k is handled by the shorter output).
    var m = 0
    val candIdx = new Array[Int](cells)
    val candR6 = new Array[Double](cells)
    c = 0
    while (c < cells) {
      if (java.lang.Double.isFinite(raw(c)) && raw(c) > bound) {
        candIdx(m) = c
        candR6(m) = PqKernel.round6(raw(c))
        m += 1
      }
      c += 1
    }
    // rank: repeatedly take (max r6, min idx) — idx asc == id asc
    val outLen = math.min(k, m)
    val used = new Array[Boolean](m)
    val out = new Array[Any](outLen)
    var r = 0
    while (r < outLen) {
      var best = -1
      var j = 0
      while (j < m) {
        if (!used(j) && (best < 0 || candR6(j) > candR6(best)))
          best = j
        j += 1
      }
      used(best) = true
      out(r) = new GenericInternalRow(
        Array[Any](ids(candIdx(best)), candR6(best)))
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_ivf_topn(v, norm, ids, cvs, norms, n)` → ranked
  * array<struct<cent_id: string, sim_r: double>> of the query's `n`
  * nearest centroids. `ids`/`cvs`/`norms` must be foldable literals
  * (the collected codebook, sorted by cent_id — bounded at
  * 2^cellDims rows by construction); `n` a literal int. */
case class IvfTopN(v: Expression, norm: Expression, ids: Expression,
    cvs: Expression, norms: Expression, n: Int) extends Expression {

  override def prettyName: String = "graft_ivf_topn"
  override def children: Seq[Expression] = Seq(v, norm, ids, cvs, norms)
  override def nullable: Boolean = true
  override lazy val foldable: Boolean = v.foldable && norm.foldable

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cent_id", StringType, nullable = false),
    StructField("sim_r", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(dt: DataType, el: DataType) = dt match {
      case ArrayType(e, _) => e == el; case _ => false
    }
    val ok = arr(v.dataType, DoubleType) && norm.dataType == DoubleType &&
      arr(ids.dataType, StringType) &&
      (cvs.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      }) && arr(norms.dataType, DoubleType)
    if (!ok)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
        "(array<double>, double, array<string>, array<array<double>>, " +
        "array<double>, int literal), got " +
        children.map(_.dataType.simpleString).mkString(", "))
    else if (!(ids.foldable && cvs.foldable && norms.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: the codebook arguments must be literals")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val idsLocal: Array[UTF8String] = {
    val a = ids.eval(null).asInstanceOf[ArrayData]
    val out = Array.tabulate(a.numElements())(i => a.getUTF8String(i))
    require(out.sliding(2).forall(p =>
        p.length < 2 || p(0).compareTo(p(1)) < 0),
      s"$prettyName: codebook ids must be sorted ascending and distinct")
    out
  }
  @transient private lazy val cvsLocal: Array[Array[Double]] = {
    val a = cvs.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(i => a.getArray(i).toDoubleArray())
  }
  @transient private lazy val normsLocal: Array[Double] = {
    val a = norms.eval(null).asInstanceOf[ArrayData]
    a.toDoubleArray()
  }

  override def eval(input: InternalRow): Any = {
    val vVal = v.eval(input)
    val nVal = norm.eval(input)
    if (vVal == null || nVal == null) null
    else IvfKernel.topN(vVal.asInstanceOf[ArrayData],
      nVal.asInstanceOf[Double], idsLocal, cvsLocal, normsLocal, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val idsRef = ctx.addReferenceObj("ivfIds", idsLocal,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val cvsRef = ctx.addReferenceObj("ivfCvs", cvsLocal, "double[][]")
    val normsRef = ctx.addReferenceObj("ivfNorms", normsLocal, "double[]")
    val vGen = v.genCode(ctx)
    val nGen = norm.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val resultCode =
      code"""
        ${vGen.code}
        ${nGen.code}
        boolean ${ev.isNull} = ${vGen.isNull} || ${nGen.isNull};
        $javaType ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.IvfKernel.topN(
            ${vGen.value}, ${nGen.value}, $idsRef, $cvsRef, $normsRef, $n);
        }
        """
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IvfTopN =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), n)
}
