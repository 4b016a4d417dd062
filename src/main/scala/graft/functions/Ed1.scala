package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact edit-distance-≤-1 verify — the drop-in replacement for
  * `levenshtein(a, b, 1)` on the k=1 similarity-join hot path.
  *
  * Returns the same contract as the thresholded built-in: 0 when the
  * strings are equal, 1 when the edit distance is exactly 1, -1 when
  * it exceeds the threshold (and NULL on NULL input).
  *
  * Why not the built-in: `levenshtein(a, b, 1)` runs the banded DP —
  * per-call array allocation plus O(k·len) cell work — and the r18
  * stage-attribution probe measured it at ~2.4 µs/pair, the single
  * largest term of cls_fuzzy_join (~3 s of ~5.3 s at sf0.1; the
  * optimizer additionally evaluates it twice, once pushed into the
  * join condition and once in the output projection). For k=1 the DP
  * is overkill: ed(a,b) ≤ 1 iff after skipping the maximal common
  * code-point prefix, the tails match under ONE edit —
  *
  *   - both tails empty                  → distance 0 (equal),
  *   - drop 1 code point from both tails → rest byte-identical
  *     (substitution),
  *   - drop 1 code point from the longer tail → rest byte-identical
  *     (insert/delete),
  *   - otherwise                         → distance ≥ 2.
  *
  * One forward byte scan, two bounded tail compares, zero allocation.
  * Code-point semantics match the built-in (Spark's levenshtein walks
  * UTF-8 sequences, i.e. code points, not UTF-16 units); equal code
  * points are equal UTF-8 byte runs, so byte comparison is exact.
  * Input is assumed to be valid UTF-8 (what Spark's string functions
  * produce): the code-point walk steps over continuation bytes, so an
  * invalid byte sequence may get a different distance than the
  * built-in. Collated strings are accepted and compared by bytes,
  * collation-blind.
  * Ed1Spec pins the equivalence differentially (ASCII, multibyte,
  * astral-plane) and the interpreted/codegen parity.
  */
case class Ed1(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ed1"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Ed1.dist(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Ed1.dist($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Ed1 = copy(newLeft, newRight)
}

object Ed1 {

  /** UTF-8 continuation byte: 10xxxxxx. */
  @inline private def isCont(x: Byte): Boolean = (x & 0xC0) == 0x80

  /** Bytes [ai, ai+n) of `a` equal bytes [bi, bi+n) of `b`?
    * (callers have already bounds-checked the ranges) */
  private def sameBytes(a: UTF8String, ai0: Int, b: UTF8String,
      bi0: Int, n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (a.getByte(ai0 + i) != b.getByte(bi0 + i)) return false
      i += 1
    }
    true
  }

  /** `levenshtein(a, b, 1)` equivalent: 0 / 1 / -1 (over threshold). */
  def dist(a: UTF8String, b: UTF8String): Int = {
    val la = a.numBytes()
    val lb = b.numBytes()
    if (la == lb && sameBytes(a, 0, b, 0, la)) return 0
    // a single code point is 1-4 UTF-8 bytes, so ed==1 bounds the
    // byte-length difference by 4; cheap reject for the length band
    if (math.abs(la - lb) > 4) return -1
    // maximal common byte prefix, snapped back to a code-point
    // boundary in BOTH strings (prefix bytes are identical, so
    // boundaries inside it coincide; only the cut point can land
    // mid-character — in either string when the other ran out)
    val lim = math.min(la, lb)
    var p = 0
    while (p < lim && a.getByte(p) == b.getByte(p)) p += 1
    while (p > 0 && ((p < la && isCont(a.getByte(p))) ||
        (p < lb && isCont(b.getByte(p))))) p -= 1
    val ra = la - p // tail bytes of a (first code points differ)
    val rb = lb - p
    // one edit must fix the whole remainder:
    if (ra == 0 && rb == 0) return 0 // unreachable (equal fast path)
    if (ra == 0 || rb == 0) {
      // pure insert/delete of the single remaining code point
      val t = if (ra == 0) b else a
      val r = math.max(ra, rb)
      return if (UTF8String.numBytesForFirstByte(t.getByte(p)) == r) 1
        else -1
    }
    val ca = UTF8String.numBytesForFirstByte(a.getByte(p))
    val cb = UTF8String.numBytesForFirstByte(b.getByte(p))
    // substitution: drop the first (differing) code point of each
    // tail, rest must be byte-identical
    if (ra - ca == rb - cb && ra - ca >= 0 &&
      sameBytes(a, p + ca, b, p + cb, ra - ca)) return 1
    // deletion from a: drop a's first tail code point
    if (ra - ca == rb && sameBytes(a, p + ca, b, p, rb)) return 1
    // insertion into a (= deletion from b)
    if (rb - cb == ra && sameBytes(a, p, b, p + cb, ra)) return 1
    -1
  }
}
