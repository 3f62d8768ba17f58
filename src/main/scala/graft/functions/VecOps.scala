package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._

/** Native vector fold expressions for the embedding-similarity hot path.
  *
  * The ANN family originally scored pairs through interpreted
  * higher-order functions (`aggregate(zip_with(a, b, (x,y) => x*y), …)`)
  * — no codegen, one closure call per element per pair. These
  * expressions run the same index-ordered fold as a tight generated
  * loop inside whole-stage codegen (and a `while` loop in interpreted
  * eval), with HOF-identical semantics so every oracle stays bit-exact:
  * sequential left-to-right accumulation from 0.0, null result when the
  * inputs differ in length (zip_with would null-pad) or any element is
  * null.
  */
abstract class VecFold extends VecPair {

  /** Per-element contribution, e.g. x*y for dot. */
  protected def combine(x: Double, y: Double): Double
  /** Java source of the contribution over element vars `x`/`y`. */
  protected def combineJava(x: String, y: String): String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc = acc + combine(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) {
              ${ev.isNull} = true;
              break;
            }
            final double $x = $a.getDouble($i);
            final double $y = $b.getDouble($i);
            $acc += ${combineJava(x, y)};
          }
          if (!${ev.isNull}) {
            ${ev.value} = $acc;
          }
        }
      """
    })
}

/** Σ aᵢ·bᵢ — the cosine numerator. */
case class VecDot(left: Expression, right: Expression) extends VecFold {
  override protected def combine(x: Double, y: Double): Double = x * y
  override protected def combineJava(x: String, y: String): String =
    s"$x * $y"
  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot = copy(newLeft, newRight)
}

/** Σ (aᵢ−bᵢ)² — squared Euclidean distance (IVF probe, centroid
  * assignment). */
case class VecSqDist(left: Expression, right: Expression) extends VecFold {
  override protected def combine(x: Double, y: Double): Double =
    (x - y) * (x - y)
  override protected def combineJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override def prettyName: String = "vec_sqdist"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecSqDist = copy(newLeft, newRight)
}

/** Exact-decimal fold runtime shared by interpreted eval and generated
  * code (top-level object → static forwarders, callable from codegen).
  *
  * `sqDist18` is BIT-IDENTICAL to the repo's interpreted HOF
  * formulation `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)),
  * 0 as decimal(32,18), (acc,t) => (acc + cast(t as
  * decimal(24,18))).cast(decimal(32,18))).cast(double)`:
  *  - each term rounds to scale 18 via the canonical-string BigDecimal
  *    of the double (exactly Spark's double→decimal cast) with
  *    HALF_UP;
  *  - a term with ≥ 7 integer digits (≥ 10^6) overflows the (24,18)
  *    cast → null, as does NaN/±Inf, a null element, or a length
  *    mismatch (zip_with would null-pad);
  *  - accumulation is exact; the result is BigDecimal.doubleValue
  *    (= Decimal.toDouble).
  *
  * `sqDist18r6` is exactly `roundD(sqDist18(x, y), 6)` — Spark's
  * `round(vec_sqdist18(a, b), 6)` — with null as NaN (the rounded
  * distance is never NaN otherwise). It certifies a double-double
  * estimate instead of running the BigDecimal fold:
  *  - it keeps the fold's double terms `dd = (x−y)²` and its null rule,
  *    and sums them exactly-rounded in double-double (TwoSum) into X;
  *  - each decimal term is within ½ulp(dd) of dd (Double.toString
  *    round-trips) plus ½e-18 (the scale-18 HALF_UP), the double-double
  *    sum is within ½ulp(X) + n²·2⁻¹⁰⁶·X of Σdd, and the decimal string
  *    `roundD` reads is within ½ulp(r) of r = the fold's double, itself
  *    within ½ulp of the exact decimal sum; so the string lies within
  *    B = Σ(ulp(dd) + 1e-18) + 4·ulp(X) of X, with at least
  *    n·½e-18 to spare for the rounding of B and of the test below;
  *  - if [X−B, X+B]·1e6, widened by 4·ulp of the product, holds no
  *    half point k+½, every decimal in it rounds HALF_UP to k, and
  *    `k / 1e6` is the correctly rounded double of k·10⁻⁶, which is
  *    what `BigDecimal(k, 6).doubleValue` returns;
  *  - otherwise (distance within ~1e-15 of a half point, product ≥
  *    1e15, or ≥ 2²⁴ terms) it runs the exact fold: that stays the one
  *    reference path, and VecOpsSpec drives half points through it.
  */
object VecDecimal {
  def sqDist18(x: ArrayData, y: ArrayData): java.lang.Double =
    sqDist18(doubles(x), doubles(y))

  /** [[sqDist18]] over plain PRIMITIVE arrays — the RDD twin of an
    * `array<double>` column with containsNull, with null elements
    * carried as NaN (the fit-loop cache sentinel: a null element and a
    * NaN element are indistinguishable to every decimal fold — both
    * null the whole distance here, via the `!(dd < 1e6)` guard, and
    * both drop out of [[dec18]] sums). */
  def sqDist18(x: Array[Double], y: Array[Double])
      : java.lang.Double = {
    if (x == null || y == null || x.length != y.length) return null
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < x.length) {
      val d = x(i) - y(i)
      val dd = d * d
      if (!(dd < 1e6)) return null // NaN / null / Inf / (24,18) overflow
      acc = acc.add(new java.math.BigDecimal(
          java.lang.Double.toString(dd))
        .setScale(18, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    java.lang.Double.valueOf(acc.doubleValue)
  }

  /** `round(vec_sqdist18(x, y), 6)`, null as NaN (see the object doc). */
  def sqDist18r6(x: ArrayData, y: ArrayData): Double =
    sqDist18r6(doubles(x), doubles(y))

  /** [[sqDist18r6]] over primitive arrays, null elements as NaN. */
  def sqDist18r6(x: Array[Double], y: Array[Double]): Double = {
    val r = fastR6(x, y)
    if (r != Uncertain) r
    else {
      val sq = sqDist18(x, y)
      if (sq == null) Double.NaN else roundD(sq.doubleValue, 6)
    }
  }

  /** An `array<double>` value as a primitive array, null elements as
    * NaN (which every fold here treats as null). */
  private def doubles(a: ArrayData): Array[Double] = {
    val out = new Array[Double](a.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = if (a.isNullAt(i)) Double.NaN else a.getDouble(i)
      i += 1
    }
    out
  }

  /** [[fastR6]]'s answer when it cannot certify the rounding. */
  private[graft] final val Uncertain = -1.0

  /** The certified fast path of [[sqDist18r6]]: the rounded distance,
    * NaN for null, or [[Uncertain]] when its band holds a half point. */
  private[graft] def fastR6(x: Array[Double], y: Array[Double]): Double = {
    if (x == null || y == null || x.length != y.length) return Double.NaN
    var hi = 0.0
    var lo = 0.0
    var b = 0.0
    var i = 0
    while (i < x.length) {
      val d = x(i) - y(i)
      val dd = d * d
      if (!(dd < 1e6)) return Double.NaN
      val s = hi + dd // TwoSum: hi + dd == s + err exactly
      val bv = s - hi
      lo += (hi - (s - bv)) + (dd - bv)
      hi = s
      b += Math.ulp(dd) + 1e-18
      i += 1
    }
    // k / 1e6 when every decimal within b + 4·ulp(X) of X rounds
    // HALF_UP at scale 6 to k; p − k is exact (Sterbenz) and k is an
    // exact integer below 1e15
    val sum = hi + lo
    val p = sum * 1e6
    val k = Math.rint(p)
    if (x.length < (1 << 24) && p < 1e15 && Math.abs(p - k)
        + (b + 4 * Math.ulp(sum)) * 1e6 + 4 * Math.ulp(p) < 0.5) k / 1e6
    else Uncertain
  }

  /** JVM twin of Spark's `CAST(double AS DECIMAL(38,18))`: canonical
    * Double.toString → BigDecimal, setScale(18, HALF_UP), null on
    * NaN/Inf or precision overflow (> 38 digits) — exactly
    * Cast.changePrecision under ANSI off. */
  def dec18(d: Double): java.math.BigDecimal = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      return null
    val b = new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(18, java.math.RoundingMode.HALF_UP)
    if (b.precision > 38) null else b
  }

  /** JVM twin of Spark's `round(double, scale)` (RoundBase, HALF_UP):
    * NaN/Inf pass through, otherwise decimal-string BigDecimal setScale
    * — the tiebreak/emit rounding the fit loops share with the column
    * program. */
  def roundD(d: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue
}

/** Two `array<double>` inputs, a nullable double out: the shape every
  * vector expression here shares. */
trait VecPair extends BinaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"$prettyName requires array<double> inputs, got $l / $r")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

/** Exact scale-18 Σ (aᵢ−bᵢ)² as a native expression — the distance
  * sums and d2 columns that keep the unrounded value (one tight JIT
  * loop instead of an interpreted HOF chain; see
  * [[VecDecimal.sqDist18]] for the bit-parity contract). */
case class VecSqDist18(left: Expression, right: Expression)
    extends VecPair {
  override def prettyName: String = "vec_sqdist18"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDecimal.sqDist18(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Double $r =
          graft.functions.VecDecimal.sqDist18($a, $b);
        if ($r == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $r.doubleValue();
        }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecSqDist18 = copy(newLeft, newRight)
}

/** `round(vec_sqdist18(a, b), 6)` fused into one expression — the
  * nearest-centroid, PQ-code and re-rank distance wherever only the
  * rounded value is used ([[VecDecimal.sqDist18r6]]). */
case class VecSqDist18R6(left: Expression, right: Expression)
    extends VecPair {
  override def prettyName: String = "vec_sqdist18_r6"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VecDecimal.sqDist18r6(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(r)) null else r
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        final double $r = graft.functions.VecDecimal.sqDist18r6($a, $b);
        if (java.lang.Double.isNaN($r)) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $r;
        }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecSqDist18R6 = copy(newLeft, newRight)
}

object VecOps {
  def dot(a: Column, b: Column): Column =
    Bridge.col(VecDot(Bridge.expr(a), Bridge.expr(b)))

  def sqDist(a: Column, b: Column): Column =
    Bridge.col(VecSqDist(Bridge.expr(a), Bridge.expr(b)))

  def sqDist18(a: Column, b: Column): Column =
    Bridge.col(VecSqDist18(Bridge.expr(a), Bridge.expr(b)))

  /** `round(sqDist18(a, b), 6)` as one fused expression. */
  def sqDist18r6(a: Column, b: Column): Column =
    Bridge.col(VecSqDist18R6(Bridge.expr(a), Bridge.expr(b)))
}
