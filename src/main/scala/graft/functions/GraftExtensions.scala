package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's custom expressions for SQL
  * users (`spark.sql("... wilder_ema(x, 0.05, 21) OVER (...)")`).
  * Install via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("wilder_ema"),
      new ExpressionInfo(classOf[WilderEma].getName, "wilder_ema"),
      GraftExtensions.wilderBuilder))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      GraftExtensions.vecDotBuilder))
    ext.injectFunction((
      new FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VecSqDist].getName, "vec_sqdist"),
      GraftExtensions.vecSqDistBuilder))
    ext.injectFunction((
      new FunctionIdentifier("vec_sqdist18"),
      new ExpressionInfo(classOf[VecSqDist18].getName, "vec_sqdist18"),
      GraftExtensions.vecSqDist18Builder))
    ext.injectFunction((
      new FunctionIdentifier("vec_sqdist18_r6"),
      new ExpressionInfo(classOf[VecSqDist18R6].getName, "vec_sqdist18_r6"),
      GraftExtensions.vecSqDist18R6Builder))
    ext.injectFunction((
      new FunctionIdentifier("marker_count"),
      new ExpressionInfo(classOf[MarkerCount].getName, "marker_count"),
      GraftExtensions.markerCountBuilder))
  }
}

object GraftExtensions {

  private[functions] val wilderBuilder: Seq[Expression] => Expression = {
    case Seq(c, a, m) => WilderEma(c, a, m)
    case other => throw new IllegalArgumentException(
      s"wilder_ema(value, alpha, min_samples) — got ${other.size} args")
  }

  private[functions] val vecDotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => VecDot(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_dot(a, b) — got ${other.size} args")
  }

  private[functions] val vecSqDistBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => VecSqDist(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_sqdist(a, b) — got ${other.size} args")
  }

  private[functions] val vecSqDist18Builder: Seq[Expression] => Expression = {
    case Seq(a, b) => VecSqDist18(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_sqdist18(a, b) — got ${other.size} args")
  }

  private[functions] val vecSqDist18R6Builder
      : Seq[Expression] => Expression = {
    case Seq(a, b) => VecSqDist18R6(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_sqdist18_r6(a, b) — got ${other.size} args")
  }

  /** marker_count(tokens, 'm1', 'm2', …): the marker set must be
    * string literals — it becomes the expression's broadcast hash set,
    * not a per-row argument. */
  private[functions] val markerCountBuilder: Seq[Expression] => Expression = {
    case exprs if exprs.size >= 2 =>
      val markers = exprs.tail.map {
        case org.apache.spark.sql.catalyst.expressions.Literal(
            s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case other => throw new IllegalArgumentException(
          s"marker_count markers must be string literals, got $other")
      }
      MarkerCount(exprs.head, markers)
    case other => throw new IllegalArgumentException(
      s"marker_count(tokens, marker, ...) — got ${other.size} args")
  }

  /** Register into an already-built session (extensions only apply at
    * session construction). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.graftinternal.Bridge.registerFunction(
      spark, "wilder_ema", wilderBuilder)
    org.apache.spark.sql.graftinternal.Bridge.registerFunction(
      spark, "vec_dot", vecDotBuilder)
    org.apache.spark.sql.graftinternal.Bridge.registerFunction(
      spark, "vec_sqdist", vecSqDistBuilder)
    org.apache.spark.sql.graftinternal.Bridge.registerFunction(
      spark, "vec_sqdist18", vecSqDist18Builder)
    org.apache.spark.sql.graftinternal.Bridge.registerFunction(
      spark, "vec_sqdist18_r6", vecSqDist18R6Builder)
    org.apache.spark.sql.graftinternal.Bridge.registerFunction(
      spark, "marker_count", markerCountBuilder)
  }
}
