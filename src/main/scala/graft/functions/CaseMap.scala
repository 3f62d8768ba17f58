package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `upper(s)` that maps an all-ASCII value without touching ICU.
  *
  * Spark's `Upper` (with `spark.sql.icu.caseMappings.enabled`, on by
  * default) calls the static `CollationAwareUTF8String.toUpperCase`.
  * For an ASCII value that method returns `toUpperCaseAscii`, but
  * calling it first runs the class's static initializer, which builds a
  * title-case table by calling ICU `UCharacter.toTitleCase` on all
  * 1,114,112 code points: seconds of one thread, ~3 GB allocated, and
  * every other task that reaches `upper` waits on the class-init lock.
  *
  * Contract: an all-ASCII value returns `v.toUpperCaseAscii` — the same
  * call Spark's ICU path, its JVM path and its ICU-collation path make
  * for such a value. Any other value returns
  * `CollationSupport.Upper.exec(v, collationId, useICU)`, the function
  * Spark's `Upper` evaluates. Every output is therefore Spark's own, bit
  * for bit, and a non-ASCII value still pays the initializer once, when
  * the first one is seen. `useICU` is read from the session conf when
  * the column is built, as Spark's `Upper` reads it when it first
  * evaluates; the type coercion and null handling are
  * `String2StringExpression`'s, as for `Upper`.
  */
case class UpperAsciiFirst(child: Expression, useICU: Boolean)
    extends UnaryExpression with String2StringExpression {

  override def prettyName: String = "upper"
  override def nullIntolerant: Boolean = true

  private lazy val collationId: Int =
    child.dataType.asInstanceOf[StringType].collationId

  override def convert(v: UTF8String): UTF8String =
    if (v.isFullAscii) v.toUpperCaseAscii
    else CollationSupport.Upper.exec(v, collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"($c.isFullAscii() ? $c.toUpperCaseAscii() : " +
        "org.apache.spark.sql.catalyst.util.CollationSupport.Upper.exec(" +
        s"$c, $collationId, $useICU))")

  override protected def withNewChildInternal(
      newChild: Expression): UpperAsciiFirst = copy(child = newChild)
}

object CaseMap {

  /** `functions.upper(c)`, bit for bit, with ASCII values kept off ICU
    * ([[UpperAsciiFirst]]). */
  def upper(c: Column): Column =
    Bridge.col(UpperAsciiFirst(Bridge.expr(c),
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)))
}
