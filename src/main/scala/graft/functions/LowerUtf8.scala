package graft.functions

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Lowercasing for UTF8_BINARY strings, bit-identical to Spark's `lower`
  * without its first-call cost.
  *
  * Why this exists: in Spark 4.1.2, `lower()` on a UTF8_BINARY string runs
  * `CollationSupport.Lower.execBinaryICU` →
  * `CollationAwareUTF8String.toLowerCase`. The first such call in a JVM
  * runs the static initializer of `CollationAwareUTF8String`, which builds
  * its `codepointOneToManyTitleCaseLookupTable` field by calling ICU
  * `toTitleCase` with a word `BreakIterator` across the code-point range.
  * That costs 1.6–1.9 s (4-core host) even when every input is ASCII, and
  * it sat on the `etl` job's critical path (the merge's key normalization,
  * [[graft.operators.Relational.normalizeKey]]). The table is only used
  * by title-casing; lowercasing never reads it.
  *
  * [[lower]] is the body Spark runs, minus the class that owns the table:
  *  - ICU case mappings on (the default): `CollationAwareUTF8String
  *    .toLowerCase(u)`, i.e. the ASCII fast path, else ICU
  *    `UCharacter.toLowerCase` of the valid-UTF-8 string;
  *  - ICU off: `UTF8String.toLowerCase` (`CollationSupport.Lower.execBinary`).
  *
  * Delete this file (and point [[TextFunctions.lowerUtf8]] back at
  * `functions.lower`) once Spark builds that table lazily.
  */
object CaseKernels {
  def lower(u: UTF8String, useIcu: Boolean): UTF8String =
    if (!useIcu) u.toLowerCase
    else if (u.isFullAscii) u.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(u.toValidString))
}

/** `lower(child)` for UTF8_BINARY strings through [[CaseKernels.lower]],
  * with whole-stage codegen. `useIcu` is read lazily from
  * `spark.sql.icu.caseMappings.enabled`, exactly as Spark's `Lower.useICU`
  * is, so both follow the same session setting. Null in, null out; a
  * collated or non-string input is refused at analysis.
  */
case class LowerUtf8(child: Expression) extends UnaryExpression {

  private lazy val useIcu: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType
        if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lower_utf8 expects a UTF8_BINARY string, got ${other.sql}")
  }

  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lower_utf8"

  override def nullSafeEval(v: Any): Any =
    CaseKernels.lower(v.asInstanceOf[UTF8String], useIcu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CaseKernels.lower($c, $useIcu)")

  override protected def withNewChildInternal(newChild: Expression): LowerUtf8 =
    copy(child = newChild)
}
