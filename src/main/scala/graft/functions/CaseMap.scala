package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnaryExpression, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.CollationFactory.UTF8_BINARY_COLLATION_ID
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `lower`/`upper` over UTF8_BINARY strings with ICU case mappings, as
  * a native expression (`graft_lower` / `graft_upper` in `explain`).
  *
  * It computes exactly what Spark's own ICU path computes for the
  * default collation (`CollationSupport.Lower.execBinaryICU`): the
  * ASCII fast path, else ICU `UCharacter.toLowerCase` on the valid
  * string (invalid UTF-8 bytes become U+FFFD first). What it avoids is
  * the class Spark routes that call through,
  * `CollationAwareUTF8String`, whose static initializer builds a title
  * case table by calling ICU `toTitleCase` once per code point: ~2 s
  * of CPU on the first `lower` in a JVM, even for ASCII input.
  * [[CaseMapRewrite]] puts this expression in place of `Lower`/`Upper`.
  */
case class CaseMap(child: Expression, toUpper: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (CaseMap.utf8Binary(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a UTF8_BINARY string, got ${child.dataType}")

  override def dataType: DataType = child.dataType
  override def prettyName: String =
    if (toUpper) "graft_upper" else "graft_lower"
  override def nullIntolerant: Boolean = true
  // shown as graft_lower(x), not graft_lower(x, false)
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (toUpper) CaseMap.upper(s) else CaseMap.lower(s)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fn = if (toUpper) "upper" else "lower"
    defineCodeGen(ctx, ev, c => s"graft.functions.CaseMap.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CaseMap =
    copy(child = newChild)
}

object CaseMap {

  private[functions] def utf8Binary(t: DataType): Boolean = t match {
    case st: StringType => st.collationId == UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  /** Shared by interpreted eval and generated code. */
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))
}

/** Optimizer rule: every `Lower`/`Upper` over a UTF8_BINARY string
  * becomes [[CaseMap]] while `spark.sql.icu.caseMappings.enabled` is on
  * (the default). Other collations, `initcap` and the JVM case-mapping
  * path (conf off) stay with Spark. Installed by [[GraftExtensions]]. */
object CaseMapRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)) plan
    else plan.transformAllExpressionsWithPruning(
        _.containsPattern(UPPER_OR_LOWER)) {
      case Lower(c) if CaseMap.utf8Binary(c.dataType) => CaseMap(c, toUpper = false)
      case Upper(c) if CaseMap.utf8Binary(c.dataType) => CaseMap(c, toUpper = true)
    }
}
