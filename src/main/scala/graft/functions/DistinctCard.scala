package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, Expression, Size, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `|distinct(a)|` for an `array<string>` column WITHOUT materializing
  * the distinct array.
  *
  * The composable form `size(array_distinct(a))` — the per-row lexical
  * diversity kernel inside the quality score (q21/q58/q71), repetition
  * scoring (q57), and every curation chain that embeds them — builds a
  * dedup hash set AND copies the survivors into a fresh UnsafeArrayData
  * per row, only for `size` to read its length. This native expression
  * keeps the hash set and drops the output array: one pass, cardinality
  * out, with whole-stage codegen via `doGenCode` (same sanctioned
  * custom-Expression escalation as [[SetCard]], SURVEY §7.4).
  *
  * Semantics replicate `size(array_distinct(a))` exactly: null INPUT →
  * null (non-legacy `size`), null ELEMENTS collapse to one distinct
  * member.
  *
  * Callers never write it: the [[DistinctCard.RewriteRule]] optimizer
  * rule (injected through `SparkSessionExtensions.injectOptimizerRule`,
  * see [[graft.GraftSession]]) rewrites the composable pattern into
  * this kernel wherever it appears, so every operator keeps its
  * declarative form and still runs the fused plan.
  */
final case class StringDistinctCard(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"requires array<string>, got ${t.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "string_distinct_card"

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val set = new java.util.HashSet[UTF8String]()
    var nullSeen = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) nullSeen = 1
      else set.add(arr.getUTF8String(i))
      i += 1
    }
    set.size() + nullSeen
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val set = ctx.freshName("set"); val nullSeen = ctx.freshName("nullSeen")
      s"""
         |final int $n = $a.numElements();
         |final java.util.HashSet<org.apache.spark.unsafe.types.UTF8String> $set =
         |  new java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>();
         |int $nullSeen = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $nullSeen = 1; }
         |  else { $set.add($a.getUTF8String($i)); }
         |}
         |${ev.value} = $set.size() + $nullSeen;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): StringDistinctCard =
    copy(child = newChild)
}

object DistinctCard {

  /** Optimizer rewrite: `size(array_distinct(a))` → native
    * [[StringDistinctCard]] for string arrays. Guarded to non-legacy
    * `size` semantics (legacy returns -1 for null input; the kernel,
    * like any null-safe unary, returns null — matching only the
    * default mode). Injected session-wide, so every operator written
    * in the composable form runs the fused kernel — predicate
    * positions, projections, and aggregate inputs alike. */
  final class RewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case Size(ArrayDistinct(child), false)
            if child.dataType.isInstanceOf[ArrayType] &&
              child.dataType.asInstanceOf[ArrayType].elementType == StringType =>
          StringDistinctCard(child)
      }
  }

  val injection: SparkSession => Rule[LogicalPlan] = new RewriteRule(_)
}
