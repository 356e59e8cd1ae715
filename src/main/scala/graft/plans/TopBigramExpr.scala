package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Largest number of times any adjacent token pair occurs in a token
  * array, counted in one O(n) pass over a hash map: the `max(count)` of
  * an explode-bigrams → groupBy(doc, bigram) → groupBy(doc) chain, kept
  * in-row so a per-document statistic pays no token-level shuffle.
  * Fewer than 2 tokens give 0; a NULL array gives NULL. Pairs are
  * compared token by token (a NULL element equals another NULL), so no
  * separator can make two different pairs collide.
  */
case class TopBigramExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_bigram expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    TopBigramExpr.topCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      a => s"${ev.value} = graft.plans.TopBigramExpr.topCount($a);")

  override protected def withNewChildInternal(newChild: Expression): TopBigramExpr =
    copy(child = newChild)

  override def prettyName: String = "top_bigram"
}

object TopBigramExpr {
  private val plus: java.util.function.BiFunction[Integer, Integer, Integer] =
    (a, b) => a + b

  private def token(arr: ArrayData, i: Int): UTF8String =
    if (arr.isNullAt(i)) null else arr.getUTF8String(i)

  /** Shared by the eval and codegen paths. */
  def topCount(arr: ArrayData): Int = {
    val m = arr.numElements()
    if (m < 2) return 0
    val counts = new java.util.HashMap[(UTF8String, UTF8String), Integer](2 * m)
    var top = 0
    var prev = token(arr, 0)
    var i = 1
    while (i < m) {
      val cur = token(arr, i)
      val c: Int = counts.merge((prev, cur), 1, plus)
      if (c > top) top = c
      prev = cur
      i += 1
    }
    top
  }
}
