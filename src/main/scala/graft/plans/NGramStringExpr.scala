package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Space-joined n-gram strings of a token array in one pass: the body of
  * `TextFns.shingles`, so every string-shingle key runs on this kernel.
  * Where the array holds at least n tokens the output is byte-identical
  * to `transform(sequence(0, size(toks) - n), i -> concat_ws(' ',
  * slice(toks, i+1, n)))` (NativeExprSpec keeps that form as the
  * reference), without its per-shingle interpreted closure, slice
  * allocation and sequence array. Under n tokens it returns an empty
  * array, where that form failed on `slice` at index 0.
  */
case class NGramStringExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "n-gram size must be >= 1")

  private val SEP = UTF8String.fromString(" ")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_string expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[Any](m - n + 1)
    var j = 0
    while (j <= m - n) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = toks(j + k); k += 1 }
      out(j) = UTF8String.concatWs(SEP, parts: _*)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NGramStringExpr =
    copy(child = newChild)

  override def prettyName: String = "ngram_string"
}
