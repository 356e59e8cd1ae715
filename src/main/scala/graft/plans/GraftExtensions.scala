package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions registration so every native expression is also
  * callable from SQL (`SELECT graft_simhash64(split(lower(text), '\\s+'))
  * ...`) — the full `spark.sql` surface, not just the DataFrame API (the
  * DataFrame path wraps the expressions directly via TextFns/VectorFns
  * and needs no registration). Size parameters (k, n, w) must be INT
  * literals: they become part of the generated code, not per-row inputs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: the size argument must be an INT literal, got $other")
  }

  private def register(
      ext: SparkSessionExtensions, name: String, clazz: Class[_],
      arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        if (children.length != arity)
          throw new IllegalArgumentException(
            s"$name expects exactly $arity arguments: $usage; " +
              s"got ${children.length}")
        build(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_dot", classOf[DotProductExpr], 2,
      "graft_dot(array<float|double>, array<float|double>)")(
      c => DotProductExpr(c(0), c(1)))
    register(ext, "graft_dsum", classOf[DsumAgg], 1,
      "graft_dsum(numeric)")(
      c => DsumAgg(c(0)).toAggregateExpression())
    register(ext, "graft_minhash_sig", classOf[MinHashSigExpr], 2,
      "graft_minhash_sig(array<bigint> shingleHashes, int k)")(
      c => MinHashSigExpr(c(0), intLit(c(1), "graft_minhash_sig")))
    register(ext, "graft_ngram_hash", classOf[NGramHashExpr], 2,
      "graft_ngram_hash(array<string> tokens, int n)")(
      c => NGramHashExpr(c(0), intLit(c(1), "graft_ngram_hash")))
    register(ext, "graft_ngrams", classOf[NGramStringExpr], 2,
      "graft_ngrams(array<string> tokens, int n)")(
      c => NGramStringExpr(c(0), intLit(c(1), "graft_ngrams")))
    register(ext, "graft_simhash64", classOf[SimHashExpr], 1,
      "graft_simhash64(array<string> tokens)")(
      c => SimHashExpr(c(0)))
    register(ext, "graft_top_bigram", classOf[TopBigramExpr], 1,
      "graft_top_bigram(array<string> tokens)")(
      c => TopBigramExpr(c(0)))
    register(ext, "graft_winnow", classOf[WinnowExpr], 2,
      "graft_winnow(array<bigint> hashes, int w)")(
      c => WinnowExpr(c(0), intLit(c(1), "graft_winnow")))
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}
