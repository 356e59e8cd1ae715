package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Cost per row of graft's native expressions, through the SQL functions
  * graft.plans.GraftExtensions registers, over the run's own documents and
  * embeddings. Each input is repeated `copies` times and cached, so a
  * timed query only projects; the time of a pass-through projection of the
  * same column is subtracted. Each figure is a median of `reps` queries.
  */
object ExprBench {
  private val copies = 40
  private val reps = 3

  private def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

  private def timed(df: DataFrame, expr: String): Long = median((1 to reps).map { _ =>
    val t0 = System.nanoTime()
    df.selectExpr(expr).write.format("noop").mode("overwrite").save()
    System.nanoTime() - t0
  })

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.withColumn("copy", explode(sequence(lit(1), lit(copies)))).drop("copy")
      .persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  def apply(spark: SparkSession, dir: String): Map[String, Double] = {
    val (docs, nDocs) = cached(Tables(spark, dir, "documents")
      .select(split(lower(trim(col("text"))), "\\s+").as("toks"))
      .selectExpr("toks", "graft_ngram_hash(toks, 3) AS h"))
    val (vecs, nVecs) = cached(Tables(spark, dir, "embeddings").select("embedding"))
    try {
      val toks = timed(docs, "toks")
      val hashes = timed(docs, "h")
      val vectors = timed(vecs, "embedding")
      def perRow(df: DataFrame, rows: Long, base: Long, expr: String): Double =
        (timed(df, expr) - base).toDouble / rows
      Map(
        "expr.ngram.ns_per_row" -> perRow(docs, nDocs, toks, "graft_ngram_hash(toks, 5)"),
        "expr.simhash.ns_per_row" -> perRow(docs, nDocs, toks, "graft_simhash64(toks)"),
        "expr.minhash.ns_per_row" -> perRow(docs, nDocs, hashes, "graft_minhash_sig(h, 64)"),
        "expr.winnow.ns_per_row" -> perRow(docs, nDocs, hashes, "graft_winnow(h, 4)"),
        "expr.dot.ns_per_row" -> perRow(vecs, nVecs, vectors, "graft_dot(embedding, embedding)"))
    } finally {
      docs.unpersist()
      vecs.unpersist()
    }
  }
}
