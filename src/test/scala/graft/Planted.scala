package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Planted fixture corpora shared by several specs: each call writes a
  * fresh temp dir holding the named parquet tables and returns its path.
  */
object Planted {

  /** Planted corpus: 0/1 exact dups, 2/3 near dups (one word changed),
    * 4 unrelated, 5 a shuffled-token copy of 0 (same token set).
    */
  def docs(spark: SparkSession): String = {
    val dir = Files.createTempDirectory("graft-docs").toString
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "SIGMA2")
    val docs = Seq(
      (0L, base, "en", base.length.toLong),
      (1L, base, "en", base.length.toLong),
      (2L, near, "en", near.length.toLong),
      (3L, base, "de", base.length.toLong),
      (4L, "totally different words nothing shared here at all by design " +
        "zero overlap with anything else whatsoever in this tiny corpus",
        "en", 120L),
      (5L, base.split(" ").reverse.mkString(" "), "en", base.length.toLong))
      .toDF("doc_id", "text", "lang", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Incremental-dedup corpus: batch = doc_id % 7 == 3 → ids 3, 10, 17,
    * 24, 31; everything else base. Includes NULL-text docs on both sides:
    * they must be CLASSIFIED (digest of the empty string), never dropped.
    */
  def incrementalDocs(spark: SparkSession): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-incr").toString
    val baseTxt = "shared corpus text already present in the base"
    val batchDup = "this text appears twice inside the new batch only"
    Seq(
      (0L, baseTxt), (1L, "some base only text"), (2L, "other base text"),
      (7L, null: String), // base: NULL text → digest of ''
      (3L, baseTxt),   // batch: digest exists in base
      (10L, batchDup), // batch: first sighting of an intra-batch dup pair
      (17L, batchDup), // batch: later sighting of the same digest
      (24L, "genuinely novel increment text"), // batch: new
      (31L, null: String)) // batch NULL text: dup of base doc 7's ''
      .map { case (id, txt) =>
        (id, txt, "en", Option(txt).map(_.length.toLong).getOrElse(0L), "src1")
      }
      .toDF("doc_id", "text", "lang", "n_chars", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Planted purchase graph: customer 1 buys from suppliers 10, 11, 12
    * (a hub), customers 2 and 3 buy only from supplier 10, customer 4
    * buys only from supplier 12. Supplier 10 (degree 3) and customer 1
    * (degree 3) are the two structural hubs; supplier 11 is a leaf seen
    * by the hub customer only.
    */
  def purchaseGraph(spark: SparkSession): String =
    purchases(spark, Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (3L, 10L), (4L, 12L)))

  /** K33 core (customers 1-3 × suppliers 10-12) plus a chain hanging off
    * it: pendant customer 4 → supplier 13 (also on customers 1, 5) →
    * customer 5 (also on suppliers 10, 11). A 3-core peel drops customer
    * 4 in round 1 (degree 1), which leaves supplier 13 at degree 2 for
    * round 2, which leaves customer 5 at degree 2 for round 3; the K33
    * remains. A node of degree ≥ 3 only in the raw graph (13, 5) must not
    * come back.
    */
  def kcoreCascade(spark: SparkSession): String =
    purchases(spark,
      (for (c <- 1L to 3L; su <- 10L to 12L) yield (c, su)) ++
        Seq((4L, 13L), (5L, 13L), (1L, 13L), (5L, 10L), (5L, 11L)))

  /** Writes (custkey, suppkey) purchase pairs as orders
    * (o_orderkey, o_custkey) and lineitem (l_orderkey, l_suppkey), one
    * order per pair.
    */
  def purchases(spark: SparkSession, pairs: Seq[(Long, Long)]): String = {
    val dir = Files.createTempDirectory("graft-graph").toString
    import spark.implicits._
    pairs.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }
}
