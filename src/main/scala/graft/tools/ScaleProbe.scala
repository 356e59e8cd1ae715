package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic planted corpora for scaling measurements: writes the
  * `documents`, `embeddings` and `events` tables of `n` rows each (no RNG
  * state — the same `n` always gives the same rows). Measure keys on the
  * result with `Profile`; growing `n` shows whether a key's cpu and
  * shuffle grow linearly with the corpus or worse. Per-size measurements
  * on these corpora are committed in PROBE_r5 … PROBE_r11.
  *
  * Usage: sbt "runMain graft.tools.ScaleProbe <n> <dir>"
  */
object ScaleProbe {

  /** Deterministic word-salad corpus: ~120 tokens/doc over a 5000-word
    * vocab. Planted dup structure stays in PAIRS (every 97th doc is an
    * exact copy of its predecessor, every 50th a near-dup of its
    * predecessor with a few tokens changed) so the true pair count grows
    * linearly with n — a generator that chains dups into one class would
    * make the OUTPUT quadratic by construction and mask the plan's
    * scaling. Pure column expressions — generated distributed, never
    * collected.
    */
  private def gen(spark: SparkSession, n: Long, dir: String): Unit = {
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      // dups re-generate their predecessor's token seeds
      when((col("id") % 50 === 0 || col("id") % 97 === 0) && col("id") > 0,
        col("id") - 1).otherwise(col("id")).as("seed"),
      // %97 wins: exact copy; %50: near-dup (periodic token change)
      (col("id") % 50 === 0 && col("id") % 97 =!= 0 && col("id") > 0)
        .as("isNear"))
    val docs = base.select(
      col("doc_id"),
      concat_ws(" ", expr(
        // token i of doc `seed`; near-dups replace tokens 5, 25, ...
        """transform(sequence(0, 119), i ->
             concat('w', pmod(xxhash64(seed, CAST(i AS LONG) +
               CASE WHEN isNear AND i % 20 = 5 THEN 7777 ELSE 0 END), 5000)))
        """)).as("text"),
      lit("en").as("lang"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
    docs.repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Deterministic float embeddings: 64 dims derived from xxhash64 —
    * uniform in [-1, 1). Labels come in blocks of 100 ids; every id with
    * id % 100 == 50 is a near-copy of its predecessor (one dim nudged by
    * +0.01 → cosine ≈ 0.9999, a REALISTIC near-dup) so d06b's bucket
    * recall can be measured at production-like thresholds.
    */
  private def genEmb(spark: SparkSession, n: Long, dir: String): Unit =
    spark.range(n).select(
      col("id").as("vec_id"),
      when(col("id") % 100 === 50, col("id") - 1).otherwise(col("id"))
        .as("seed"),
      (col("id") % 100 === 50).as("isNear"))
      .select(
        col("vec_id"),
        expr("""transform(sequence(0, 63), i ->
             CAST(pmod(xxhash64(seed, CAST(i AS LONG)), 2000) / 1000.0 - 1.0
                  + CASE WHEN isNear AND i = 0 THEN 0.01 ELSE 0.0 END
                  AS FLOAT))""").as("embedding"),
        pmod(floor(col("vec_id") / 100), lit(10)).cast("int").as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** Deterministic event stream: one event per second from 2024-01-01,
    * over n/100 users (at least one) and four event types. User-keyed
    * operators see a user count that grows with n while each user's
    * history stays ~100 events long.
    */
  private def genEvents(spark: SparkSession, n: Long, dir: String): Unit =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
        .as("ts"),
      pmod(col("id"), lit(math.max(n / 100, 1L))).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
        (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
        .as("props"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleProbe <n> <dir>")
    val n = args(0).toLong
    val dir = args(1)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, "scale-probe")
    gen(spark, n, dir)
    genEmb(spark, n, dir)
    genEvents(spark, n, dir)
    spark.stop()
  }
}
