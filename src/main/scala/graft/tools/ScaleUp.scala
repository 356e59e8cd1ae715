package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 (10x) testdata generator — the VERDICT r10 scale-validation leg.
  *
  * The driver ships sf0.001/0.01/0.1 only; every 100 TB claim so far
  * rests on plan shape + synthetic-corpus probes. This tool derives an
  * sf1 dataset from the read-only sf0.1 tables by STRUCTURE-PRESERVING
  * replication, so that per-key work on linear operators must grow ~10x
  * and any superlinear plan shows up as a ratio, not an argument:
  *
  *  - TPC-H-ish tables: `factor` key-shifted copies. Copy c shifts every
  *    primary AND foreign key by c * (maxKey+1) of its dimension, so each
  *    copy is a self-contained star — referential joins scale exactly
  *    linearly, per-key group sizes and value distributions are
  *    unchanged, and skew profiles replicate (each hot key becomes
  *    `factor` hot keys of the original heat, the realistic way row
  *    stores grow). Dates/prices/dims (region, nation) stay fixed:
  *    bigger SF = more orders in the same calendar window, as in TPC-H.
  *  - documents: copy c>0 suffixes every whitespace token with "~c".
  *    A bijective per-copy vocabulary relabeling preserves every
  *    intra-copy token/shingle/Jaccard relationship EXACTLY (the planted
  *    dup structure replicates 10x) while making cross-copy shingle sets
  *    fully disjoint — no artificial 90%-duplicate corpus, which would
  *    turn the dedup probe into a measurement of a pathology.
  *  - embeddings: copy c applies a per-(copy,dim) deterministic sign
  *    flip — a diagonal +-1 orthogonal transform. Norms and intra-copy
  *    inner products are preserved bit-exactly (near-dup pairs stay
  *    near-dups, IVF geometry replicates) while cross-copy cosines
  *    collapse to ~0 in expectation.
  *
  * Everything is pure column expressions — generated distributed, never
  * collected. Output layout matches TESTDATA.md (dir/<table>.parquet),
  * written as parquet directories (spark + duckdb glob both read them).
  *
  * Usage: sbt "runMain graft.tools.ScaleUp [srcDir destDir factor]"
  *        default: /root/testdata/sf0.1 -> /root/repo/testdata_sf1 x10
  */
object ScaleUp {

  /** Cross-join with `copy` ids 0..factor-1 — the replication backbone. */
  private def copies(spark: SparkSession, factor: Int): DataFrame =
    spark.range(factor.toLong).select(col("id").as("copy"))

  /** Shift a key column by copy * span (span = maxKey+1, dense 0-based). */
  private def shifted(key: String, span: Long) =
    (col(key) + col("copy") * lit(span)).as(key)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/root/repo/testdata_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = graft.GraftSession.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dest/$t.parquet")

    // Spans from the dense 0..N-1 sf0.1 key ranges (asserted, not
    // assumed: a sparse or 1-based source would silently alias keys
    // across copies and corrupt every join in the derived set).
    def span(t: String, k: String): Long = {
      val r = read(t).agg(min(col(k)).cast("long"), max(col(k)).cast("long"),
        count(lit(1))).head
      val (mn, mx, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(mn == 0L && mx == n - 1,
        s"$t.$k not dense 0-based: min=$mn max=$mx n=$n")
      n
    }
    val custN = span("customer", "c_custkey")
    val suppN = span("supplier", "s_suppkey")
    val partN = span("part", "p_partkey")
    val ordN = span("orders", "o_orderkey")
    val evtN = span("events", "event_id")
    val userN = read("events").agg(max(col("user_id")).cast("long")).head
      .getLong(0) + 1
    val docN = span("documents", "doc_id")
    val vecN = span("embeddings", "vec_id")

    val cps = copies(spark, factor)

    // Fixed dims: verbatim.
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(read("customer").crossJoin(cps).select(
      shifted("c_custkey", custN), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), "customer", 4)

    write(read("supplier").crossJoin(cps).select(
      shifted("s_suppkey", suppN), col("s_name"), col("s_nationkey"),
      col("s_acctbal")), "supplier", 1)

    write(read("part").crossJoin(cps).select(
      shifted("p_partkey", partN), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), "part", 4)

    write(read("orders").crossJoin(cps).select(
      shifted("o_orderkey", ordN), shifted("o_custkey", custN),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", 8)

    write(read("lineitem").crossJoin(cps).select(
      shifted("l_orderkey", ordN), shifted("l_partkey", partN),
      shifted("l_suppkey", suppN), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 16)

    write(read("events").crossJoin(cps).select(
      shifted("event_id", evtN), col("ts"), shifted("user_id", userN),
      col("event_type"), col("value"), col("props")), "events", 8)

    // documents: per-copy token relabeling (see scaladoc). Copy 0 keeps
    // the original text byte-for-byte so sf0.1 remains a literal subset.
    write(read("documents").crossJoin(cps).select(
      shifted("doc_id", docN),
      when(col("copy") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("~"), col("copy"))))).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 4)

    // embeddings: per-(copy,dim) sign flip; copy 0 identity.
    write(read("embeddings").crossJoin(cps).select(
      shifted("vec_id", vecN),
      transform(col("embedding"), (x, i) =>
        when(col("copy") === 0, x).otherwise(
          x * when(pmod(xxhash64(col("copy"), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f)))).as("embedding"),
      col("label")), "embeddings", 2)

    // Row-count audit: every table must be exactly factor * source.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val srcN = read(t).count()
      val dstN = spark.read.parquet(s"$dest/$t.parquet").count()
      val want = if (t == "region" || t == "nation") srcN else srcN * factor
      require(dstN == want, s"$t: wrote $dstN, expected $want")
      println(s"[scaleup] $t: $srcN -> $dstN")
    }
    spark.stop()
  }
}
