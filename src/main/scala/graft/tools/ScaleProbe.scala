package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the dedup pipeline: generates synthetic
  * corpora (deterministic — no RNG state) at increasing sizes, runs the
  * exact-dedup (d01) and MinHash-LSH (d03) operators, and prints
  * per-size wall times. The point: d03's time must grow ~linearly with
  * the corpus (bucketed LSH), not quadratically (all-pairs) — the
  * load-bearing claim behind running it at 100 TB.
  *
  * Usage: sbt "runMain graft.tools.ScaleProbe [sizes...]"
  *        (default sizes: 25000 50000 100000)
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

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(25000L, 50000L, 100000L)
    // which legs to run (comma list: sizes,x02,cc,t07,d06bthr,deliv,a08) —
    // lets a harness split the probe across invocations with bounded
    // wall-clock
    val legs = sys.env.getOrElse("SPARK_GRAFT_PROBE_LEGS", "sizes,x02,cc,t07")
      .split(",").map(_.trim).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.local(cpus.toInt, "scale-probe")
    // Deterministic work metrics next to every wall time: box load swings
    // wall ~2x (measured r6), but summed task CPU and shuffle bytes are
    // load-invariant — scaling claims rest on those, wall is advisory.
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shufB = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            cpuNs.addAndGet(m.executorCpuTime)
            shufB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          }
        }
      })
    /** (result, wall s, task-CPU s, shuffle-read MB) with a drained
      * listener bus on both sides so metrics attribute to this block. */
    def time[A](f: => A): (A, Double, Double, Double) = {
      org.apache.spark.GraftCoreShim.drainListenerBus(spark.sparkContext)
      val c0 = cpuNs.get; val s0 = shufB.get
      val t0 = System.nanoTime(); val a = f
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftCoreShim.drainListenerBus(spark.sparkContext)
      (a, wall, (cpuNs.get - c0) / 1e9, (shufB.get - s0) / 1e6)
    }
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up
    /** One row per (size, op): wall + the load-invariant work metrics,
      * plus the op's output count (the scaling claim is on ALL three of
      * cpu/shuffle/rows — wall alone carries ~2x box noise). */
    def row(n: Long, op: String, extra: String = "")(f: => Long): Long = {
      val (v, w, c, s) = time(f)
      println(f"$n%9d $op%8s $w%8.2f $c%8.2f $s%9.1f $v%10d  $extra")
      v
    }
    println(f"${"docs"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("sizes")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      genEmb(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d01")(q("d01_dedup_exact").count())
      row(n, "d03")(q("d03_dedup_minhash_lsh").count())
      row(n, "a01")(q("a01_ann_bruteforce").count())
      row(n, "a02")(q("a02_ann_lsh").count())
      // d06b bucket recall at a REALISTIC near-dup threshold: the
      // corpus plants n/100 cos≈0.9999 pairs; count how many the
      // LSH-blocked path surfaces (precision is exact by construction)
      val found = row(n, "d06b@.9")(
        q("d06b_dedup_embedding_lsh").filter(col("cos") >= 0.9).count())
      println(f"$n%9d ${"d06b"}%8s recall@0.9 = " +
        f"${found.toDouble / (n / 100)}%.3f (planted ${n / 100})")
      // training-prep ops on the same corpus: decontamination (inverted
      // shingle join), sequence packing (two-pass prefix sums), source
      // overlap (sources²-bounded fan-out) — all must grow ~linearly
      row(n, "p01")(q("p01_decontaminate").count())
      row(n, "p02")(q("p02_seq_pack").count())
      row(n, "p05")(q("p05_source_overlap").count())
      // p08 attribution: same inverted shingle join as p01 but with the
      // benchmark id carried through — its output-pair fan-out must be
      // bounded by true shared-shingle volume (planted: each %97 doc
      // shares all shingles with exactly its predecessor → rows ~ n/97
      // heavy pairs + near-dup incidentals, linear by construction)
      row(n, "p08")(q("p08_contamination_attribution").count())
      // d09 end-to-end: d06b candidates (adaptive planes) + semi-join-
      // pruned text verify — must track d06b's growth, since candidate
      // generation dominates and the verify touches only candidate docs
      row(n, "d09")(q("d09_crossmodal_dedup").count())
      graft.operators.HotCache.releaseAll()
    }
    // deliverable leg: d11 (survivor list) and p09 (leakage-safe split)
    // ride the shared d08 pipeline (LSH candidates → exact verify →
    // star CC) plus one window/join over the dup SLIVER — their cost
    // must track the pipeline, never a corpus-wide sort.
    println(f"${"docs"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("deliv")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d11")(q("d11_dedup_survivors").count())
      row(n, "p09")(q("p09_leakage_safe_split").count())
      graft.operators.HotCache.releaseAll()
    }
    // a08 PQ leg: train 8×16 subspace centroids, encode the corpus to
    // nibble codes, ADC-score 5 queries × top-10. Output is CONSTANT
    // (50 rows) at every corpus size, so the scaling claim is pure work
    // metrics: cpu must grow ~linearly in n (two assign passes + the
    // code join) and shuffle stays near-flat — codes are 4 B/vector and
    // the 8×16 tables broadcast, which is the whole point of PQ at a
    // billion vectors.
    println(f"${"vecs"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("a08")) {
      val dir = s"/tmp/graft-probe-$n"
      genEmb(spark, n, dir)
      row(n, "a08")(
        graft.SparkEntry.queries("a08_ann_pq")(spark, dir).count())
      graft.operators.HotCache.releaseAll()
    }
    // d06b threshold leg: the demo 0.3 threshold keeps random 64-dim
    // pairs (~2.4 sigma) so surviving-pair volume grows superlinearly
    // with the corpus — that's a property of the LOOSE threshold, not
    // the blocking. At production near-dup thresholds (>= 0.9) the
    // survivors are exactly the planted n/100 pairs: linear. This leg
    // prints both counts per size so the claim is measured, not argued.
    println(f"${"vecs"}%9s ${"pairs@.3"}%10s ${"pairs@.9"}%10s " +
      f"${"planted"}%9s ${"wall_s"}%8s ${"cpu_s"}%8s ${"shuf_MB"}%9s")
    for (n <- Seq(25000L, 50000L, 100000L, 200000L) if legs("d06bthr")) {
      val dir = s"/tmp/graft-probe-$n"
      genEmb(spark, n, dir)
      val (cnts, w, c, s) = time {
        val out = graft.SparkEntry.queries("d06b_dedup_embedding_lsh")(
          spark, dir)
        out.agg(count(lit(1)), count(when(col("cos") >= 0.9, 1)))
          .collect()(0)
      }
      graft.operators.HotCache.releaseAll()
      println(f"$n%9d ${cnts.getLong(0)}%10d ${cnts.getLong(1)}%10d " +
        f"${n / 100}%9d $w%8.2f $c%8.2f $s%9.1f")
    }
    // r9 leg: the round-9 operators on the same planted corpora. d13's
    // span inverted index and t08's bigram-MLE joins must grow ~linearly
    // in docs (both are shingle/bigram-keyed — never doc pairs); p12 is
    // one scan + a #langs-row broadcast, so its cpu tracks the scan.
    // e08 runs on a generated events table (n events, n/100 users):
    // output is the constant top-20, so the claim is linear cpu and
    // user-keyed (not corpus-keyed) shuffle volume.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d13")(q("d13_span_dedup").count())
      row(n, "t08")(q("t08_bigram_lm").count())
      row(n, "p12")(q("p12_mix_waterfill").count())
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      row(n, "e08")(
        graft.SparkEntry.queries("e08_user_journey")(spark, edir).count())
      graft.operators.HotCache.releaseAll()
    }
    // r9b leg: the later round-9 operators. t09's (doc,token) count and
    // m05's block index are shingle-shaped (linear, fan-in bounded by
    // doc length); d14/p14/x08 are digest-keyed aggregations; p13 is a
    // scan + 4 counter rows. The events trio e09/e10/e11 must show
    // user-keyed (not corpus-keyed) shuffle: output is |types|²/27/
    // constant rows, so the claim rides on cpu ~ n and bounded shuffle.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9b")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "t09")(q("t09_lexical_diversity").count())
      row(n, "d14")(q("d14_prefix_dedup").count())
      row(n, "m05")(q("m05_chunk_dedup").count())
      row(n, "x08")(q("x08_shard_manifest").count())
      row(n, "p13")(q("p13_curriculum").count())
      row(n, "p14")(q("p14_snapshot_diff").count())
      val edir = s"/tmp/graft-probe-ev-$n" // written by the r9 leg's shape
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e09")(qe("e09_transition_matrix").count())
      row(n, "e10")(qe("e10_attribution").count())
      row(n, "e11")(qe("e11_rfm_segments").count())
      graft.operators.HotCache.releaseAll()
    }
    // r9c leg: the fourth-sitting operators. d16's containment join is
    // d05's inverted-index shape (shingle-keyed, never doc-pairs) — cpu
    // and shuffle must grow ~linearly in docs with pair output linear in
    // the planted dups. d17 must track d10 (same verdicts; the bloom
    // build adds one base aggregation). d15/p17 are digest-keyed
    // aggregation+join (linear); t12's output is the constant top-50.
    // The events trio e14/e15/e16 runs on the generated events table:
    // bucket/user/day-keyed shuffles, constant or |days|-bounded output.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9c")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d16")(q("d16_containment_join").count())
      row(n, "d10")(q("d10_incremental_dedup").count())
      row(n, "d17")(q("d17_bloom_incremental").count())
      row(n, "d15")(q("d15_soft_dedup_weights").count())
      row(n, "p17")(q("p17_datasheet").count())
      row(n, "t12")(q("t12_zipf_audit").count())
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e14")(qe("e14_active_users").count())
      row(n, "e15")(qe("e15_session_stats").count())
      row(n, "e16")(qe("e16_trending").count())
      graft.operators.HotCache.releaseAll()
    }
    // r9d leg: the fifth-sitting operators. g01 is 6 edge-list shuffles
    // (one per iteration) — cpu and shuffle must grow ~linearly in
    // edges, output constant (top-20); g02 is two hash aggregations.
    // a16's two rank lists ride WindowGroupLimit (depth-50 per
    // partition before the single 50-row reduce), so cpu ~ n with
    // near-flat shuffle; x12 is a scan + one id-list join; e18's window
    // sees only the (cohort, day) table — days are CONSTANT here (the
    // generated stream spans n seconds), so cpu tracks the scan and
    // shuffle the daily rollup. x11 is one map-side-partial count.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9d")) {
      val gdir = s"/tmp/graft-probe-graph-$n"
      // purchase graph: n lineitems over n/4 orders, n/400 customers,
      // max(n/2000, 10) suppliers — edge count grows ~linearly in n
      spark.range(n / 4).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 400, 4)))
          .as("o_custkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/orders.parquet")
      spark.range(n).select(
        pmod(col("id"), lit(n / 4)).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(2)), lit(math.max(n / 2000, 10)))
          .as("l_suppkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/lineitem.parquet")
      def qg(name: String) = graft.SparkEntry.queries(name)(spark, gdir)
      row(n, "g01")(qg("g01_pagerank").count())
      row(n, "g02")(qg("g02_degree_histogram").count())
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      genEmb(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "a16")(q("a16_hybrid_search").count())
      row(n, "x12")(q("x12_delete_propagation").count())
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e18")(qe("e18_cohort_ltv").count())
      row(n, "x11")(qe("x11_dp_count").count())
      graft.operators.HotCache.releaseAll()
    }
    // r10 leg: g01's DECIMAL(38,0) rank accumulator at 2× the r9d node
    // count (pass 400000): the widened path must (a) return ranks
    // bit-equal to the int64 path on the same graph and (b) keep the
    // linear edge-shuffle scaling. GraphSpec pins equality at spec
    // scale; this leg is the large-corpus evidence.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r10")) {
      val gdir = s"/tmp/graft-probe-graph-$n"
      spark.range(n / 4).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 400, 4)))
          .as("o_custkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/orders.parquet")
      spark.range(n).select(
        pmod(col("id"), lit(n / 4)).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(2)), lit(math.max(n / 2000, 10)))
          .as("l_suppkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/lineitem.parquet")
      def ranks(): Seq[(String, Long, BigDecimal)] =
        graft.SparkEntry.queries("g01_pagerank")(spark, gdir).collect()
          .map(r => (r.getAs[String]("node_type"),
            r.getAs[Long]("node_key"), BigDecimal(r.get(2).toString)))
          .toSeq
      var i64: Seq[(String, Long, BigDecimal)] = Nil
      var dec: Seq[(String, Long, BigDecimal)] = Nil
      def ranksPinned(decimal: Boolean) = graft.operators.PlanPin
        .during(graft.operators.PlanPin(decimalRanks = Some(decimal)))(ranks())
      row(n, "g01i64") { i64 = ranksPinned(false); i64.length.toLong }
      row(n, "g01dec") { dec = ranksPinned(true); dec.length.toLong }
      println(if (i64 == dec) s"$n g01 decimal == int64 (top-20 bit-equal)"
              else s"$n g01 DIVERGED: $i64 vs $dec")
      graft.operators.HotCache.releaseAll()
    }
    // r9e leg: the remaining fifth-sitting operators. d18 runs the d04
    // pigeonhole-block + d05 inverted-index shapes back to back (both
    // individually probed linear; the eval adds one bounded count join);
    // p20 is t09's (doc, token) aggregation + a constant 27-row cube;
    // t13 is t03's broadcast-profile join + a |langs|²-row rollup; e19/
    // e20 are user-keyed windows over distinct-day / per-user-event
    // tables. Outputs: 1 / 27 / |langs|² / |users| / |users| rows.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9e")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d18")(q("d18_detector_eval").count())
      row(n, "p20")(q("p20_filter_ablation").count())
      row(n, "t13")(q("t13_langid_eval").count())
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e19")(qe("e19_streaks").count())
      row(n, "e20")(qe("e20_bot_detect").count())
      graft.operators.HotCache.releaseAll()
    }
    // r9f leg: the sixth-batch operators. e21's native session_window is
    // a user-keyed hash aggregate with merge — cpu ~linear, shuffle the
    // per-user event stream; g03's star CC rounds are bytes-bounded (the
    // cc leg pins the round count separately); t14/x13 are map-side
    // regexp scans; x15 is five scans + one key-partitioned anti-join.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9f")) {
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "t14")(q("t14_code_detect").count())
      row(n, "x13")(q("x13_pii_report").count())
      val gdir = s"/tmp/graft-probe-graph-$n"
      spark.range(n / 4).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 400, 4)))
          .as("o_custkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/orders.parquet")
      spark.range(n).select(
        pmod(col("id"), lit(n / 4)).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(2)), lit(math.max(n / 2000, 10)))
          .as("l_suppkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/lineitem.parquet")
      row(n, "g03")(
        graft.SparkEntry.queries("g03_components")(spark, gdir).count())
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      row(n, "e21")(
        graft.SparkEntry.queries("e21_native_sessions")(spark, edir).count())
      graft.operators.HotCache.releaseAll()
    }
    // r9g leg: the seventh-sitting operators. g04 is one order-keyed
    // self-join with per-order-bounded fan-out; g05's pair generation is
    // hub-capped (≤C(64,2) per customer); g06 is 4 peel rounds, each a
    // degree agg + two semi-joins of the edge list; d19 runs ONE d04
    // signature pass + the exact-Jaccard truth join (same work as d18 —
    // the sweep itself is a constant 3-row filter fan-out); t17/t15 are
    // one shingle/tokenize pass plus |vocab|-bounded aggregates; e22/e23
    // aggregate to ≤6 / |types|·|days| rows before anything expensive.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9g")) {
      // force via collect() (every output here is ≤20 rows): a bare
      // count() lets Catalyst PRUNE — t17's count plan collapses to a
      // distinct-source count, eliminating the join and both heavy
      // aggregates, and the leg under-measures a degenerate plan.
      // collect needs every column, so nothing prunes.
      def force(df: org.apache.spark.sql.DataFrame): Long =
        df.collect().length.toLong
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d19")(force(q("d19_threshold_sweep")))
      row(n, "t17")(force(q("t17_source_novelty")))
      row(n, "t15")(force(q("t15_vocab_growth")))
      // one graph dir serves all three: purchase edges need o_custkey/
      // l_suppkey, g04's basket pairs additionally need l_partkey
      val gdir = s"/tmp/graft-probe-graph3-$n"
      spark.range(n / 4).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 400, 4)))
          .as("o_custkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/orders.parquet")
      spark.range(n).select(
        pmod(col("id"), lit(n / 4)).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(2)), lit(math.max(n / 2000, 10)))
          .as("l_suppkey"),
        pmod(xxhash64(col("id"), lit(3)), lit(math.max(n / 100, 10)))
          .as("l_partkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/lineitem.parquet")
      def qg(name: String) = graft.SparkEntry.queries(name)(spark, gdir)
      row(n, "g04")(force(qg("g04_copurchase")))
      row(n, "g05")(force(qg("g05_supplier_overlap")))
      row(n, "g06")(force(qg("g06_kcore")))
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e22")(force(qe("e22_conversion_lag")))
      row(n, "e23")(force(qe("e23_daily_anomaly")))
      graft.operators.HotCache.releaseAll()
    }
    // r9i leg: the ninth-sitting operators. d22/t22/p26 are one corpus
    // scan each (digest agg + join-back / map-side flags / lang-keyed
    // window); e27/e28 ride one user-keyed window pass (output |types|
    // rows); g11 is g05's hub-capped pair generation + a broadcastable
    // degree join-back and a bounded top-20 heap. The claim on all six:
    // cpu ~ n, shuffle ~ n (or bounded), output constant-or-|strata|.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9i")) {
      def force(df: org.apache.spark.sql.DataFrame): Long =
        df.collect().length.toLong
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "d22")(force(q("d22_dup_inflation")))
      row(n, "t22")(force(q("t22_encoding_audit")))
      row(n, "p26")(force(q("p26_stratified_sample")))
      val edir = s"/tmp/graft-probe-ev28-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("error"), lit("purchase")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e27")(force(qe("e27_state_dwell")))
      row(n, "e28")(force(qe("e28_error_cascade")))
      val gdir = s"/tmp/graft-probe-graph-$n"
      spark.range(n / 4).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 400, 4)))
          .as("o_custkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/orders.parquet")
      spark.range(n).select(
        pmod(col("id"), lit(n / 4)).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(2)), lit(math.max(n / 2000, 10)))
          .as("l_suppkey"))
        .repartition(16).write.mode("overwrite")
        .parquet(s"$gdir/lineitem.parquet")
      row(n, "g11")(force(
        graft.SparkEntry.queries("g11_link_prediction")(spark, gdir)))
      graft.operators.HotCache.releaseAll()
    }
    // r9j leg: the eighth-sitting operators. q54 is the exact power-sum
    // corr (one hash agg — cpu ~ n, shuffle constant); q53 the full-
    // outer MERGE (two scans + one key shuffle each side); p27 chains
    // the digest keep-first into the waterfill (two corpus-linear
    // shuffles); t24 rides the token-keyed shuffle; e29's explode is a
    // constant 7x of the user-day table; e31 windows only |days| rows.
    println(f"${"rows"}%9s ${"op"}%8s ${"wall_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rows"}%10s")
    for (n <- sizes if legs("r9j")) {
      def force(df: org.apache.spark.sql.DataFrame): Long =
        df.collect().length.toLong
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "p27")(force(q("p27_dedup_mix")))
      row(n, "t24")(force(q("t24_burstiness")))
      val tdir = s"/tmp/graft-probe-tpc-$n"
      spark.range(n).select(
        col("id").as("l_orderkey"),
        ((pmod(xxhash64(col("id")), lit(50)) + 1).cast("double"))
          .as("l_quantity"),
        (pmod(xxhash64(col("id"), lit(1)), lit(100000)) / 100.0)
          .as("l_extendedprice"),
        (pmod(xxhash64(col("id"), lit(2)), lit(11)) / 100.0)
          .as("l_discount"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$tdir/lineitem.parquet")
      spark.range(n).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 100, 1)))
          .as("o_custkey"),
        (pmod(xxhash64(col("id"), lit(3)), lit(1000000)) / 100.0)
          .as("o_totalprice"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$tdir/orders.parquet")
      row(n, "q54")(force(
        graft.SparkEntry.queries("q54_corr_matrix")(spark, tdir)))
      row(n, "q53")(force(
        graft.SparkEntry.queries("q53_merge_upsert")(spark, tdir)))
      val edir = s"/tmp/graft-probe-ev-$n"
      spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L)
          .as("ts"),
        pmod(col("id"), lit(math.max(n / 100, 1))).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(7)), lit("}"))
          .as("props"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e29")(force(qe("e29_stickiness")))
      row(n, "e31")(force(qe("e31_cusum")))
      graft.operators.HotCache.releaseAll()
    }
    // r9k: the tenth-sitting operators — PMI collocations + source JSD
    // on the word-salad corpus (20 sources), skyline on a synthetic
    // part/lineitem pair, top+OTHER and the bucketed join on synthetic
    // orders/customer, autocorrelation + peak concurrency on the
    // synthetic event stream. s09's number INCLUDES the one-time
    // bucketed write of both sides (the pay-once cost the operator
    // exists to amortize).
    for (n <- sizes if legs("r9k")) {
      def force(df: org.apache.spark.sql.DataFrame): Long =
        df.collect().length.toLong
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      row(n, "t25")(force(q("t25_pmi_collocations")))
      row(n, "t26")(force(q("t26_source_divergence")))
      val pdir = s"/tmp/graft-probe-pt-$n"
      spark.range(n).select(col("id").as("p_partkey"),
        (pmod(xxhash64(col("id"), lit(9)), lit(100000)) / 100.0)
          .as("p_retailprice"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$pdir/part.parquet")
      spark.range(n * 4).select(
        pmod(xxhash64(col("id")), lit(n)).as("l_partkey"),
        ((pmod(xxhash64(col("id"), lit(1)), lit(50)) + 1).cast("double"))
          .as("l_quantity"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$pdir/lineitem.parquet")
      row(n, "q56")(force(
        graft.SparkEntry.queries("q56_skyline")(spark, pdir)))
      val tdir = s"/tmp/graft-probe-oc-$n"
      spark.range(n).select(col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 10, 1L)))
          .as("o_custkey"),
        (pmod(xxhash64(col("id"), lit(3)), lit(1000000)) / 100.0)
          .as("o_totalprice"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$tdir/orders.parquet")
      spark.range(math.max(n / 10, 1L)).select(col("id").as("c_custkey"),
        pmod(col("id"), lit(25)).cast("int").as("c_nationkey"),
        element_at(array(lit("AUTOMOBILE"), lit("BUILDING"),
          lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
          (pmod(col("id"), lit(5)) + 1).cast("int")).as("c_mktsegment"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$tdir/customer.parquet")
      spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("N"), col("id")).as("n_name"))
        .write.mode("overwrite").parquet(s"$tdir/nation.parquet")
      row(n, "q57")(force(
        graft.SparkEntry.queries("q57_top_others")(spark, tdir)))
      row(n, "s09")(force(
        graft.SparkEntry.queries("s09_bucketed_join")(spark, tdir)))
      val edir = s"/tmp/graft-probe-ev-$n"
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
        .parquet(s"$edir/events.parquet")
      def qe(name: String) = graft.SparkEntry.queries(name)(spark, edir)
      row(n, "e32")(force(qe("e32_autocorr")))
      row(n, "e33")(force(qe("e33_peak_concurrency")))
      graft.operators.HotCache.releaseAll()
    }
    // r9l: the eleventh-sitting operators — held-out perplexity, IPF
    // reweight and the per-format chunk profile on the word-salad docs;
    // the histogram median on synthetic lineitem; the stationary step
    // on the generated events.
    for (n <- sizes if legs("r9l")) {
      def force(df: org.apache.spark.sql.DataFrame): Long =
        df.collect().length.toLong
      val dir = s"/tmp/graft-probe-$n"
      gen(spark, n, dir)
      def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      // release between ops: at 200k t27's resident train cache (~10M
      // rows) otherwise bleeds memory pressure into p28/m10's cpu_s —
      // the same-JVM attribution lesson from the r9 d13 probe
      row(n, "t27")(force(q("t27_heldout_perplexity")))
      graft.operators.HotCache.releaseAll()
      row(n, "p28")(force(q("p28_ipf_reweight")))
      graft.operators.HotCache.releaseAll()
      row(n, "m10")(force(q("m10_format_dedup_profile")))
      graft.operators.HotCache.releaseAll()
      val tdir = s"/tmp/graft-probe-tpc-$n"
      spark.range(n).select(
        col("id").as("l_orderkey"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(xxhash64(col("id"), lit(5)), lit(3)) + 1).cast("int"))
          .as("l_returnflag"),
        ((pmod(xxhash64(col("id")), lit(50)) + 1).cast("double"))
          .as("l_quantity"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$tdir/lineitem.parquet")
      row(n, "q58")(force(
        graft.SparkEntry.queries("q58_group_median")(spark, tdir)))
      val edir = s"/tmp/graft-probe-ev-$n"
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
        .parquet(s"$edir/events.parquet")
      row(n, "e34")(force(
        graft.SparkEntry.queries("e34_stationary_step")(spark, edir)))
      graft.operators.HotCache.releaseAll()
    }
    // t07 skew leg: a corpus where ONE token carries half of all volume
    // (the stopword-skew shape the hot/cold split join exists for) —
    // time must stay ~linear in docs, because hot instances take the
    // broadcast path and never pile into one shuffle partition.
    println(f"${"docs"}%9s ${"t07_s"}%8s ${"cpu_s"}%8s ${"shuf_MB"}%9s " +
      f"${"us_per_doc"}%10s")
    for (n <- Seq(100000L, 400000L) if legs("t07")) {
      val dir = s"/tmp/graft-probe-t07-$n"
      spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", expr(
          """transform(sequence(0, 59), i ->
               CASE WHEN pmod(xxhash64(id, CAST(i AS LONG)), 2) = 0
                    THEN 'the'
                    ELSE concat('w', pmod(xxhash64(id, CAST(i AS LONG) + 7),
                                          5000)) END)""")).as("text"),
        lit("en").as("lang"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val (_, tT07, cT07, sT07) = time(
        graft.SparkEntry.queries("t07_token_familiarity")(spark, dir).count())
      println(f"$n%9d $tT07%8.2f $cT07%8.2f $sT07%9.1f " +
        f"${tT07 * 1e6 / n}%10.2f")
    }
    // d08 CC leg: planted chain+blob edge graphs. The chain (half the
    // edges, path diameter = chainLen) is the adversarial shape that
    // costs min-label propagation `diameter` rounds; star CC must stay
    // ~log2(nodes). Blobs (100-node stars) add bulk volume.
    println(f"${"edges"}%9s ${"nodes"}%9s ${"cc_s"}%8s ${"cpu_s"}%8s " +
      f"${"shuf_MB"}%9s ${"rounds"}%7s ${"log2+8"}%7s")
    for (m <- Seq(100000L, 1000000L) if legs("cc")) {
      val chainLen = m / 2
      val chain = spark.range(chainLen)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      val blob = spark.range(chainLen, m).select(col("id").as("a_id"),
        (col("id") - pmod(col("id"), lit(100))).as("b_id"))
      val edges = chain.unionAll(blob).filter(col("a_id") =!= col("b_id"))
        .repartition(32).localCheckpoint()
      val ((labels, rounds), tCc, cCc, sCc) = time {
        val r = graft.operators.ConnectedComponents.run(edges, maxRounds = 64)
        r._1.count() // materialize the labels, not just the loop
        r
      }
      val nNodes = labels.count()
      val bound = (math.log(nNodes.toDouble) / math.log(2)).ceil.toInt + 8
      println(f"$m%9d $nNodes%9d $tCc%8.2f $cCc%8.2f $sCc%9.1f " +
        f"$rounds%7d $bound%7d" +
        (if (rounds > bound) "  ROUNDS OVER BOUND" else ""))
    }
    // x02 stratified-sample skew leg: ONE stratum grows 10× while ten
    // small strata stay fixed — µs/row must stay ~flat. The two-pass
    // (lang × 256-bucket) scheme spreads the big stratum over 256
    // parallel sort tasks; the single-window formulation it replaced
    // would funnel it through one task (the r2 scale-killer).
    println(f"${"big_stratum"}%12s ${"rows"}%9s ${"x02_s"}%8s " +
      f"${"cpu_s"}%8s ${"shuf_MB"}%9s ${"us_per_row"}%10s")
    for (m <- Seq(100000L, 1000000L) if legs("x02")) {
      val dir = s"/tmp/graft-probe-x02-$m"
      val n = m + 10000
      spark.range(n).select(
        col("id").as("doc_id"),
        when(col("id") < 10000, concat(lit("l"), pmod(col("id"), lit(10))))
          .otherwise(lit("big")).as("lang"))
        .repartition(32).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val (cnt, tX02, cX02, sX02) = time(
        graft.SparkEntry.queries("x02_stratified_sample")(spark, dir).count())
      println(f"$m%12d $n%9d $tX02%8.2f $cX02%8.2f $sX02%9.1f " +
        f"${tX02 * 1e6 / n}%10.2f  (sampled $cnt)")
    }
    spark.stop()
  }
}
