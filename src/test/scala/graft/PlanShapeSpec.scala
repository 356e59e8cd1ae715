package graft

/** Mechanical plan-shape tripwires: the scale claims made in operator
  * scaladocs ("pure map-side", "broadcast the small side", "filter
  * reaches the scan") asserted against the actual physical plan, so a
  * refactor that silently regresses a plan fails CI instead of only
  * showing up as benchmark noise. String-level checks on the executed
  * plan are deliberate — they survive Spark-internal class renames
  * better than node-type matching.
  */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  private def countOf(p: String, token: String): Int =
    p.sliding(token.length).count(_ == token)

  test("p03 domain mix is map-side: the only exchange is the final sort") {
    val p = plan("p03_domain_mix")
    assert(countOf(p, "Exchange") == 1, p)
    assert(p.contains("rangepartitioning"), p) // and it IS the sort
  }

  test("x01 hash sample keeps its filter at the scan, no join/agg") {
    val p = plan("x01_hash_sample")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("q02 filter + projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // pruned scan: the read schema must not include unused wide columns
    assert(!p.contains("l_comment"), p)
  }

  test("q05 joins the small dims by broadcast, not shuffle") {
    val p = plan("q05_region_volume")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p02/x02/p07 two-pass schemes broadcast the tiny counts table") {
    Seq("p02_seq_pack", "x02_stratified_sample", "p07_token_budget").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n:\n$p")
    }
  }

  test("q40 lateral decorrelates to one windowed pass, not a per-row storm") {
    val p = plan("q40_lateral")
    // Spark must rewrite the ORDER BY+LIMIT lateral into a partitioned
    // window/rank — the plan carries a Window node and no nested loop
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q01 aggregate is partial before the shuffle (map-side combine)") {
    val p = plan("q01_pricing_summary")
    // partial aggregation appears below the exchange: two HashAggregate
    // levels around one shuffle
    assert(countOf(p, "HashAggregate") >= 2, p)
  }

  test("q01/q60/s02 money sums run graft_dsum in codegen'd hash aggregates") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    val helper = new AdaptiveSparkPlanHelper {}
    for (k <- Seq("q01_pricing_summary", "q60_tpcds_q2_yoy_weekly",
                  "s02_skewed_groupby")) {
      // every query the key executes: q60's pivot runs in its checkpoint fill
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        run(k).write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftCoreShim.drainListenerBus(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      graft.operators.HotCache.releaseAll()
      val all = plans.toArray(Array.empty[SparkPlan]).toSeq
      val shown = all.mkString("\n")
      val dsumAggs = all.flatMap(p => helper.collectWithSubqueries(p) {
        case h: HashAggregateExec if h.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[graft.plans.DsumAgg]) => h
      })
      val codegend = all.flatMap(p => helper.collectWithSubqueries(p) {
        case w: WholeStageCodegenExec => w
      }).flatMap(_.child.collect { case h: HashAggregateExec => h })
      assert(dsumAggs.nonEmpty, s"$k: $shown")
      assert(dsumAggs.forall(a => codegend.exists(_ eq a)), s"$k: $shown")
      assert(all.forall(p => helper.collectWithSubqueries(p) {
        case a: SortAggregateExec => a
        case a: ObjectHashAggregateExec => a
      }.isEmpty), s"$k: $shown")
      assert(!shown.contains("sum(cast("), s"$k: $shown")
    }
  }

  test("d09 shingles only candidate docs: the semi-join prune is in the plan") {
    val p = plan("d09_crossmodal_dedup")
    assert(p.contains("LeftSemi"), p) // documents pruned to candidate ids
  }

  test("p04's repetition gate is in-row: no Generate, no hash exchange") {
    val p = plan("p04_repetition_score")
    assert(!p.contains("Generate"), p)
    assert(!p.contains("hashpartitioning"), p) // only the orderBy's range
  }

  test("p06b's cached build explodes only contamination's two shingle sets") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val helper = new AdaptiveSparkPlanHelper {}
    val p6b = run("p06b_prep_pipeline_cached").queryExecution.executedPlan
    val builds = helper.collect(p6b) {
      case s: InMemoryTableScanExec => s.relation.cachedPlan }
    assert(builds.nonEmpty, p6b)
    // benchmark and corpus 8-gram shingles; the repetition gate is a
    // row filter and explodes nothing
    val gens = helper.collect(builds.head) { case g: GenerateExec => g }
    assert(gens.size == 2, builds.head)
    gens.foreach(g => assert(g.generator.sql.contains("ngram_string"), g))
    graft.operators.HotCache.releaseAll()
  }

  test("p06b: every live documents read goes through the survivor cache") {
    val p6 = plan("p06_prep_pipeline")
    val p6b = plan("p06b_prep_pipeline_cached")
    // p06 stays cache-free (the re-scan variant, as documented)
    assert(countOf(p6, "InMemoryTableScan") == 0, p6)
    // p06b: both survivor consumers (dedup keep-min agg + final
    // semi-join) read the ONE cached materialization...
    assert(countOf(p6b, "InMemoryTableScan") >= 2, p6b)
    // ...and above the cache the live plan holds NO parquet scan at all
    // — the scan-subtree runs exactly once, inside the cached build
    // (InMemoryRelation prints that stored build, so only the text
    // before the first occurrence is live plan)
    val live = p6b.substring(0, p6b.indexOf("InMemoryRelation"))
    assert(!live.contains("FileScan"), s"live plan re-scans parquet:\n$live")
  }

  test("AQE splits the planted-skew join partition (skew=true in final plan)") {
    // The headline claim that AQE absorbs Cherry's skewed workload
    // (ShuffleWorkloads s02/s06 scaladocs) pinned at the PLAN level: a
    // join whose left shuffle has one hot partition must execute as
    // SortMergeJoin(skew=true). Production thresholds are 256 MB; scale
    // them down so the sf-test corpus exhibits "skew" the same way a
    // 100 TB corpus does at the defaults.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val touched = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = touched.map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      // planted skew: 80% of fact rows collapse onto key 1 (the
      // skewed_synthetic_workload.py shape), wide payload so the hot
      // shuffle partition clears the (lowered) byte threshold
      val fact = spark.range(100000).select(
        when(col("id") % 10 < 8, lit(1L)).otherwise(col("id") % 100).as("key"),
        // md5 hex: incompressible, so the hot partition's shuffle BYTES
        // (what the skew threshold measures) stay proportional to rows
        md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(100).select(col("id").as("key"),
        (col("id") * 2).as("w"))
      // global agg afterwards: requires no distribution, so AQE is free
      // to split the skewed partition (a groupBy(key) downstream would
      // legitimately suppress the split to preserve partitioning). The
      // agg reads `payload` so column pruning cannot drop it from the
      // fact shuffle — pruned to the bare key, the hot partition
      // compresses below any realistic skew threshold.
      val q = fact.join(dim.hint("merge"), Seq("key"))
        .agg(count(lit(1)).as("cnt"), max("w").as("mw"),
          max(length(col("payload"))).as("pl"))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p)
      assert(p.contains("skew=true"), s"AQE did not split the hot partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("d10 never shuffles the base corpus: all joins broadcast, no SMJ") {
    val p = plan("d10_incremental_dedup")
    // the base side must flow scan → broadcast semi-join; a sort-merge
    // join would mean the full base got shuffled per increment
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d03 minhash runs as a native catalyst expression, not a UDF") {
    // (WholeStageCodegen wrappers only materialize per-stage at execution
    // under AQE, so the pre-execution plan can't be checked for them)
    val p = plan("d03_dedup_minhash_lsh")
    assert(p.contains("minhash_sig("), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("d11 keep-best window runs only over the dup sliver") {
    // singletons take the anti-join branch and pass through; the two
    // Window nodes (rank: ordered spec, size: unordered — Spark keeps
    // them separate but they share the one group_rep shuffle) both sit
    // on the labels-join branch — a corpus-wide window here would be
    // the r2 x02 killer. The anti-join branch must stay window-free:
    // every Window occurrence is below the labels join, which the
    // Union's first (singleton) branch by construction lacks.
    val p = plan("d11_dedup_survivors")
    assert(countOf(p, "Window") == 2, p)
    assert(p.contains("LeftAnti"), p)
    // the Union prints the singleton branch first (depth-first): its
    // whole anti-join subtree must come before any Window node
    assert(p.indexOf("LeftAnti") < p.indexOf("Window"), p)
  }

  test("p09 split draw is map-side: no window, no cartesian") {
    val p = plan("p09_leakage_safe_split")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("s03 at scale: past the broadcast threshold the self-join shuffles") {
    // At bench SFs s03's projected key column is tiny, so the planner
    // broadcasts it and the whole self-join count runs as single-task
    // compute (bench_full: 171 B shuffled, cpu ≈ run ≈ wall — the r6/r7
    // wall "regression" was JIT constant on that one thread, not work).
    // This pins the shape s03 degrades to at real scale, where the
    // build side exceeds autoBroadcastJoinThreshold: a key-partitioned
    // shuffled join — parallel, no driver-side collect — with the same
    // result.
    val conf = spark.conf
    val expected = run("s03_shuffle_join").collect()(0).getLong(0)
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = run("s03_shuffle_join")
      val rows = q.collect()
      assert(rows(0).getLong(0) == expected)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Exchange hashpartitioning"), p)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("s03b rewrite: same count as s03 with no join in the plan") {
    // |A ⋈ₖ A| = Σₖ cnt(k)² — the aggregate-first rewrite must produce
    // s03's exact count while planning as two hash aggregates (map-side
    // partial + final), with no join operator of any kind.
    val expected = run("s03_shuffle_join").collect()(0).getLong(0)
    val q = run("s03b_join_count_rewrite")
    assert(q.collect()(0).getLong(0) == expected)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("a11 nn-join ranks via aggregates, never a corpus-keyed window") {
    // the scaladoc's claim: both the top-2 cell probe and the final
    // argmax are hash aggregates (map-side partial), not row_number
    // windows over the n×k candidate stream
    val p = plan("a11_nn_join")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d13 span dedup happy path broadcasts the shared sliver, no window") {
    val p = plan("d13_span_dedup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("t08 bigram counts materialize once (cache) and feed both consumers") {
    val p = plan("t08_bigram_lm")
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e08 journeys: one user-keyed window, bounded path agg, no cartesian") {
    val p = plan("e08_user_journey")
    // exactly one Window NODE (the rank); the token also appears inside
    // windowspecdefinition expressions, so count node headers
    assert(countOf(p, "Window [") == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p12 waterfill joins only broadcast #langs-row tables") {
    val p = plan("p12_mix_waterfill")
    // corpus never shuffles for the join: totals + k are broadcast
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("x07 sharding is one partial-agg shuffle over the scan") {
    val p = plan("x07_shard_balance")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("t10 readability is pure map-side: only the sort exchanges") {
    val p = plan("t10_readability")
    assert(countOf(p, "Exchange") == 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Window") && !p.toLowerCase.contains("join"), p)
  }

  test("p13 curriculum: no window, no join — stage assignment is map-side") {
    val p = plan("p13_curriculum")
    assert(!p.contains("Window"), p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("m05 chunk dedup joins digests, never doc pairs") {
    val p = plan("m05_chunk_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("a12 vote argmax is an aggregate: exactly the top-5 rank window") {
    val p = plan("a12_knn_classify")
    assert(countOf(p, "Window [") == 1, p) // the rank — the vote adds none
    // and the rank is group-limit-pushed: candidates truncate to 5 per
    // query BEFORE the q_id shuffle, so the window never moves the full
    // query×corpus score stream
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p) // query side is broadcast
  }

  test("e10 attribution is one window pass, no self-join") {
    val p = plan("e10_attribution")
    assert(countOf(p, "Window") == 1, p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("d14/p14 group digests with hash aggregates, no windows") {
    Seq("d14_prefix_dedup", "p14_snapshot_diff").foreach { k =>
      val p = plan(k)
      assert(!p.contains("Window"), s"$k: $p")
      assert(p.contains("HashAggregate"), s"$k: $p")
    }
  }

  test("e11 RFM: corpus max broadcasts; users never re-shuffle for it") {
    val p = plan("e11_rfm_segments")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("s07 skew audit separates s01/s02 key spaces; replay matches") {
    val rows = run("s07_skew_audit").collect()
      .map(r => r.getAs[String]("dist") ->
        ((r.getAs[Long]("n_keys"), r.getAs[Long]("max_cnt"),
          r.getAs[Long]("top1_ppm"), r.getAs[Boolean]("skewed")))).toMap
    // the audit's numbers ARE s01/s02's per-key counts, summarized
    val s01 = run("s01_synthetic_groupby").collect()
      .map(_.getAs[Long]("cnt"))
    val s02 = run("s02_skewed_groupby").collect()
      .map(_.getAs[Long]("cnt"))
    val total = s01.sum
    assert(rows("uniform")._1 == s01.length.toLong)
    assert(rows("uniform")._2 == s01.max)
    assert(rows("skewed")._1 == s02.length.toLong)
    assert(rows("skewed")._2 == s02.max)
    assert(rows("skewed")._3 == s02.max * 1000000L / total)
    // the 30%-hot key space must flag, the uniform one must not
    assert(rows("skewed")._4 && !rows("uniform")._4)
    // one narrow aggregation chain per distribution — never a join
    val p = plan("s07_skew_audit")
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("q44 executes as a real semi join (one probe emit per part)") {
    val p = plan("q44_semi_join")
    assert(p.contains("LeftSemi"), p)
    // the build side is the filtered projection, never the whole table
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
  }

  test("a16 rank lists are limit-pushed, not a full corpus sort") {
    val p = plan("a16_hybrid_search")
    // empty-partition rank windows rewrite to TakeOrderedAndProject
    // (per-partition bounded heaps + one 50-row merge); the row_number
    // window then runs over <= 50 rows. A regression to a global Sort
    // under the Window drops these nodes.
    assert(countOf(p, "TakeOrderedAndProject(limit=50") >= 2, p)
    // and the single-vector query side broadcasts
    assert(p.contains("BroadcastExchange"), p)
  }

  test("x12 propagates the id list by join for embeddings only") {
    val p = plan("x12_delete_propagation")
    // documents side: map-side predicate, no join in its branch — so
    // exactly ONE join in the whole plan (the embeddings propagation)
    assert(countOf(p, "Join") == 1, p)
  }

  test("x11 DP release is one partial-agg chain, noise applied post-agg") {
    val p = plan("x11_dp_count")
    assert(!p.contains("Join"), p)
    assert(countOf(p, "HashAggregate") == 2, p) // partial + final
  }

  test("s08 partition plan replays exactly on a planted corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("s08").toString
    Seq((0L, "abcd"), (1L, "xy"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq((1L, "2024-01-01 10:00:00", 1L, "view", 1.0, "{}"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    Seq((0L, Array(1.0f, 2.0f, 3.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = run("s08_partition_planner", d).collect()
      .map(r => r.getAs[String]("tbl") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("est_bytes"),
          r.getAs[Long]("rec_partitions")))).toMap
    // documents: (4+2+2+16) + (2+2+2+16) = 46; events: 32+4+2 = 38;
    // embeddings: 12 + 3*4 = 24; everything far under one 128 MiB target
    assert(got == Map(
      "documents" -> ((2L, 46L, 1L)),
      "events" -> ((1L, 38L, 1L)),
      "embeddings" -> ((1L, 24L, 1L))), got)
    // sf sanity: bytes grow with rows, the plan never drops below 1
    run("s08_partition_planner").collect().foreach { r =>
      assert(r.getAs[Long]("est_bytes") > r.getAs[Long]("n_rows"), r)
      assert(r.getAs[Long]("rec_partitions") >= 1L, r)
    }
  }

  test("g11/g12 rank through bounded heaps, never a global sort") {
    val p11 = plan("g11_link_prediction")
    assert(p11.contains("TakeOrderedAndProject"), p11)
    val p12 = plan("g12_hub_report")
    assert(p12.contains("TakeOrderedAndProject"), p12)
  }

  test("q53 merge is ONE full-outer join, no window anywhere") {
    val p = plan("q53_merge_upsert")
    assert(countOf(p, "FullOuter") == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("t22/t23/x22 audits are map-side: one exchange each (the agg)") {
    Seq("t22_encoding_audit", "t23_casing_profile", "x22_redaction_audit")
      .foreach { name =>
        val p = plan(name)
        assert(!p.contains("Join"), s"$name: $p")
        assert(!p.contains("Window"), s"$name: $p")
      }
  }

  test("x21 lineage card is pure map-side apart from the output sort") {
    val p = plan("x21_lineage_card")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("e29 never windows: the explode rewrite is aggregates only") {
    val p = plan("e29_stickiness")
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the bounded 7-day explode
  }

  test("q56 skyline windows are band-partitioned, no dominance self-join") {
    val p = plan("q56_skyline")
    // three windows: band-prefix max (over the tiny band table), the
    // BAND-PARTITIONED strictly-lower-price RANGE max, the same-price
    // max — and NOT the oracle's O(n²) NOT-EXISTS scan
    assert(countOf(p, "Window [") == 3, p)
    assert(p.contains("windowspecdefinition(band"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("e31/e32 share one cached daily collapse; legs join the cache") {
    val p32 = plan("e32_autocorr")
    // all four leg sides read the ≤|days|-row cache, never the raw events
    assert(countOf(p32, "InMemoryTableScan") == 4, p32)
    assert(!p32.contains("Window"), p32)
    val p31 = plan("e31_cusum")
    assert(p31.contains("InMemoryTableScan"), p31)
  }

  test("t25 marginals derive from t08's cached bigram table; heap top-20") {
    val p = plan("t25_pmi_collocations")
    // pair table + both marginals + total = 4 reads of the one cache
    assert(countOf(p, "InMemoryTableScan") == 4, p)
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort
    assert(!p.contains("CartesianProduct"), p)     // tot joins by broadcast
  }

  test("s09 joins bucketed scans in place: no exchange or sort below the join") {
    val p = plan("s09_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    // both scans are bucketed 8/8 — co-located, nothing to shuffle
    assert(countOf(p, "SelectedBucketsCount: 8 out of 8") == 2, p)
    // the ONLY exchanges are the 5-row segment rollup and the output
    // sort; one file per bucket means the scan sort order feeds the SMJ
    // directly, so the only Sort node is the output's
    assert(countOf(p, "Exchange") == 2, p)
    assert(countOf(p, "Sort [") == 1, p)
    // and the bucketed copies hold exactly the source rows
    import org.apache.spark.sql.functions._
    val expect = graft.Tables(spark, sf, "orders")
      .join(graft.Tables(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.AggFns.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
      .collect().map(_.toSeq).toSeq
    assert(run("s09_bucketed_join").collect().map(_.toSeq).toSeq == expect)
  }

  test("q57 ranks/regroups on the 25-nation rollup: one fact pass") {
    val p = plan("q57_top_others")
    // rank + grand-total are BOTH windows over the dim rollup, so each
    // fact/dim table is scanned exactly once
    assert(countOf(p, "Window [") == 2, p)
    assert(countOf(p, "FileScan parquet") == 3, p)
    assert(p.contains("BroadcastHashJoin"), p) // nation dim broadcasts
  }

  test("t26 grid joins the one cached count table; corpus tokenized once") {
    val p = plan("t26_source_divergence")
    // marginals + totals + grid join-back all read the cache
    assert(countOf(p, "InMemoryTableScan") == 4, p)
    assert(!p.contains("CartesianProduct"), p) // totals ride as broadcasts
  }

  test("q58 histogram median: one fact pass, flag-keyed windows, no join") {
    val p = plan("q58_group_median")
    assert(countOf(p, "FileScan parquet") == 1, p)
    assert(!p.contains("Join"), p)
    // both windows partition by flag — never a global sort of the data
    assert(p.contains("windowspecdefinition(flag"), p)
  }

  test("p28 IPF: the grid caches; multipliers ride broadcast joins only") {
    val p = plan("p28_ipf_reweight")
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p)
  }

  test("t27 train counts cache once; vocab reads the cache, not the corpus") {
    val p = plan("t27_heldout_perplexity")
    // surprisal base + prefix marginal + both vocab legs = 4 cache reads
    assert(countOf(p, "InMemoryTableScan") == 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e34 touches events once: user window + matrix window, no join") {
    val p = plan("e34_stationary_step")
    assert(countOf(p, "FileScan parquet") == 1, p)
    assert(countOf(p, "Window [") == 2, p)
    assert(!p.contains("Join"), p)
  }

  test("q59 latest-per-key is an aggregate argmax: no window, partial agg") {
    val p = plan("q59_latest_order")
    assert(!p.contains("Window"), p)
    // map-side partial: the shuffle carries |keys| structs, not |orders|
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      countOf(p, "HashAggregate") >= 2, p)
    assert(countOf(p, "FileScan parquet") == 1, p)
  }

  test("x24 bias audit costs one scan: conditional aggs, no join") {
    val p = plan("x24_sample_bias")
    assert(countOf(p, "FileScan parquet") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("e33 endpoint sweep never single-tasks the corpus: day-keyed windows") {
    val p = plan("e33_peak_concurrency")
    // the endpoint running sum is PARTITIONED by day — the t-ordered
    // window spec must lead with the day key, and its shuffle is a
    // day-hash exchange, never one global sort of all endpoints
    assert(p.contains("windowspecdefinition(day"), p)
    assert(p.contains("Exchange hashpartitioning(day"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    // session + ranked-endpoint caches feed the multi-consumer fan-out
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e03/e15/e33/e35 share ONE sessionize pass: every family member " +
       "reads the session-interval cache; events is scanned once") {
    graft.operators.HotCache.releaseAll()
    val family = Seq("e03_sessionize", "e15_session_stats",
      "e33_peak_concurrency", "e35_bounce_rate")
    // every member's plan consumes the cached interval table, and all
    // four cache the SAME subtree (the slot evicts on plan change, so a
    // divergent sessionize pass would fork the cache)
    val plans = family.map(k => k -> plan(k))
    plans.foreach { case (k, p) =>
      assert(p.contains("InMemoryTableScan"), s"$k misses the cache:\n$p")
    }
    // each member reads an InMemoryRelation with the interval-table
    // schema (e33 additionally caches its runs table on top of it)
    val ivSig = ("InMemoryRelation \\[user_id#\\d+L, session_id#\\d+L, " +
      "len#\\d+L, s_m#\\d+L, e_m#\\d+L, fst#\\d+\\]").r
    plans.foreach { case (k, p) =>
      assert(ivSig.findFirstIn(p).isDefined,
        s"$k does not read the shared interval table:\n$p")
    }
    // runtime pin for "events is scanned once": fill the cache by
    // executing e03, then the REST of the family must read ~zero file
    // bytes — every events access is a cache hit
    graft.operators.HotCache.releaseAll()
    run("e03_sessionize").collect()
    val inBytes = Meter.measure(spark)(
      family.drop(1).foreach(k => run(k).collect()))._2.inputB
    val mb = inBytes / 1e6
    assert(inBytes < 1000000L,
      f"family re-read $mb%.1f MB from files after the cache was filled")
    graft.operators.HotCache.releaseAll()
  }

  /** The fills g06's build runs on `dir` (every query it runs is one),
    * their output columns, and its result.
    */
  private def g06Fills(dir: String) = {
    val (out, fills, _) = queriesDuring(run("g06_kcore", dir))
    (fills, fills.map(_.analyzed.output.map(_.name)), out)
  }

  test("g06 at sf0.001 is fixed at round 0: one edge fill, one degree fill, no round") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val (all, cols, _) = g06Fills(sf)
    assert(cols == Seq(Seq("u", "v"), Seq("u", "deg")), cols)
    // no semi-join is planned at all, broadcast or shuffled
    all.foreach { qe =>
      assert(qe.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j
      }.isEmpty, qe.executedPlan)
    }
  }

  test("g06 peels on node-sized state: one edge-sized fill, one broadcast a round") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    def semis(p: SparkPlan) = helper.collect(p) {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }
    // the cascade peels in rounds 1-3 and is fixed from round 3
    val (all, cols, out) = g06Fills(Planted.kcoreCascade(spark))
    // the edge list is cut once; every round cuts only its degree table
    assert(cols.count(_ == Seq("u", "v")) == 1, cols)
    assert(cols.count(_ == Seq("u", "deg")) == 4, cols)
    assert(all.length == 5, cols)
    val rounds = all.map(_.executedPlan).filter(semis(_).nonEmpty)
    assert(rounds.length == 3, rounds.mkString("\n"))
    // both semi-joins of a round read one broadcast: the second reuses it
    rounds.foreach { p =>
      assert(semis(p).length == 2, p)
      assert(helper.collect(p) { case b: BroadcastExchangeExec => b }.length == 1, p)
      assert(helper.collect(p) {
        case r: ReusedExchangeExec if r.child.isInstanceOf[BroadcastExchangeExec] => r
      }.length == 1, p)
    }
    // the trace is observed off the fills: the result is a local frame
    val fin = out.queryExecution.executedPlan.toString
    assert(!fin.contains("Exchange"), fin)
  }

  test("q09/q17 part join flips to a shuffled join past the broadcast threshold") {
    // SURVEY §5's prediction, pinned: `part` is SF-proportional (unlike
    // region/nation), so neither q09 nor q17 may HINT it broadcast — past
    // autoBroadcastJoinThreshold the planner must be free to pick
    // SortMergeJoin. Simulate the sf≥1 size relation by lowering the
    // threshold instead of shipping a 10 MB fixture; the sf1 probe
    // (PROBE_r11) confirms the same flip on real 10x data.
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val q09Expected = run("q09_product_profit").collect()
    val q17Expected = run("q17_small_qty_avg").collect()
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE plan strings carry BOTH the final and the initial plan; only
    // the final section is the shape that actually ran
    def finalPlan(p: String): String = {
      val cut = p.indexOf("== Initial Plan ==")
      if (cut >= 0) p.substring(0, cut) else p
    }
    try {
      val q9 = run("q09_product_profit")
      assert(q9.collect().sameElements(q09Expected))
      val p9 = finalPlan(q9.queryExecution.executedPlan.toString)
      // the two bounded dims (supplier, nation) are explicitly hinted and
      // must STAY broadcast; part and orders flip to shuffled joins
      assert(countOf(p9, "BroadcastHashJoin") == 2, p9)
      assert(p9.contains("SortMergeJoin") || p9.contains("ShuffledHashJoin"), p9)

      val q17 = run("q17_small_qty_avg")
      assert(q17.collect().sameElements(q17Expected))
      val p17 = finalPlan(q17.queryExecution.executedPlan.toString)
      // q17 carries no hint at all: nothing may broadcast past the
      // threshold, and no driver-side fallback may appear
      assert(!p17.contains("BroadcastHashJoin"), p17)
      assert(p17.contains("SortMergeJoin") || p17.contains("ShuffledHashJoin"), p17)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
