package graft

import graft.operators.{HotCache, PlanPin}

/** Every size-guarded broadcast (operators.BroadcastGuard) is an
  * optimization, never a semantic. With the cap pinned to 0 and Spark's
  * own broadcast threshold off, each guarded key must run its joins
  * shuffled — no BroadcastHashJoin in the final AQE plan of ANY query it
  * executes, plan-build probes and checkpoint fills included — and
  * return exactly its default-run rows. d08 stands in for
  * ConnectedComponents' guard. g06 runs on the planted purchase graph,
  * which peels in rounds 1 and 2: sf0.001 is fixed at round 0, so its
  * guarded keep broadcast is never built.
  */
class BroadcastFallbackSpec extends SparkSpecBase {

  private lazy val docs = Planted.docs(spark)
  private lazy val incremental = Planted.incrementalDocs(spark)
  private lazy val graph = Planted.purchaseGraph(spark)

  private val cases: Seq[(String, () => String)] = Seq(
    "t08_bigram_lm" -> (() => sf),
    "t27_heldout_perplexity" -> (() => sf),
    "d10_incremental_dedup" -> (() => incremental),
    "d13_span_dedup" -> (() => docs),
    "d17_bloom_incremental" -> (() => incremental),
    "g01_pagerank" -> (() => graph),
    "g06_kcore" -> (() => graph),
    "g09_bfs_reach" -> (() => sf),
    "d08_dedup_groups" -> (() => docs))

  /** The key's rows (sorted, as strings) and the final plan of every
    * query the run executed.
    */
  private def runCapturing(key: String, dir: String): (Seq[String], Seq[String]) = {
    HotCache.releaseAll()
    try {
      val (rows, qes, _) =
        queriesDuring(run(key, dir).collect().map(_.toString).sorted.toSeq)
      // AQE plan strings carry the final plan, then the initial one
      (rows, qes.map { qe =>
        val p = qe.executedPlan.toString
        val cut = p.indexOf("== Initial Plan ==")
        if (cut >= 0) p.substring(0, cut) else p
      })
    } finally HotCache.releaseAll()
  }

  cases.foreach { case (key, dir) =>
    test(s"$key: shuffled fallback past the cap, same rows") {
      val (want, defaultPlans) = runCapturing(key, dir())
      assert(want.nonEmpty)
      assert(defaultPlans.exists(_.contains("BroadcastHashJoin")),
        defaultPlans.mkString("\n"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (got, plans) =
        try PlanPin.during(PlanPin(broadcastCap = 0))(runCapturing(key, dir()))
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(got == want)
      val all = plans.mkString("\n")
      assert(!all.contains("BroadcastHashJoin"), all)
      assert(all.contains("SortMergeJoin") || all.contains("ShuffledHashJoin"), all)
    }
  }
}
