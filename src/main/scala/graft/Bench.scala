package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract). Design constraints, learned the hard
  * way across rounds:
  *
  *  - HONEST: a query that throws is recorded in `"failed":[...]` and the
  *    process exits nonzero — a timing line alone cannot distinguish
  *    "fast" from "crashed before doing the work" (r3's q38 did exactly
  *    that).
  *  - COMPLETE: `bench_full.json` carries every key under its FULL
  *    name (the r08-r11 short-key scheme broke the per-query match
  *    against query names silently for four rounds) with 3-decimal
  *    seconds, shuffle read/write bytes, cpu and run time. The final
  *    stdout line is the summary only, with no per-key data: a runner
  *    that keeps only the last ~2 KB of stdout must still parse it as
  *    JSON.
  *  - MEASURED: [[Meter]] attributes shuffle read/write bytes to each
  *    query — a mechanical plan-regression tripwire: a query whose shuffle
  *    bytes jump 10x between rounds changed plan shape, whatever the
  *    wall-clock noise says.
  */
object Bench {

  /** Untimed warm-up: JVM/codegen/shuffle machinery and parquet footers,
    * so the alphabetically-first query doesn't absorb session startup.
    * Tables absent from `dir` (a generated corpus holds only some) are
    * skipped.
    */
  private[graft] def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(0, 1000000, 1, 4).selectExpr("sum(id)").collect()
    Tables.all.filter(Tables.fingerprint(spark, dir, _).isDefined)
      .foreach(n => Tables(spark, dir, n).limit(1).collect())
  }

  /** One pass of a key: build and save it through the noop sink — a bare
    * count() would let Catalyst prune projections and skip the real work
    * — then release HotCache. Returns whether the pass succeeded, and the
    * cost of the build and save.
    *
    * HotCache is released AFTER each timed save, not once post-loop: every
    * query is timed cold, and the CacheManager can never substitute a
    * previous query's cached subtree into a later sameResult plan
    * regardless of name order.
    */
  private[graft] def pass(spark: SparkSession, dir: String, name: String,
                          fn: (SparkSession, String) => DataFrame)
      : (Boolean, Meter.Cost) = {
    val measured = Meter.measure(spark) {
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    }
    graft.operators.HotCache.releaseAll()
    measured
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // Iteration aid matching Verify's switch: bench a comma-list of keys
    // in isolation (cold JVM — separates real regressions from same-JVM
    // heap/JIT pressure late in a 190-query run). Filtered runs never
    // overwrite the committed bench_full.json; the gate runs unfiltered.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Repetitions per query (default 2): the same tree benched 275-444 s
    // across five rc=0 runs on ambient load in r9 — wall-only comparison
    // cannot detect a real 1.5x regression. Each query runs `reps` times
    // cold-cache (HotCache released between reps); the reported row is
    // the rep with MEDIAN cpu_ms (lower-middle for even counts, i.e. the
    // min of 2 — the steady-state JIT-warm measure), making per-key
    // cpu_ms the load- and warmup-invariant regression gate, with wall
    // seconds advisory alongside.
    val reps = sys.env.get("SPARK_GRAFT_REPS")
      .map(_.trim.toInt).getOrElse(2).max(1)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "/tmp/bench_only.json" else "bench_full.json")
    val spark = GraftSession.local(cpus, "graft-bench")
    warmUp(spark, sfDir)

    final case class R(name: String, sec: Double, rdB: Long, wrB: Long,
                       cpuMs: Long, runMs: Long,
                       cpuAll: Seq[Long] = Nil, secAll: Seq[Double] = Nil,
                       unstable: Boolean = false)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // once() reports success explicitly: with reps > 1, the old shape
    // appended to `failed` once PER failing rep, and a key that passed
    // rep 1 but failed rep 2 reported a successful timing row while also
    // appearing in failed[] — contradictory artifact state (r10 ADVICE).
    // Task CPU time is the deterministic work metric: wall-clock swings
    // ~2x with box load (r6's s03 lesson) while summed executorCpuTime
    // stays ~flat, so round-over-round regressions can be separated from
    // scheduler noise without rerunning on an idle box.
    def once(name: String, fn: (SparkSession, String) => DataFrame)
        : (R, Boolean) = {
      val (ok, c) = pass(spark, sfDir, name, fn)
      (R(name, c.wallSec, c.shuffleReadB, c.shuffleWriteB, c.cpuMs, c.runMs),
        ok)
    }
    // A key is UNSTABLE when its reps disagree > 2x on cpu_ms — the r10
    // driver run proved executorCpuTime itself inflates ~26x under
    // sustained box load (s06 cpu_ms_all [15943,16377] vs 607 on the
    // same tree, shuffle bytes byte-identical), so rep disagreement is
    // measurement noise, not a plan change. An unstable key gets ONE
    // automatic extra rep (the load episode may have passed).
    def spreadOver2x(rs: Seq[R]): Boolean = {
      val cs = rs.map(_.cpuMs.max(1L))
      cs.max.toDouble / cs.min.toDouble > 2.0
    }
    // The VERDICT flag, r11-calibrated: rep 1 carries this query's
    // one-time JIT/codegen cost and runs 2-4x the warm reps on ~every
    // sub-second key (the first full run flagged 66 keys, all with the
    // [heavy, warm, warm] signature). So the any-rep spread only
    // TRIGGERS the extra rep; the flag itself is judged on the
    // JIT-warm reps (2+). Sustained load that inflates every rep
    // equally is invisible to any in-run spread check — that case is
    // benchdiff's round-over-round cpu-vs-shuffle tripwire, not this
    // flag's job.
    def warmSpreadOver2x(rs: Seq[R]): Boolean = {
      val warm = rs.drop(1).map(_.cpuMs.max(1L))
      warm.length > 1 && warm.max.toDouble / warm.min.toDouble > 2.0
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val rs = scala.collection.mutable.ArrayBuffer.empty[R]
        var ok = true
        var i = 0
        while (i < reps && ok) { // stop repeating after the first failure
          val (r, o) = once(name, fn); rs += r; ok = o; i += 1
        }
        if (ok && rs.length > 1 && spreadOver2x(rs.toSeq)) {
          val (r, o) = once(name, fn)
          if (o) rs += r else ok = false
        }
        if (!ok) { failed += name; rs.head }
        else {
          val med = rs.sortBy(_.cpuMs).apply((rs.length - 1) / 2)
          med.copy(cpuAll = rs.map(_.cpuMs).toSeq,
            secAll = rs.map(_.sec).toSeq,
            unstable = warmSpreadOver2x(rs.toSeq))
        }
      }

    def f(v: Double, dp: Int): String =
      s"%.${dp}f".formatLocal(Locale.ROOT, v)
    def jStr(s: String): String = "\"" + s + "\""
    val total = results.map(_.sec).sum
    val failedJson = failed.distinct.map(jStr).mkString("[", ",", "]")
    val unstableJson = results.filter(_.unstable).map(r => jStr(r.name))
      .mkString("[", ",", "]")

    // Full artifact: 3-dp timings + shuffle read/write bytes per query.
    val fullQs = results.map(r => jStr(r.name) + ":" + f(r.sec, 3))
      .mkString("{", ",", "}")
    val fullShuf = results
      .map { r =>
        val per = (if (r.cpuAll.length > 1)
          ",\"cpu_ms_all\":" + r.cpuAll.mkString("[", ",", "]") +
            ",\"sec_all\":" + r.secAll.map(f(_, 3)).mkString("[", ",", "]")
        else "") + (if (r.unstable) ",\"unstable\":true" else "")
        jStr(r.name) + ":{\"r\":" + r.rdB + ",\"w\":" + r.wrB +
          ",\"cpu_ms\":" + r.cpuMs + ",\"run_ms\":" + r.runMs + per + "}"
      }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${f(total, 3)},"unit":"sec",
         |"failed":$failedJson,"unstable":$unstableJson,
         |"sf":"$sfDir","cpus":$cpus,"reps":$reps,
         |"queries":$fullQs,
         |"shuffle_bytes":$fullShuf}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson)

    // Final stdout line: the summary only. A runner that keeps only the
    // last ~2 KB of stdout must still parse it as JSON, and a map of all
    // 259 keys is ~6.5 KB, so the line carries no per-key data. Per-key
    // seconds, cpu and shuffle bytes are in bench_full.json (`full`),
    // which is all tools/benchdiff.py reads.
    println(s"""{"metric":"total","value":${f(total, 2)},"unit":"sec","failed":$failedJson,"unstable":$unstableJson,"full":"$fullPath","sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
