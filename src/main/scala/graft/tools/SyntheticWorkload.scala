package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** CLI parity with the reference's workload scripts
  * (/root/reference/synthetic_workload.py and
  * /root/reference/skewed_synthetic_workload.py, invoked by
  * /root/reference/spark-driver.sh -w synthetic|skew -p P -g G -k K):
  *
  *   sbt "runMain graft.tools.SyntheticWorkload <partitions> <size> [skewness]"
  *
  * n = 10M·size keyed rows of 100-char payloads → per-key counts. The
  * reference uses RDD groupByKey (shuffles every payload byte); this is
  * the declarative groupBy(count) — partial aggregation means only
  * per-key counters cross the wire, which is the whole Cherry point
  * (minimize shuffle traffic) achieved plan-side. With skewness k, a
  * fraction k of rows collapse onto one hot key (AQE splits it).
  */
object SyntheticWorkload {
  def main(args: Array[String]): Unit = {
    val partitions = if (args.length > 0) args(0).toInt else 100
    val size = if (args.length > 1) args(1).toDouble else 1.0
    val skewness = if (args.length > 2) args(2).toDouble else 0.0
    val n = (10000000L * size).toLong

    val spark = GraftSession.local(GraftSession.cpus, "synthetic-workload")

    // Deterministic stand-in for the reference's random 100-char payload:
    // same byte volume, reproducible.
    val payload = rpad(hex(xxhash64(col("id"))), 100, "x")
    val keyed = spark.range(1 + partitions, n + 1 + partitions, 1, partitions)
      .select(
        (if (skewness > 0)
           when(col("id") < (skewness * n).toLong, lit(1L))
             .otherwise(col("id") % partitions)
         else col("id") % partitions).as("key"),
        payload.as("payload"))

    val t0 = System.nanoTime()
    val res = keyed.groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy("key").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"Result: ${res.take(10).mkString(", ")} ... (${res.length} keys)")
    println(f"[synthetic-workload] n=$n keys=$partitions skew=$skewness%.2f took $secs%.2f s")
    spark.stop()
  }
}
