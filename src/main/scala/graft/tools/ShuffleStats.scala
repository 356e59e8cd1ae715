package graft.tools

import graft.{GraftSession, Meter}
import org.apache.spark.sql.functions._

/** Measures what the reference attacks with a shuffle-service daemon —
  * shuffle traffic — and shows the plan-side answer. Runs the reference's
  * synthetic workload (synthetic_workload.py:29-35) two ways over the same
  * generated data and reports bytes that crossed the shuffle:
  *
  *   1. RDD groupByKey (the reference's formulation): every payload byte
  *      shuffles.
  *   2. Declarative groupBy(count): partial aggregation — only per-key
  *      counters shuffle.
  *
  * `sbt "runMain graft.tools.ShuffleStats [partitions] [size]"`
  */
object ShuffleStats {
  def main(args: Array[String]): Unit = {
    val partitions = if (args.length > 0) args(0).toInt else 100
    val size = if (args.length > 1) args(1).toDouble else 0.02
    val n = (10000000L * size).toLong
    val spark = GraftSession.local(GraftSession.cpus, "shuffle-stats")

    def measure(label: String)(work: => Unit): Unit = {
      val c = Meter.measure(spark)(work)._2
      println(f"$label%-28s ${c.wallSec}%6.2f s   shuffle write ${c.shuffleWriteB / 1e6}%10.2f MB   read ${c.shuffleReadB / 1e6}%10.2f MB")
    }

    val payload = rpad(hex(xxhash64(col("id"))), 100, "x")
    val keyed = spark.range(1 + partitions, n + 1 + partitions, 1, partitions)
      .select((col("id") % partitions).as("key"), payload.as("payload"))

    measure("rdd groupByKey (reference)") {
      keyed.rdd.map(r => (r.getLong(0), r.getString(1)))
        .groupByKey()
        .mapValues(_.size)
        .collect()
    }
    measure("declarative groupBy(count)") {
      keyed.groupBy("key").agg(count(lit(1)).as("cnt")).collect()
    }
    spark.stop()
  }
}
