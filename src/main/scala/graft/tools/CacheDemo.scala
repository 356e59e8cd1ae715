package graft.tools

import graft.GraftSession
import graft.operators.HotCache
import org.apache.spark.sql.functions._

/** Timing companion to CacheSpec (which pins the plan shape): when
  * several queries share an expensive intermediate, persist it once and
  * every subsequent query reads memory instead of recomputing the
  * scan + shuffle — the Spark-native analog of the reference's
  * look-ahead shuffle-block caching (CherryShuffleService's
  * LOOK_AHEAD_CACHING_*). `sbt "runMain graft.tools.CacheDemo"`.
  */
object CacheDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus, "cache-demo")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label%-42s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    def orderRevenue = HotCache.orderRevenue(spark, sf)

    time("cold: priority rollup")(
      orderRevenue.groupBy("o_orderpriority").agg(sum("rev")).collect())
    time("cold: yearly rollup")(
      orderRevenue.groupBy(year(col("o_orderdate"))).agg(sum("rev")).collect())

    HotCache.withCached(orderRevenue) { cached =>
      time("warm-up: materialize cache")(cached.count())
      time("cached: priority rollup")(
        cached.groupBy("o_orderpriority").agg(sum("rev")).collect())
      time("cached: yearly rollup")(
        cached.groupBy(year(col("o_orderdate"))).agg(sum("rev")).collect())
    }
    spark.stop()
  }
}
