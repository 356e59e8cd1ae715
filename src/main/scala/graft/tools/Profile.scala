package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Where keys spend their time. Each key runs a cold pass and then a warm
  * pass under Bench's protocol (build + noop-sink save, HotCache released
  * after the pass). Per pass it prints the wall time, the jobs started
  * (plan-build probes, checkpoint fills and the final save), the task
  * totals, and the stages that used the most executor cpu, each named by
  * its SQL execution id and operators (`graft.Meter.Stage`). The cold pass
  * carries the key's one-time JIT/codegen cost; the warm pass is the
  * steady state.
  *
  * Usage: sbt "runMain graft.tools.Profile <dir> <key...>"
  * `dir` is a data dir: a testdata SF dir, or a corpus written by
  * `ScaleUp` or `ScaleProbe`. Cores come from SPARK_GRAFT_CPUS.
  */
object Profile {
  private val TopStages = 8

  private def mb(b: Long): String = f"${b / 1e6}%.3f"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <dir> <key...>")
    val dir = args.head
    val keys = args.tail.toSeq
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus, "graft-profile")
    Bench.warmUp(spark, dir)
    var failed = false
    for (key <- keys; pass <- Seq("cold", "warm")) {
      val (ok, c) = Bench.pass(spark, dir, key, SparkEntry.queries(key))
      failed ||= !ok
      println(f"$key $pass${if (ok) "" else " FAILED"}: wall ${c.wallSec}%.2f s, " +
        s"jobs ${c.jobs}, stages ${c.stages.length}, tasks ${c.tasks}, " +
        f"cpu ${c.cpuMs / 1e3}%.2f s, run ${c.runMs / 1e3}%.2f s, " +
        s"shuffle read ${mb(c.shuffleReadB)} MB, " +
        s"write ${mb(c.shuffleWriteB)} MB, input ${mb(c.inputB)} MB")
      c.stages.sortBy(-_.cpuNs).take(TopStages).foreach { s =>
        println(f"  stage ${s.id}%5d tasks ${s.tasks}%5d " +
          f"cpu ${s.cpuNs / 1e9}%8.2f s run ${s.runMs / 1e3}%8.2f s " +
          s"shuffle r/w ${mb(s.shuffleReadB)}/${mb(s.shuffleWriteB)} MB " +
          s"input ${mb(s.inputB)} MB  ${s.name.take(120)}")
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
