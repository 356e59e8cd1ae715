package graft.tools

import graft.{Bench, GraftSession, Meter, SparkEntry}

/** Where keys spend their time. Each key runs a cold pass and then
  * [[WarmPasses]] warm passes under Bench's protocol (build + noop-sink
  * save, HotCache released after each pass). The cold pass carries the
  * key's one-time JIT/codegen cost and is printed as measured: its wall
  * time, the jobs started (plan-build probes, checkpoint fills and the
  * final save), the JVM's GC time, the task totals, and the stages that
  * used the most executor cpu, each named by its SQL execution id and
  * operators (`graft.Meter.Stage`). The warm passes are the steady state;
  * one of them alone swings by ±40% in stage cpu on a shared box, so they
  * are printed as the median and min-max of wall, cpu, task-run, GC and
  * jobs, and the top stages by median cpu, a stage matched across the
  * passes by its place in submission order.
  *
  * Usage: sbt "runMain graft.tools.Profile <dir> <key...>"
  * `dir` is a data dir: a testdata SF dir, or a corpus written by
  * `ScaleUp` or `ScaleProbe`. Cores come from SPARK_GRAFT_CPUS.
  */
object Profile {
  private val TopStages = 8
  private val WarmPasses = 5

  private def mb(b: Long): String = f"${b / 1e6}%.3f"

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** `median (min-max)` of `xs`, each formatted with `fmt`. */
  private def spread(xs: Seq[Double], fmt: String): String =
    s"${fmt.format(median(xs))} (${fmt.format(xs.min)}-${fmt.format(xs.max)})"

  private def stageLine(s: Meter.Stage, cpuNs: Double): String =
    f"  stage ${s.id}%5d tasks ${s.tasks}%5d " +
      f"cpu ${cpuNs / 1e9}%8.2f s run ${s.runMs / 1e3}%8.2f s " +
      s"shuffle r/w ${mb(s.shuffleReadB)}/${mb(s.shuffleWriteB)} MB " +
      s"input ${mb(s.inputB)} MB  ${s.name.take(120)}"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <dir> <key...>")
    val dir = args.head
    val keys = args.tail.toSeq
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus, "graft-profile")
    Bench.warmUp(spark, dir)
    var failed = false
    for (key <- keys) {
      def pass(): Meter.Cost = {
        val (ok, c) = Bench.pass(spark, dir, key, SparkEntry.queries(key))
        if (!ok) { failed = true; println(s"$key pass FAILED") }
        c
      }
      val c = pass()
      println(f"$key cold: wall ${c.wallSec}%.2f s, " +
        s"jobs ${c.jobs}, stages ${c.stages.length}, tasks ${c.tasks}, " +
        f"cpu ${c.cpuMs / 1e3}%.2f s, run ${c.runMs / 1e3}%.2f s, " +
        f"gc ${c.gcMs / 1e3}%.2f s, " +
        s"shuffle read ${mb(c.shuffleReadB)} MB, " +
        s"write ${mb(c.shuffleWriteB)} MB, input ${mb(c.inputB)} MB")
      c.stages.sortBy(-_.cpuNs).take(TopStages)
        .foreach(s => println(stageLine(s, s.cpuNs.toDouble)))
      val warm = Seq.fill(WarmPasses)(pass())
      println(s"$key warm, median (min-max) of $WarmPasses passes: " +
        s"wall ${spread(warm.map(_.wallSec), "%.2f")} s, " +
        s"jobs ${spread(warm.map(_.jobs.toDouble), "%.0f")}, " +
        s"cpu ${spread(warm.map(_.cpuMs / 1e3), "%.2f")} s, " +
        s"run ${spread(warm.map(_.runMs / 1e3), "%.2f")} s, " +
        s"gc ${spread(warm.map(_.gcMs / 1e3), "%.2f")} s, " +
        s"shuffle write ${spread(warm.map(_.shuffleWriteB / 1e6), "%.3f")} MB, " +
        s"input ${spread(warm.map(_.inputB / 1e6), "%.3f")} MB")
      // the i-th stage submitted in each pass: median cpu, the rest of
      // the line (id, tasks, run, bytes, name) from the first pass
      (0 until warm.map(_.stages.length).max)
        .map(i => warm.flatMap(_.stages.lift(i)))
        .map(ss => ss.head -> median(ss.map(_.cpuNs.toDouble)))
        .sortBy(-_._2).take(TopStages)
        .foreach { case (s, cpu) => println(stageLine(s, cpu)) }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
