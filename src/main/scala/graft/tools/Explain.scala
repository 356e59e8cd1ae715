package graft.tools

/** Plan-audit tool: print the formatted physical plan of one or more
  * SparkEntry queries (default: all). Usage:
  *   sbt "runMain graft.tools.Explain [sfDir] [name ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark =
      graft.GraftSession.local(graft.GraftSession.cpus, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
