package graft

import org.apache.spark.sql.functions._

/** Pins the `graft.checkpoint.dir` gate (Checkpoints.cut): the reliable-
  * checkpoint cluster profile must produce results identical to the
  * default localCheckpoint path, on an ITERATIVE operator that exercises
  * cut() and cutCounted() every round (connected components), and on
  * g06, whose trace is observed off its degree fills (cutObserved); the
  * observed aggregates must match plain aggregates in both modes.
  */
class CheckpointModeSpec extends SparkSpecBase {

  private def edges = {
    import spark.implicits._
    // two components (1-2-3-4 chain, 10-11) plus a self-loop and a dup
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L), (5L, 5L))
      .toDF("a_id", "b_id")
  }

  private def labelsSorted = {
    val (lbl, rounds) = operators.ConnectedComponents.run(edges)
    assert(rounds >= 1)
    lbl.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
  }

  test("reliable-checkpoint mode produces identical CC labels") {
    val local = labelsSorted
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val reliable = labelsSorted
      assert(reliable === local)
      // the gate actually engaged: reliable checkpoint wrote files
      assert(spark.sparkContext.getCheckpointDir.nonEmpty)
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
    }
    assert(local === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("cutCounted's observed count equals a plain count") {
    val df = spark.range(0, 1000).select(col("id").as("v"))
      .filter(col("v") % 3 === 0)
    val (out, n) = operators.Checkpoints.cutCounted(df)
    assert(n === 334L)
    assert(out.count() === 334L)
  }

  test("cutObserved's observed aggregates equal plain aggregates in both modes") {
    val df = spark.range(0, 1000).select(col("id").as("v"))
      .filter(col("v") % 3 === 0)
    // the empty frame is the NULL-sum case: no row reaches sum or max
    def check(): Unit = Seq(df, df.filter(col("v") < 0)).foreach { in =>
      val (out, m) = operators.Checkpoints.cutObserved(in,
        count(lit(1)).as("n"), sum("v").as("s"), max("v").as("hi"))
      val plain = in.agg(count(lit(1)), sum("v"), max("v")).head()
      assert(m == Map("n" -> plain.get(0), "s" -> plain.get(1),
        "hi" -> plain.get(2)))
      assert(out.agg(count(lit(1)), sum("v"), max("v")).head() == plain)
    }
    check()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    withConfs("graft.checkpoint.dir" -> dir)(check())
  }

  test("reliable-checkpoint mode produces identical g06 rows") {
    val local = run("g06_kcore").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val reliable =
      withConfs("graft.checkpoint.dir" -> dir)(run("g06_kcore").collect().toSeq)
    assert(reliable == local)
    assert(local.length == 5)
  }
}
