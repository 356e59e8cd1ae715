package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins Bench's per-query attribution, checked against Spark's own status
  * store: a block's cost holds exactly the jobs and tasks the block
  * started, and nothing of the block measured before it.
  */
class MeterSpec extends SparkSpecBase {

  /** Runs `body` under a fresh job group, measured; returns the cost and
    * the ids of the jobs Spark recorded for the group.
    */
  private def measured(group: String)(body: => Unit): (Meter.Cost, Seq[Int]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try {
      val c = Meter.measure(spark)(body)._2
      (c, sc.statusTracker.getJobIdsForGroup(group).toSeq)
    } finally sc.clearJobGroup()
  }

  test("range(...).count() reports exactly the jobs Spark starts") {
    val (c, jobIds) = measured("meter-count") {
      assert(spark.range(0, 100000, 1, 4).count() == 100000L)
    }
    assert(jobIds.nonEmpty)
    assert(c.jobs == jobIds.length, (c, jobIds))
  }

  test("shuffle bytes stay with their block: groupBy, then a shuffle-free scan") {
    // Stall the listener bus for 2 s on the end of a query inside the
    // block (query listeners run on the bus thread), so the groupBy's
    // task-end events are still queued when the block returns: only the
    // drain after the block can credit them to it.
    @volatile var stall = false
    val staller = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (stall) { stall = false; Thread.sleep(2000) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(staller)
    try {
      val grouped = Meter.measure(spark) {
        stall = true
        spark.range(10).collect()
        spark.range(0, 200000, 1, 4)
          .groupBy((col("id") % 1000).as("k")).agg(sum("id"))
          .write.format("noop").mode("overwrite").save()
      }._2
      assert(grouped.shuffleWriteB > 0, grouped)
      assert(grouped.shuffleReadB > 0, grouped)
      val scan = Meter.measure(spark)(
        spark.range(0, 200000, 1, 4).selectExpr("id * 2 AS x")
          .write.format("noop").mode("overwrite").save())._2
      assert(scan.tasks > 0, scan)
      assert(scan.shuffleWriteB == 0 && scan.shuffleReadB == 0, scan)
    } finally spark.listenerManager.unregister(staller)
  }

  test("per-stage sums equal the totals, and every stage's tasks are counted") {
    val (c, jobIds) = measured("meter-stages") {
      spark.range(0, 200000, 1, 4)
        .groupBy((col("id") % 100).as("k")).agg(count(lit(1)).as("n"))
        .join(spark.range(0, 100).withColumnRenamed("id", "k"), "k")
        .write.format("noop").mode("overwrite").save()
    }
    assert(c.stages.length >= 2, c)
    assert(c.tasks == c.stages.map(_.tasks).sum)
    assert(c.cpuMs == c.stages.map(_.cpuNs).sum / 1000000)
    assert(c.runMs == c.stages.map(_.runMs).sum)
    assert(c.shuffleReadB == c.stages.map(_.shuffleReadB).sum)
    assert(c.shuffleWriteB == c.stages.map(_.shuffleWriteB).sum)
    assert(c.inputB == c.stages.map(_.inputB).sum)
    assert(c.shuffleWriteB > 0, c)
    // Spark's record of the same jobs: every stage that ran a task is in
    // the cost, named (see the next test) and with the task count Spark
    // counted
    val tracker = spark.sparkContext.statusTracker
    val ran = jobIds.flatMap(j => tracker.getJobInfo(j).toSeq)
      .flatMap(_.stageIds.toSeq).distinct
      .flatMap(s => tracker.getStageInfo(s).toSeq)
      .filter(_.numCompletedTasks > 0)
      .map(s => s.stageId -> s.numCompletedTasks).toMap
    assert(c.stages.filter(_.tasks > 0).map(s => s.id -> s.tasks)
      .toMap == ran, (c, ran))
    assert(c.stages.forall(_.name.nonEmpty), c)
  }

  test("stages are named by their query's execution id and their operators") {
    // AQE submits shuffle stages from its own thread pool, whose call site
    // (CompletableFuture) is Spark's stage name; the operators are not
    val execIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val seen = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execIds.add(x.executionId)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(seen)
    val c = try Meter.measure(spark) {
      spark.range(0, 200000, 1, 4)
        .groupBy((col("id") % 100).as("k")).agg(sum("id").as("s"))
        .write.format("noop").mode("overwrite").save()
    }._2 finally spark.sparkContext.removeSparkListener(seen)
    val ids = execIds.toArray.toSeq
    val names = c.stages.map(_.name)
    assert(names.nonEmpty && names.forall(n => ids.exists(x => n.startsWith(s"sql $x: "))),
      (names, ids))
    assert(names.exists(n => n.contains("WholeStageCodegen (") &&
      n.endsWith("> Exchange")), names)
    assert(!names.exists(_.contains("CompletableFuture")), names)
  }
}
