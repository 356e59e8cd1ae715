package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftCoreShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Cost attribution for one block of driver code: the Spark-native
  * equivalent of the reference's per-node metrics monitor
  * (metrics-monitor/metricsMonitor.py:1-193), scoped to a block instead of
  * a node. Bench, `tools.Profile`, `tools.ShuffleStats` and the specs that
  * count jobs or bytes all measure through [[measure]].
  */
object Meter {

  /** What the tasks of one stage (all attempts) reported. `name` is the
    * stage's operators: `sql <id>: ` (the SQL execution id of the job that
    * submitted it) and then its RDDs' operation scopes in data-flow order,
    * e.g. `sql 7: WholeStageCodegen (1) > Exchange`; Spark's call-site name
    * for a stage without scopes; empty for a stage submitted before the
    * block began.
    */
  final case class Stage(id: Int, name: String, tasks: Int, cpuNs: Long,
                         runMs: Long, shuffleReadB: Long,
                         shuffleWriteB: Long, inputB: Long)

  /** The cost of a block: its wall time alone, the jobs it started, the
    * JVM's garbage-collection time while it ran (every collector's
    * MXBean; in local mode driver and executors share the JVM), and every
    * task that ended inside it, by stage in submission order.
    */
  final case class Cost(wallSec: Double, jobs: Int, gcMs: Long,
                        stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def cpuMs: Long = stages.map(_.cpuNs).sum / 1000000
    def runMs: Long = stages.map(_.runMs).sum
    def shuffleReadB: Long = stages.map(_.shuffleReadB).sum
    def shuffleWriteB: Long = stages.map(_.shuffleWriteB).sum
    def inputB: Long = stages.map(_.inputB).sum
  }

  private def name(info: StageInfo, execId: Option[String]): String = {
    val scopes = GraftCoreShim.scopeNames(info)
    val ops = if (scopes.isEmpty) info.name else scopes.mkString(" > ")
    execId.fold(ops)(x => s"sql $x: $ops")
  }

  /** Accumulated collection time of every garbage collector of the JVM. */
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` and returns its result with its cost. The listener bus is
    * drained before and after: task-end events post asynchronously, so
    * without the drains the tail of one block's tasks would be credited to
    * the next block.
    */
  def measure[A](spark: SparkSession)(body: => A): (A, Cost) = {
    val sc = spark.sparkContext
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    var jobs = 0
    val execIds = mutable.HashMap.empty[Int, String] // stage id → SQL execution id
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.synchronized {
          jobs += 1
          Option(e.properties)
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .foreach(x => e.stageIds.foreach(execIds(_) = x))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          val id = e.stageInfo.stageId
          if (!stages.contains(id))
            stages(id) = Stage(id, name(e.stageInfo, execIds.get(id)), 0, 0, 0, 0, 0, 0)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val s = stages.getOrElse(e.stageId,
            Stage(e.stageId, "", 0, 0, 0, 0, 0, 0))
          val m = e.taskMetrics
          stages(e.stageId) =
            if (m == null) s.copy(tasks = s.tasks + 1)
            else s.copy(tasks = s.tasks + 1,
              cpuNs = s.cpuNs + m.executorCpuTime,
              runMs = s.runMs + m.executorRunTime,
              shuffleReadB = s.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
              shuffleWriteB = s.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
              inputB = s.inputB + m.inputMetrics.bytesRead)
        }
    }
    GraftCoreShim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val a = body
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcMs() - gc0
      GraftCoreShim.drainListenerBus(sc)
      stages.synchronized((a, Cost(wall, jobs, gc, stages.values.toSeq)))
    } finally sc.removeSparkListener(listener)
  }
}
