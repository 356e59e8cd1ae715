package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage sums over its finished tasks. */
final class StageAcc {
  var tasks, failedTasks = 0L
  var cpuNs, runMs, schedDelayMs, maxTaskMs = 0L
  var shuffleReadBytes, fetchWaitMs = 0L
  var shuffleWriteBytes, writeTimeNs, recordsWritten = 0L
  var inputBytes, spillBytes, peakExecMem = 0L
  val taskReadBytes = mutable.ArrayBuffer.empty[Long]
}

/** Spark listener and query-execution listener for one benchmark run.
  *
  * The light counters (executor CPU, shuffle bytes) are kept on every
  * run: they give the end-to-end `cpu_s` and `shuffle_mb`. Everything
  * else is recorded only while `traced` is set, kept in memory and written
  * out at the end of the run. Jobs carry the job group the harness set
  * around the call that caused them; queries carry the span that was
  * current when they finished.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var traced = false
  @volatile var currentSpan = -1L

  val cpuNs, shuffleWriteBytes, shuffleReadBytes = new AtomicLong

  val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
    if (!traced) return
    val a = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
    val info = e.taskInfo
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    a.maxTaskMs = a.maxTaskMs max info.duration
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.schedDelayMs += (info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime).max(0L)
      val rd = m.shuffleReadMetrics.totalBytesRead
      a.shuffleReadBytes += rd
      if (rd > 0) a.taskReadBytes += rd
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.writeTimeNs += m.shuffleWriteMetrics.writeTime
      a.recordsWritten += m.shuffleWriteMetrics.recordsWritten
      a.inputBytes += m.inputMetrics.bytesRead
      a.spillBytes += m.diskBytesSpilled
      a.peakExecMem = a.peakExecMem max m.peakExecutionMemory
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    jobs.put(e.jobId, mutable.Map[String, Any](
      "id" -> e.jobId,
      "group" -> Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull,
      "start_ms" -> e.time,
      "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    j("end_ms") = e.time
    j("ok") = e.jobResult == JobSucceeded
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    val i = e.stageInfo
    val a = Option(stageAcc.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageAcc)
    stages.add(Map(
      "id" -> i.stageId, "attempt" -> i.attemptNumber(), "name" -> i.name,
      "submit_ms" -> i.submissionTime.getOrElse(0L),
      "complete_ms" -> i.completionTime.getOrElse(0L),
      "failed" -> i.failureReason.isDefined,
      "rdds" -> i.rddInfos.map(_.id),
      "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
      "cpu_ns" -> a.cpuNs, "run_ms" -> a.runMs, "sched_delay_ms" -> a.schedDelayMs,
      "max_task_ms" -> a.maxTaskMs,
      "shuffle_read_bytes" -> a.shuffleReadBytes, "task_read_bytes" -> a.taskReadBytes.toSeq,
      "fetch_wait_ms" -> a.fetchWaitMs,
      "shuffle_write_bytes" -> a.shuffleWriteBytes, "write_time_ns" -> a.writeTimeNs,
      "records_written" -> a.recordsWritten, "input_bytes" -> a.inputBytes,
      "spill_bytes" -> a.spillBytes, "peak_exec_mem" -> a.peakExecMem))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (traced) {
      val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
      queries.add(Map("span" -> currentSpan, "func" -> funcName,
        "duration_ns" -> durationNs, "phases" -> phases, "ops" -> PlanStats(qe.executedPlan)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

/** Counts and SQL metrics of the physical operators in a finished plan,
  * read from the final adaptive plan, its query stages and subqueries.
  */
object PlanStats {
  val operators = Seq("HashAggregate", "SortMergeJoin", "BroadcastHashJoin", "Exchange",
    "Window", "Generate", "Sort", "TopKPerGroup")
  // operators a pair-generating aggregate may sit above its Generate through
  private val passThrough = Set("WholeStageCodegen", "InputAdapter", "Project", "Filter")

  def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _: InMemoryTableScanExec => Nil
    case other => other.children ++ other.subqueries
  }

  private def base(name: String): String = name.takeWhile(_ != ' ').replaceAll("\\(\\d+\\)$", "")

  private def timeS(p: SparkPlan): Double = p.metrics.values.iterator.map { m =>
    m.metricType match {
      case "timing" => m.value / 1e3
      case "nsTiming" => m.value / 1e9
      case _ => 0.0
    }
  }.sum

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").orElse(p.metrics.get("shuffleRecordsWritten")).map(_.value).getOrElse(0L)

  private def reachesGenerate(p: SparkPlan): Option[SparkPlan] = base(p.nodeName) match {
    case "Generate" => Some(p)
    case n if passThrough(n) && p.children.size == 1 => reachesGenerate(p.children.head)
    case _ => None
  }

  def apply(root: SparkPlan): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      val name = base(p.nodeName)
      if (operators.contains(name)) {
        out(s"op.$name.rows") += rows(p)
        out(s"op.$name.time_s") += timeS(p)
        out(s"op.$name.count") += 1
      }
      p match {
        case s: FileSourceScanExec =>
          out("scan.time_s") += timeS(s)
          out("scan.files_bytes") += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case _: InMemoryTableScanExec => out("cache.hit_scans") += 1
        case r: AQEShuffleReadExec =>
          r.metrics.get("numSkewedSplits").foreach(m => out("aqe.skew_splits") += m.value)
          r.metrics.get("numCoalescedPartitions").foreach(m => out("aqe.coalesced_parts") += m.value)
        case _ =>
      }
      if (name == "HashAggregate" && p.children.size == 1)
        reachesGenerate(p.children.head).foreach { g =>
          out("pairs.agg_rows") += rows(p)
          out("pairs.gen_rows") += rows(g)
        }
      children(p).foreach(visit)
    }
    visit(root)
    out.toMap
  }
}
