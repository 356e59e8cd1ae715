package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.operators.HotCache

/** One benchmark run in one JVM: session set-up, a cold pass that writes
  * every key's result for comparison with its DuckDB oracle, untimed
  * warm-up passes, timed warm passes until `--seconds` have passed, and then
  * repeated set-ups of a fresh session.
  *
  * The session profile and per-key protocol are graft.Bench's: AQE and
  * skew-join on, shuffle partitions equal to the core count, noop sink,
  * HotCache released after every key, no graft.* conf. Spark's code
  * generation cache holds every class a workload generates (see session).
  *
  * With `--trace 1` warm passes alternate traced and untraced, starting
  * traced. A traced pass records spans run → pass → key → {build, exec}
  * (plan phases, jobs and stages are attached later from Spark's
  * own events) and the listener data behind the per-layer metrics.
  *
  * Usage: Harness --data <dir> --keys k1,k2 --seconds <s> --trace <0|1>
  *   --cores <n> --setups <n> --warmup <n> --min-warm <n> --out <raw.json>
  *   --check-dir <dir> --scratch <dir>
  */
object Harness {
  private val nanoBase = System.nanoTime()
  private val epochBaseNs = System.currentTimeMillis() * 1000000L

  /** Epoch nanoseconds from the monotonic clock, comparable with Spark's
    * epoch-millisecond event times.
    */
  def now(): Long = epochBaseNs + (System.nanoTime() - nanoBase)

  final case class Span(id: Long, parent: Long, name: String, key: String, start: Long, var end: Long = 0L)

  def main(argv: Array[String]): Unit = {
    val bootMs = ManagementFactory.getRuntimeMXBean.getUptime
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("data")
    val keys = a("keys").split(",").toSeq
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val scratch = a("scratch")
    val checkDir = a("check-dir")
    val jvm = new JvmStats

    // One set-up: a session, a small warm-up job and the head of every table.
    def setUp(): Long = {
      val t0 = System.nanoTime()
      val s = session(cores, scratch)
      s.range(0, 1000000, 1, cores).selectExpr("sum(id)").collect()
      Tables.all.foreach(n => Tables(s, dir, n).limit(1).collect())
      System.nanoTime() - t0
    }
    val setupNs = mutable.ArrayBuffer(setUp())
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)

    val queries = SparkEntry.queries
    val spans = mutable.ArrayBuffer.empty[Span]
    val storage = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    def open(parent: Long, name: String, key: String): Span = {
      val s = Span(spans.size.toLong, parent, name, key, now())
      spans += s
      s
    }
    def close(s: Span): Unit = s.end = now()
    // Traced calls run under a job group naming their span, so every job
    // they cause (eager build jobs, checkpoint fills, the final save) is
    // attributed to it; the span is also the target of query events.
    def within[A](traced: Boolean, parent: Long, name: String, key: String)(body: => A): A =
      if (!traced) body
      else {
        val s = open(parent, name, key)
        sc.setJobGroup(s"perfbench:${s.id}", s"$key $name", interruptOnCancel = false)
        rec.currentSpan = s.id
        try body
        finally {
          PerfbenchBus.drain(sc)
          close(s)
          sc.clearJobGroup()
        }
      }
    val runSpan = open(-1, "run", "")

    // The cold pass writes each key's result for the oracle check; the
    // others write to the noop sink.
    def runKey(key: String, traced: Boolean, passSpan: Long, check: Boolean): Map[String, Any] = {
      val ks = if (traced) open(passSpan, "key", key) else null
      val resident = if (traced) sc.getRDDStorageInfo.map(_.id).toSet else Set.empty[Int]
      val t0 = now()
      val ok = try {
        val df = within(traced, if (traced) ks.id else -1, "build", key)(queries(key)(spark, dir))
        within(traced, if (traced) ks.id else -1, "exec", key)(
          if (check) df.write.mode("overwrite").parquet(s"$checkDir/$key")
          else df.write.format("noop").mode("overwrite").save())
        true
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(key, String.valueOf(e.getMessage).take(300))
          false
      }
      val t1 = now()
      // blocks the key left resident: its cache fills and checkpoints
      if (traced) storage += Map("span" -> ks.id, "rdds" -> sc.getRDDStorageInfo
        .filterNot(r => resident(r.id)).map(r => Seq(r.id, r.memSize + r.diskSize)).toSeq)
      HotCache.releaseAll()
      if (traced) { PerfbenchBus.drain(sc); close(ks) }
      Map("key" -> key, "ok" -> ok, "start_ns" -> t0, "end_ns" -> t1)
    }

    def pass(kind: String, traced: Boolean): Map[String, Any] = {
      PerfbenchBus.drain(sc)
      val c0 = rec.cpuNs.get; val w0 = rec.shuffleWriteBytes.get; val r0 = rec.shuffleReadBytes.get
      val j0 = jvm.snapshot()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      rec.traced = traced
      val ps = open(runSpan.id, s"pass.$kind", "")
      val rows = keys.map(runKey(_, traced, ps.id, check = kind == "cold"))
      close(ps)
      PerfbenchBus.drain(sc)
      rec.traced = false
      val j1 = jvm.snapshot()
      Map("kind" -> kind, "traced" -> traced, "span" -> ps.id,
        "start_ns" -> ps.start, "end_ns" -> ps.end, "keys" -> rows,
        "cpu_ns" -> (rec.cpuNs.get - c0),
        "shuffle_write_bytes" -> (rec.shuffleWriteBytes.get - w0),
        "shuffle_read_bytes" -> (rec.shuffleReadBytes.get - r0),
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)) ++
        j1.map { case (k, v) => k -> (v - j0(k)) }
    }

    val passes = mutable.ArrayBuffer(pass("cold", traced = false))
    (1 to a("warmup").toInt).foreach(_ => passes += pass("warmup", traced = false))
    val warmStart = System.nanoTime()
    var i = 0
    while (i < a("min-warm").toInt || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      passes += pass("warm", traced = trace && i % 2 == 0)
      i += 1
    }

    val exprs = if (trace) ExprBench(spark, dir) else Map.empty[String, Double]

    close(runSpan)

    // The other set-ups come last, each in place of the session before it,
    // so that they measure set-up in a warm JVM and not the JIT's progress.
    (2 to a("setups").toInt).foreach { _ =>
      SparkSession.active.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      setupNs += setUp()
    }

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }))
    val out = Map(
      "cores" -> cores, "keys" -> keys, "jvm_boot_ms" -> bootMs,
      "setup_ns" -> setupNs.toSeq, "passes" -> passes.toSeq, "errors" -> errors.toMap,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "key" -> s.key, "start_ns" -> s.start, "end_ns" -> s.end)).toSeq,
      "jobs" -> rec.jobs.values.asScala.map(_.toMap).toSeq,
      "stages" -> rec.stages.asScala.toSeq,
      "queries" -> rec.queries.asScala.toSeq,
      "storage" -> storage.toSeq,
      "exprs" -> exprs,
      "jvm" -> (jvm.snapshot() + ("peak_heap_after_gc_bytes" -> jvm.peakHeapAfterGc.get)))
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(out))
    SparkSession.active.stop()
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark's default of 100 entries is outgrown by one pass of either
      // workload (130-180 classes); every pass would then compile all its
      // classes again and the JIT would never settle.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** JVM-wide counters: GC and JIT time, process CPU, and the largest heap
  * in use right after any collection.
  */
final class JvmStats {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  val peakHeapAfterGc = new AtomicLong

  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      override def handleNotification(n: Notification, h: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakHeapAfterGc.accumulateAndGet(used, math.max)
        }
    }, null, null)
    case _ =>
  }

  def snapshot(): Map[String, Long] = Map(
    "gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum,
    "gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum,
    "jit_ms" -> jit.getTotalCompilationTime,
    "proc_cpu_ns" -> os.getProcessCpuTime)
}
