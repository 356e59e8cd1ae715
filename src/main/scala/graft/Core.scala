package graft

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType

/** One engine operator: a DataFrame builder plus (when SQL-expressible) a
  * DuckDB oracle query over the same parquet tables. Column names/types in
  * both must match exactly — the driver sorts columns by name and
  * hash-compares values.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private val schemas = new FileMemo[String, StructType]

  /** A table as a DataFrame. Every call returns a fresh relation with fresh
    * attribute ids, so self-joins and `a("k") === b("k")` resolve as on any
    * plain read.
    *
    * Parquet schema inference is a Spark job plus a footer read, once per
    * call, so the inferred schema is memoized JVM-wide and a hit reads with
    * `spark.read.schema(memo)`: the same relation and physical plan without
    * the job. The memo key is the fully qualified path, the [[fingerprint]]
    * of its files (name, length and modification time of each leaf) and the
    * session's values of [[inferenceConfs]]; a table rewritten in place, or
    * read under a different inference conf, infers afresh. A path whose
    * files cannot be listed is read without the memo, so a missing table
    * fails exactly as a plain `spark.read.parquet` does.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = fingerprint(spark, path)
      .map(fs => (fs, inferenceConfs.map(spark.conf.getOption)))
    val df = schemas.get(path, stamp) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val read = spark.read.parquet(path)
        schemas.put(path, stamp, read.schema)
        read
    }
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    // long (spark.sql.legacy.parquet.nanosAsLong=true, set in every session
    // builder). Normalize to a microsecond TimestampType column; DuckDB's
    // CAST(ts AS TIMESTAMP) truncates ns→µs the same way (`div` truncates
    // for positive epochs).
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else df
  }

  /** The files a path stands for: its fully qualified form plus the name,
    * length and modification time of every leaf file (listed recursively
    * when the path is a directory). Equal fingerprints mean unchanged
    * files; None when the path cannot be listed (absent, unreadable).
    */
  private[graft] def fingerprint(spark: SparkSession,
                                 path: String): Option[FileSet] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(GraftShim.hadoopConf(spark))
      val root = fs.makeQualified(p)
      val top = fs.getFileStatus(root)
      val leaves = if (top.isDirectory) {
        val it = fs.listFiles(root, true)
        val b = Seq.newBuilder[FileStatus]
        while (it.hasNext) b += it.next()
        b.result()
      } else Seq(top)
      Some(FileSet(root.toString, leaves
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sorted))
    } catch { case NonFatal(_) => None }

  /** The fingerprint of table `name` under `dir`. */
  private[graft] def fingerprint(spark: SparkSession, dir: String,
                                 name: String): Option[FileSet] =
    fingerprint(spark, s"$dir/$name.parquet")

  private[graft] final case class FileSet(
      path: String, leaves: Seq[(String, Long, Long)])

  /** A JVM-wide memo of values derived from files: each entry keeps the
    * stamp (a [[fingerprint]], plus whatever else the value depends on) it
    * was derived under, and a lookup hits only under an equal stamp. One
    * entry per key, so rewriting a table replaces its entry; a None stamp
    * (unlistable files) is never stored or hit.
    */
  private[graft] final class FileMemo[K, V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[K, (Any, V)]()

    def get(key: K, stamp: Option[Any]): Option[V] =
      stamp.flatMap(st => Option(m.get(key)).collect {
        case (s, v) if s == st => v
      })

    def put(key: K, stamp: Option[Any], v: V): Unit =
      stamp.foreach(st => m.put(key, (st, v)))

    def getOrElseUpdate(key: K, stamp: Option[Any])(compute: => V): V =
      get(key, stamp).getOrElse {
        val v = compute
        put(key, stamp, v)
        v
      }
  }
}

/** Timestamp arithmetic helpers shared by the event/temporal operators. */
object Timestamps {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lit, unix_micros}

  /** Epoch seconds as DOUBLE, matching DuckDB's epoch(CAST(ts AS
    * TIMESTAMP)): micros (exact integer < 2^53) divided by 1e6 in one IEEE
    * rounding. A direct `ts.cast("double")` is DATATYPE_MISMATCH when the
    * parquet column arrives as TIMESTAMP_NTZ (pandas-written files carry
    * isAdjustedToUTC=false, which Spark 4 reads as NTZ by default); the
    * NTZ->TIMESTAMP cast below is exact because every graft session pins
    * spark.sql.session.timeZone=UTC, and it is a no-op when the column is
    * already TIMESTAMP.
    */
  def epochSec(c: Column): Column =
    unix_micros(c.cast("timestamp")).cast("double") / lit(1e6)
}

/** The one local session profile: Bench, Verify, the specs and every tool
  * that runs queries build their session here. AQE is on everywhere: it coalesces
  * post-shuffle partitions and splits skewed ones — the Spark-native
  * re-expression of the reference's skew-tolerant shuffle service
  * (/root/reference/spark-code/.../CherryShuffleService.scala).
  */
object GraftSession {

  /** The local core count every main runs with: `SPARK_GRAFT_CPUS`,
    * default 4. A non-integer value fails here, before it can reach a
    * session or a JSON artifact.
    */
  def cpus: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    try raw.trim.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_CPUS must be an integer core count, got '$raw'")
    }
  }

  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The conf profile for a real multi-executor cluster at large scale.
    * Returns a configured builder (caller adds master/deploy specifics).
    * Differences from `local` that matter at 100 TB:
    *  - shuffle.partitions sized ~2–3× total cores and then left to AQE
    *    coalescing (here 2000 as a sane 1000-executor default);
    *  - runtime bloom-filter join pruning ON with a creation-side budget
    *    large enough for a filtered fact side (semi-join reduction
    *    before the shuffle — the biggest shuffle-byte lever on selective
    *    fact-fact joins);
    *  - 256 MB scan partitions so a 100 TB table makes ~400k tasks, not
    *    4M;
    *  - skew-join splitting + partition coalescing (AQE) as in local.
    */
  def clusterBuilder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "2000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "128MB")
      .config("spark.sql.files.maxPartitionBytes", "256MB")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
}
