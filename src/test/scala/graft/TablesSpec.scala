package graft

import java.nio.file.Files
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins `Tables`' schema memo to plain parquet reads — schema, rows,
  * physical plan and errors — and pins the file-fingerprint invalidation
  * it shares with the plan-shaping memos (`GraphOps.maxIdOf`): a table
  * rewritten in place, or read under another inference conf, is never
  * served from a stale entry.
  */
class TablesSpec extends SparkSpecBase {

  /** The reference the memo must match: a plain `spark.read.parquet`
    * plus Tables' events conversion.
    */
  private def plain(dir: String, n: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$n.parquet")
    if (n == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0))
      .sorted.toSeq

  /** Executed plan text without attribute ids. */
  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  /** Schema and rows, or the error class and condition a read raises. */
  private def outcome(df: => DataFrame): Either[(Class[_], String), (String, Seq[String])] =
    try { val d = df; Right((d.schema.toDDL, rows(d))) }
    catch {
      case e: Exception => Left((e.getClass, e match {
        case t: SparkThrowable => t.getCondition
        case _ => null
      }))
    }

  private def jobsDuring(body: => Unit): Int =
    Meter.measure(spark)(body)._2.jobs

  private def tmpDir(tag: String) =
    Files.createTempDirectory(s"graft-tables-$tag").toString

  test("every table: a memoized read equals a plain read in schema, rows and plan") {
    Tables.all.foreach { n =>
      Tables(spark, sf, n) // fills the memo
      val memo = Tables(spark, sf, n)
      val ref = plain(sf, n)
      assert(memo.schema == ref.schema, n)
      assert(rows(memo) == rows(ref), n)
      assert(planOf(memo) == planOf(ref), n)
    }
  }

  test("a second read of an unchanged table launches no Spark job") {
    Seq("lineitem", "events").foreach { n =>
      Tables(spark, sf, n)
      assert(jobsDuring(Tables(spark, sf, n)) == 0, n)
    }
  }

  test("a table rewritten in place with another schema reads the new schema") {
    val dir = tmpDir("rewrite")
    spark.range(5).select(col("id").cast("int").as("a"))
      .write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.toDDL == plain(dir, "t").schema.toDDL)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).select(col("id").cast("string").as("a"), col("id").as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables(spark, dir, "t")
    assert(back.schema == plain(dir, "t").schema)
    assert(back.columns.toSeq == Seq("a", "b"))
    assert(rows(back) == rows(plain(dir, "t")))
  }

  test("flipping an inference conf between reads gives what a plain read gives") {
    // orders.o_orderdate is TIMESTAMP(isAdjustedToUTC=false): NTZ under
    // inferTimestampNTZ, LTZ without it
    Tables(spark, sf, "orders")
    val ntz = Tables(spark, sf, "orders").schema("o_orderdate").dataType
    withConfs("spark.sql.parquet.inferTimestampNTZ.enabled" ->
      (ntz != TimestampNTZType).toString) {
      val flipped = Tables(spark, sf, "orders")
      assert(flipped.schema == plain(sf, "orders").schema)
      assert(flipped.schema("o_orderdate").dataType != ntz)
    }
    assert(Tables(spark, sf, "orders").schema("o_orderdate").dataType == ntz)

    // TIMESTAMP(NANOS) events: a long under nanosAsLong (which Tables
    // turns into a µs timestamp), and whatever a plain read does without
    val dir = tmpDir("nanos")
    writeNanosEvents(s"$dir/events.parquet",
      Seq(1L -> 1700000000123456789L, 2L -> 1700000001999999999L))
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      Tables(spark, dir, "events")
      val ev = Tables(spark, dir, "events")
      assert(spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType == LongType)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
        .sorted.toSeq == Seq(1700000000123456L, 1700000001999999L))
      assert(outcome(ev) == outcome(plain(dir, "events")))
    }
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      assert(outcome(Tables(spark, dir, "events")) ==
        outcome(plain(dir, "events")))
    }
  }

  test("two reads of one table self-join on a(k) === b(k) as plain reads do") {
    val a = Tables(spark, sf, "nation")
    val b = Tables(spark, sf, "nation")
    val got = a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_nationkey"), b("n_nationkey"))
    val pa = plain(sf, "nation")
    val pb = plain(sf, "nation")
    val want = pa.join(pb, pa("n_regionkey") === pb("n_regionkey"))
      .select(pa("n_nationkey"), pb("n_nationkey"))
    assert(rows(got) == rows(want))
    assert(got.count() == 125) // 5 regions x 5 nations each, squared
  }

  test("a missing table raises what a plain read raises") {
    val dir = tmpDir("missing")
    val got = outcome(Tables(spark, dir, "nope"))
    assert(got.isLeft)
    assert(got == outcome(plain(dir, "nope")))
    assert(got.left.toOption.get._2 == "PATH_NOT_FOUND")
  }

  test("maxIdOf re-probes a table rewritten in place: ids >= 2^32 or < 0 unpack") {
    val dir = tmpDir("ids")
    def writeSupplier(ids: Long*): Unit = {
      import spark.implicits._
      ids.toDF("s_suppkey").write.mode("overwrite")
        .parquet(s"$dir/supplier.parquet")
    }
    def bound = operators.GraphOps.maxIdOf(spark, dir, "supplier", "s_suppkey")
    writeSupplier(1L, 2L, 3L)
    assert(bound == 3L)
    assert(bound == 3L) // memo hit

    val big = 1L << 32
    writeSupplier(1L, big + 1, big + 2)
    assert(bound >= big)
    // with the fresh bound pairCounts takes the unpacked aggregation: the
    // packed s1<<32|s2 key would fold these ids onto each other
    val arr = spark.createDataFrame(java.util.List.of(
        Row(Seq(1L, big + 1, big + 2))),
      new org.apache.spark.sql.types.StructType()
        .add("arr", org.apache.spark.sql.types.ArrayType(LongType)))
    val pairs = operators.GraphOps.pairCounts(arr, "arr", "n", bound)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, big + 1, 1L), (1L, big + 2, 1L),
      (big + 1, big + 2, 1L)))

    writeSupplier(-5L, 1L, 2L)
    assert(bound == Long.MaxValue)
  }

  /** A parquet file whose `ts` is TIMESTAMP(NANOS) — a type Spark itself
    * never writes — via parquet-mr's example writer.
    */
  private def writeNanosEvents(path: String, rs: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try rs.foreach { case (u, ts) =>
      w.write(f.newGroup().append("user_id", u).append("ts", ts))
    } finally w.close()
  }
}
