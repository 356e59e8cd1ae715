package graft

import graft.functions.AggFns
import graft.plans.DsumAgg
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `graft_dsum` (`AggFns.dsumRaw`) against the expression it replaces,
  * `sum(CAST(x AS DECIMAL(30,6)))`: the same DECIMAL(38,6) per group, bit
  * for bit, over the rows where the fast path could go wrong (rounding
  * ties at 6 dp and their neighbours, the fast-path bound, the long and
  * DECIMAL(30,6) bounds), at 1 and 8 shuffle partitions so partial
  * buffers merge, in whole-stage codegen, in codegen'd projections and
  * interpreted.
  */
class DsumSpec extends SparkSpecBase {

  import spark.implicits._

  private val rng = new scala.util.Random(20261019L)

  /** k.5 micros and the doubles either side of each. */
  private val ties: Seq[Double] = {
    val ks = Seq(0L, 1L, 2L, 4L, 12L, 1234567L, 8388607999999L, -3L, -7654321L) ++
      Seq.fill(300)(rng.nextLong() % 8388608000000L)
    ks.flatMap { k =>
      val x = (k + 0.5) / 1e6
      Seq(x, Math.nextUp(x), Math.nextDown(x), -x)
    }
  }

  private val edges: Seq[Double] = {
    val around = Seq(8388608.0, 8388607.9999995, 9.2e12, 9.223372036854776e12,
      9223372036854.775807, 1e24, 9.99999999999999e23, 123456789012345.6785)
    Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, 1e-310, 4.9e-7, 5e-7, 5.000000000000001e-7,
      2.675, 1.005, 0.1 + 0.2, 1e-6, -1e-6) ++
      around.flatMap(x => Seq(x, Math.nextUp(x), Math.nextDown(x), -x))
  }

  /** Money shapes (a few decimals through a product) and random bits. */
  private val random: Seq[Double] =
    Seq.fill(3000)(math.round(rng.nextDouble() * 1e7) / 100.0 *
      (1 - rng.nextInt(11) / 100.0) * (1 + rng.nextInt(9) / 100.0)) ++
    Seq.fill(2000)(rng.nextGaussian() * math.pow(10, rng.nextInt(14) - 4)) ++
    Seq.fill(2000)(java.lang.Double.longBitsToDouble(rng.nextLong()))
      .filter(d => !d.isNaN && !d.isInfinite && math.abs(d) < 1e20)

  private val schema = StructType(Seq(
    StructField("g", IntegerType), StructField("x", DoubleType)))

  /** Rows spread over 4 input partitions, so groups have several partials. */
  private def frame(rows: Seq[(Int, java.lang.Double)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (g, x) => Row(g, x) }, 4), schema)

  private def grouped(df: DataFrame, agg: Column => Column): Map[Any, Any] =
    df.groupBy("g").agg(agg(col("x")).as("s")).collect()
      .map(r => r.get(0) -> r.get(1)).toMap

  private val legacy: Column => Column = c => sum(c.cast(DecimalType(30, 6)))
  private val kernel: Column => Column = c => AggFns.dsumRaw(c)

  /** Every execution shape the kernel has: whole-stage codegen, codegen'd
    * projections without it, interpreted; 1 and 8 shuffle partitions.
    */
  private val shapes: Seq[Seq[(String, String)]] =
    for {
      parts <- Seq("1", "8")
      mode <- Seq(
        Seq("spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
        Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
        Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    } yield mode ++ Seq("spark.sql.shuffle.partitions" -> parts,
      "spark.sql.adaptive.enabled" -> "false")

  private def sameEverywhere(df: DataFrame, ansi: Boolean): Unit =
    shapes.foreach { s =>
      withConfs(s :+ ("spark.sql.ansi.enabled" -> ansi.toString): _*) {
        val want = grouped(df, legacy)
        val got = grouped(df, kernel)
        assert(got == want, s"$s ansi=$ansi: " +
          want.keySet.filter(k => got.get(k) != want.get(k))
            .map(k => s"g=$k want ${want(k)} got ${got.get(k)}").take(5))
      }
    }

  test("bit-equal to sum(cast(x AS DECIMAL(30,6))) on ties, bounds and random doubles") {
    val xs = ties ++ edges ++ random
    // one row per group, so each row's micros are checked on their own;
    // then 64 groups of many rows, so the sums carry and merge
    val single = xs.zipWithIndex.map { case (x, i) => (i, java.lang.Double.valueOf(x)) }
    val mixed = xs.zipWithIndex.map { case (x, i) => (i % 64, java.lang.Double.valueOf(x)) }
    sameEverywhere(frame(single), ansi = false)
    sameEverywhere(frame(mixed), ansi = false)
    // with ANSI on a row past DECIMAL(30,6) fails the query (its own test
    // below); every other row must still match
    val fits = mixed.filter(r => math.abs(r._2) < 1e24)
    assert(fits.length < mixed.length)
    sameEverywhere(frame(fits), ansi = true)
  }

  test("running sums past 2^63 micros carry into the high word, both signs") {
    val big = 9.2e12 // 9.2·10¹⁸ micros: two of them pass 2⁶³
    val rows = (0 until 40).map(i => (i % 4, java.lang.Double.valueOf(
      if (i % 4 == 3) -big - i else big + i * 0.25)))
    Seq(false, true).foreach(ansi => sameEverywhere(frame(rows), ansi))
    val got = grouped(frame(rows), kernel)
    assert(got(0).asInstanceOf[java.math.BigDecimal]
      .compareTo(new java.math.BigDecimal("92000000000045.000000")) == 0, got)
  }

  test("NULL, all-NULL and empty groups are NULL; NaN and ±Inf as the cast has them") {
    val nulls = Seq[(Int, java.lang.Double)]((0, null), (0, 1.5), (1, null),
      (1, null), (2, 2.25), (2, null), (3, Double.NaN), (3, 4.0),
      (4, Double.PositiveInfinity), (5, Double.NegativeInfinity), (5, 1.0),
      (6, Double.NaN), (7, 1e24), (7, 3.0))
    // ANSI off: the cast turns NaN, ±Inf and out-of-range rows into NULL,
    // which the sum skips; a group of only such rows is NULL
    sameEverywhere(frame(nulls), ansi = false)
    val got = withConfs("spark.sql.ansi.enabled" -> "false")(grouped(frame(nulls), kernel))
    assert(got(1) == null && got(4) == null && got(6) == null, got)
    // ANSI on: the cast still makes NaN and ±Inf NULL, and fails the
    // query on a row past DECIMAL(30,6); the kernel does what it does
    val outOfRange = frame(Seq((0, 1.0), (0, 1e24)))
    for (df <- Seq(frame(nulls), outOfRange); s <- shapes) {
      withConfs(s :+ ("spark.sql.ansi.enabled" -> "true"): _*) {
        val want = scala.util.Try(grouped(df, legacy))
        val got = scala.util.Try(grouped(df, kernel))
        assert(want.map(Right(_)).recover { case e => Left(condition(e)) } ==
          got.map(Right(_)).recover { case e => Left(condition(e)) }, s"$s: $want vs $got")
      }
    }
    withConfs("spark.sql.ansi.enabled" -> "true") {
      assert(condition(intercept[Exception](grouped(outOfRange, kernel))).nonEmpty)
    }
    // no rows at all: a global aggregate is one NULL row, as sum's is
    Seq(false, true).foreach { ansi =>
      withConfs("spark.sql.ansi.enabled" -> ansi.toString) {
        val empty = frame(Seq((0, 1.0))).filter(col("g") > 0)
        val r = empty.agg(kernel(col("x")), legacy(col("x"))).collect()
        assert(r.length == 1 && r(0).isNullAt(0) && r(0).isNullAt(1))
      }
    }
  }

  test("long, decimal and float inputs equal the cast sum") {
    val longs = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 123456789012L,
      999999999999999999L).zipWithIndex.map { case (v, i) => (i % 3, v) }
    val decs = Seq("0.0000005", "-0.0000005", "1.23456749", "1.2345675",
      "-99999999999999999999999.9999994", "12345678901234567890123.4567895")
      .zipWithIndex.map { case (v, i) => (i % 2, v) }
    val floats = (Seq(0.1f, 2.675f, 1.0000005f, 8388607.5f, -1e-30f,
      Float.MinPositiveValue) ++ Seq.fill(500)(rng.nextFloat() * 1e4f))
      .zipWithIndex.map { case (v, i) => (i % 5, v) }
    val frames = Seq(
      longs.toDF("g", "x"),
      decs.toDF("g", "x").select(col("g"), col("x").cast(DecimalType(38, 10)).as("x")),
      floats.toDF("g", "x"))
    frames.foreach { df =>
      Seq(false, true).foreach(ansi => sameEverywhere(df.repartition(4), ansi))
    }
    // rows the cast makes NULL (ANSI off): skipped, as sum skips them
    val bad = Seq((0, Float.NaN), (0, 3.4e38f), (0, 1.5f), (1, Float.NaN)).toDF("g", "x")
    sameEverywhere(bad.repartition(4), ansi = false)
  }

  test("sums past DECIMAL(38,6) overflow stickily, reported as Sum reports it") {
    val x = AttributeReference("x", DoubleType)()
    val max = java.math.BigInteger.TEN.pow(38).subtract(java.math.BigInteger.ONE)
    def words(v: java.math.BigInteger): (Long, Long) =
      (v.shiftRight(64).longValue, v.longValue)
    def big(s: String) = new java.math.BigInteger(s)
    // Sum's own report, from a grouped two-row DECIMAL(38,6) sum past its
    // range (grouped, its buffer row is where the overflow is caught)
    val sumRows = Seq("99999999999999999999999999999999.999999", "0.000001").toDF("x")
      .select(lit(0).as("g"), col("x").cast(DecimalType(38, 6)).as("x")).groupBy("g")
    val sumOff = withConfs("spark.sql.ansi.enabled" -> "false")(
      sumRows.agg(sum("x")).collect().head)
    assert(sumOff.isNullAt(1))
    val sumOn = withConfs("spark.sql.ansi.enabled" -> "true")(
      intercept[Exception](sumRows.agg(sum("x")).collect()))

    for (ansi <- Seq(false, true)) {
      val agg = DsumAgg(x, ansi)
      val buf = agg.aggBufferAttributes
      /** Interpreted and generated results, which must agree. */
      def run(es: Seq[Expression], in: Seq[AttributeReference], row: InternalRow): Seq[Any] = {
        val bound = es.map(BindReferences.bindReference(_, in))
        val interpreted = bound.map(_.eval(row))
        val generated = GenerateUnsafeProjection.generate(bound).apply(row)
        val gen = bound.indices.map(i =>
          if (generated.isNullAt(i)) null
          else generated.get(i, bound(i).dataType) match {
            case d: org.apache.spark.sql.types.Decimal => d
            case v => v
          })
        assert(interpreted == gen, (es, row))
        interpreted
      }
      def update(b: (Long, Long), v: Double): (Long, Long) = {
        val r = run(agg.updateExpressions, buf :+ x, InternalRow(b._1, b._2, v))
        (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])
      }
      def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) = {
        val r = run(agg.mergeExpressions, agg.inputAggBufferAttributes ++ buf,
          InternalRow(b._1, b._2, a._1, a._2))
        (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])
      }
      def result(b: (Long, Long)): Any =
        run(Seq(agg.evaluateExpression), buf, InternalRow(b._1, b._2)).head
      def overflowed(b: (Long, Long)): Unit =
        if (!ansi) assert(result(b) == null, b)
        else {
          val e = intercept[Exception](result(b))
          assert(condition(e) == condition(sumOn) && condition(e).nonEmpty,
            s"${e.getMessage} vs ${sumOn.getMessage}")
        }

      // the last valid micros either side, then one micro past them
      val top = words(max)
      assert(result(top).toString == "99999999999999999999999999999999.999999")
      assert(result(words(max.negate)).toString ==
        "-99999999999999999999999999999999.999999")
      overflowed(update(words(max.subtract(big("999999"))), 1.0))
      overflowed(update(words(max.negate.add(big("999999"))), -1.0))
      assert(result(update(words(max.subtract(big("1000000"))), 1.0)).toString ==
        "99999999999999999999999999999999.999999")
      // sticky: coming back into range does not clear it
      val over = update(top, 1.0)
      overflowed(update(over, -5.0))
      overflowed(merge(over, words(max.negate)))
      overflowed(merge(words(max.negate), over))
      // merges: past the range, past 2^127 (the words wrap), and back
      val near = words(big("99000000000000000000000000000000000000"))
      overflowed(merge(near, near))
      overflowed(merge(words(big("60000000000000000000000000000000000000")),
        words(big("40000000000000000000000000000000000000"))))
      assert(result(merge(near, words(big("-99000000000000000000000000000000000001"))))
        .toString == "-0.000001")
    }
  }

  /** The Spark error condition of `e` or of its first cause that has one. */
  private def condition(e: Throwable): String = e match {
    case null => ""
    case t: SparkThrowable if t.getCondition != null => t.getCondition
    case t => condition(t.getCause)
  }
}
