package graft

import graft.plans.{DotProductExpr, MinHashSigExpr, NGramHashExpr, SimHashExpr, WinnowExpr}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._

/** Direct behavior checks of the native Catalyst expressions. */
class NativeExprSpec extends SparkSpecBase {

  import spark.implicits._

  private def ngrams(c: org.apache.spark.sql.Column, n: Int) =
    GraftShim.column(NGramHashExpr(GraftShim.expression(c), n))

  test("DotProductExpr matches a manual double fold and handles float arrays") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(GraftShim.column(DotProductExpr(
      GraftShim.expression(col("a")), GraftShim.expression(col("b")))))
      .as[Double].head()
    assert(got == (1.0 * 4 + 2.0 * 5 + 3.0 * 6))
  }

  test("graft_dot is registered as a SQL function via GraftExtensions") {
    val got = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(got == 11.0)
  }

  test("graft_dot: mismatched lengths and null elements yield NULL, not a partial sum") {
    val mismatch = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D)) AS d").collect().head
    assert(mismatch.isNullAt(0))
    val nullElem = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D)) AS d")
      .collect().head
    assert(nullElem.isNullAt(0))
  }

  test("graft_dot with wrong arity fails with a clear signature error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D)) AS d").collect()
    }
    assert(e.getMessage.contains("graft_dot expects exactly 2 arguments"))
  }

  test("NGramHashExpr: equal token sequences get equal hashes, order matters") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "d")),
      (3L, Seq("d", "c", "b", "a"))).toDF("id", "toks")
    val rows = df.select(col("id"), ngrams(col("toks"), 3).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    assert(rows(1L).length == 2) // 4 tokens → two 3-grams
  }

  test("NGramHashExpr with n=1 gives per-token hashes; shorter-than-n gives empty") {
    val df = Seq((1L, Seq("x", "y")), (2L, Seq("x"))).toDF("id", "toks")
    val h1 = df.filter(col("id") === 1).select(ngrams(col("toks"), 1))
      .as[Seq[Long]].head()
    assert(h1.length == 2 && h1.distinct.length == 2)
    val h2 = df.filter(col("id") === 2).select(ngrams(col("toks"), 3))
      .as[Seq[Long]].head()
    assert(h2.isEmpty)
  }

  test("MinHashSigExpr: containment lifts signature agreement") {
    val base = (1 to 40).map(i => s"tok$i")
    val df = Seq((1L, base), (2L, base), (3L, base.map(_ + "zzz")))
      .toDF("id", "toks")
      .select(col("id"), ngrams(col("toks"), 1).as("hs"))
      .select(col("id"), GraftShim.column(
        MinHashSigExpr(GraftShim.expression(col("hs")), 32)).as("sig"))
    val sigs = df.as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))                       // identical sets
    assert(sigs(1L).intersect(sigs(3L)).isEmpty ||     // disjoint sets:
      sigs(1L).intersect(sigs(3L)).length < 4)         // (near-)no agreement
  }

  test("SimHashExpr: identical token multisets → identical signature") {
    val df = Seq(
      (1L, Seq("a", "b", "a")), (2L, Seq("a", "b", "a")), (3L, Seq("q", "w", "e")))
      .toDF("id", "toks")
      .select(col("id"), GraftShim.column(SimHashExpr(
        GraftShim.expression(col("toks")))).as("sim"))
    val sims = df.as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(2L))
    assert(sims(1L) != sims(3L))
  }

  test("WinnowExpr: each fingerprint is a window minimum, count bounded") {
    val hs = Seq(9L, 3L, 7L, 1L, 8L, 2L, 6L, 4L, 5L, 0L)
    val df = Seq(Tuple1(hs)).toDF("hs")
      .select(GraftShim.column(WinnowExpr(
        GraftShim.expression(col("hs")), 4)).as("fps"))
    val fps = df.as[Seq[Long]].head()
    assert(fps.nonEmpty && fps.length <= hs.length - 4 + 1)
    assert(fps.toSet.subsetOf(hs.toSet))
    assert(fps.contains(0L)) // global min is always some window's min
  }

  test("TopBigramExpr equals a sliding(2)/groupBy count on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(1207)
    val vocab = Vector("a", "b", "c")
    val sizes = Seq(0, 1, 2) ++ Seq.fill(60)(rnd.nextInt(201))
    val arrays: Seq[Option[Seq[String]]] =
      None +: sizes.map(n => Some(Seq.fill(n)(vocab(rnd.nextInt(3)))))
    def reference(t: Seq[String]): Int =
      t.sliding(2).filter(_.size == 2).toSeq.groupBy(identity)
        .values.map(_.size).maxOption.getOrElse(0)
    val got = arrays.zipWithIndex.toDF("toks", "id")
      .select(col("id"), graft.functions.TextFns.topBigram(col("toks")))
      .orderBy("id").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getInt(1))).toSeq
    assert(got == arrays.map(_.map(reference)))
  }

  test("TextFns.shingles equals the transform/concat_ws/slice form") {
    import spark.implicits._
    // the interpreted form TextFns.shingles ran before NGramStringExpr;
    // it fails under n tokens, so every array here holds at least n
    def sliced(toks: org.apache.spark.sql.Column, n: Int) =
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))
    val rnd = new scala.util.Random(1208)
    val vocab = Vector("", "a", "b", "é", "日本", "straße", "\u00a0x")
    Seq(2, 3, 8, 16).foreach { n =>
      val arrays = Seq.fill(40)(
        Seq.fill(n + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))))
      val df = arrays.toDF("toks")
      val rows = df.select(graft.functions.TextFns.shingles(col("toks"), n),
        sliced(col("toks"), n)).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }

  test("every native expression is SQL-callable and matches the DataFrame path") {
    // same real docs, both surfaces: a SQL user of the extensions gets
    // bit-identical signatures to the DataFrame/TextFns user
    val docs = Tables(spark, sf, "documents").limit(64)
    docs.createOrReplaceTempView("docs_ne")
    val toks = graft.functions.TextFns.tokens(col("text"))
    def expr(c: org.apache.spark.sql.Column) = GraftShim.expression(c)
    val viaDf = docs.select(
      col("doc_id"),
      GraftShim.column(MinHashSigExpr(expr(ngrams(toks, 3)), 8)).as("mh"),
      ngrams(toks, 3).as("nh"),
      GraftShim.column(graft.plans.NGramStringExpr(expr(toks), 2)).as("ng"),
      graft.functions.TextFns.topBigram(toks).as("tb"),
      GraftShim.column(SimHashExpr(expr(toks))).as("sim"),
      GraftShim.column(WinnowExpr(expr(ngrams(toks, 3)), 4)).as("wf"))
      .orderBy("doc_id").collect()
    val viaSql = spark.sql("""
      SELECT doc_id,
             graft_minhash_sig(graft_ngram_hash(split(lower(trim(text)), '\\s+'), 3), 8) AS mh,
             graft_ngram_hash(split(lower(trim(text)), '\\s+'), 3) AS nh,
             graft_ngrams(split(lower(trim(text)), '\\s+'), 2) AS ng,
             graft_top_bigram(split(lower(trim(text)), '\\s+')) AS tb,
             graft_simhash64(split(lower(trim(text)), '\\s+')) AS sim,
             graft_winnow(graft_ngram_hash(split(lower(trim(text)), '\\s+'), 3), 4) AS wf
      FROM docs_ne ORDER BY doc_id""").collect()
    assert(viaDf.length == 64 && viaSql.length == 64)
    viaDf.zip(viaSql).foreach { case (a, b) => assert(a == b) }
  }

  test("graft_dsum in SQL equals sum(CAST(x AS DECIMAL(30,6)))") {
    Seq[(Int, java.lang.Double)]((0, 2.675), (0, 1.0000005), (0, null),
      (1, -0.0000005), (1, 9.2e12), (1, 9.2e12), (2, null), (3, Double.NaN),
      (3, 123.4567895))
      .toDF("g", "x").repartition(3).createOrReplaceTempView("dsum_ne")
    def q(agg: String) = spark.sql(
      s"SELECT g, $agg AS s FROM dsum_ne GROUP BY g ORDER BY g")
    val got = q("graft_dsum(x)")
    val want = q("sum(CAST(x AS DECIMAL(30,6)))")
    assert(got.schema == want.schema, got.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(spark.sql("SELECT graft_dsum(x) FROM dsum_ne WHERE g > 9")
      .collect().head.isNullAt(0))
  }

  test("non-literal size argument to a registered function fails loudly") {
    val e = intercept[Exception] {
      spark.sql("""SELECT graft_ngram_hash(array('a','b'),
        CAST(length('xy') AS INT))""").collect()
    }
    assert(e.getMessage.contains("must be an INT literal"), e.getMessage)
  }
}
