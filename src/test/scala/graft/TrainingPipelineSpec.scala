package graft

import org.apache.spark.sql.functions._

class TrainingPipelineSpec extends SparkSpecBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def plant(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tpipe").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src1"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("p01 flags the doc sharing an 8-gram with the benchmark, not the clean one") {
    // doc 0 (0 % 97 == 0) is the planted benchmark; doc 1 embeds 8 of its
    // consecutive tokens; doc 2 shares nothing
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = plant(Seq(
      0L -> bench,
      1L -> ("xx yy alpha beta gamma delta epsilon zeta eta theta zz ww"),
      2L -> ("uno dos tres cuatro cinco seis siete ocho nueve diez")))
    val out = run("p01_decontaminate", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == 1L) // exactly the one embedded 8-gram survives intact
  }

  test("p08 attributes the leak to the right benchmark doc; keys match p01") {
    // planted: 0 and 97 are benchmark docs; 1 embeds an 8-gram of doc 0
    // (and only doc 0); 2 shares nothing
    val bench0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench97 = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val dir = plant(Seq(
      0L -> bench0,
      97L -> bench97,
      1L -> "xx yy alpha beta gamma delta epsilon zeta eta theta zz ww",
      2L -> "totally unrelated words that overlap with no benchmark doc"))
    val got = run("p08_contamination_attribution", dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got == Map((1L, 0L) -> 1L))
    // sf data: p08's per-doc attribution covers exactly p01's flagged set,
    // and per-doc totals can only exceed p01's distinct-union counts
    val p01 = run("p01_decontaminate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    val p08ByDoc = run("p08_contamination_attribution").collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("n_shared")).sum }
    assert(p08ByDoc.keySet == p01.keySet)
    assert(p08ByDoc.forall { case (id, tot) => tot >= p01(id) })
  }

  test("p02 bins equal a driver-side cumsum replay on real sf data") {
    // exact replay: per lang, docs in (md5(doc_id), doc_id) order, running
    // token total; bin = pfx / 2048, off = pfx % 2048
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("n")))
    val expected = toks.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      var pfx = 0L
      ds.sortBy(d => (md5hex(d._1.toString), d._1)).toSeq.map { case (id, _, n) =>
        val r = (id, lang) -> ((pfx / 2048, pfx % 2048)); pfx += n; r
      }
    }.toMap
    val got = run("p02_seq_pack").collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("bin"), r.getAs[Long]("bin_off"))).toMap
    assert(got == expected)
  }

  test("p07 keeps exactly the budget-fitting prefix per source (driver replay)") {
    // replay: per source, docs in (md5(doc_id), doc_id) priority order,
    // keep iff running total + own tokens <= 1024 (pfx counts dropped
    // predecessors too — stream truncation, not knapsack)
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n")))
    val expected = toks.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      var pfx = 0L
      ds.sortBy(d => (md5hex(d._1.toString), d._1)).toSeq.flatMap {
        case (id, _, n) =>
          val keep = if (pfx + n <= 1024L) Some(id -> pfx) else None
          pfx += n
          keep
      }
    }.toMap
    val got = run("p07_token_budget").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pfx")).toMap
    assert(got == expected && got.nonEmpty)
    // binding case: 80 docs x 100 tokens = 8000 tokens in one source vs
    // the 1024 budget — the cut must keep a strict prefix, and every
    // kept doc's tokens must fit inside the budget
    val word100 = (0 until 100).map(i => s"t$i").mkString(" ")
    val dir = plant((0L until 80L).map(_ -> word100))
    val cut = run("p07_token_budget", dir).collect()
    assert(cut.length == 10) // 10 * 100 = 1000 <= 1024 < 1100
    assert(cut.map(_.getAs[Long]("pfx")).max + 100 <= 1024)
  }

  test("p03 keeps exactly the docs whose md5 byte is under the source threshold") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source"))
    val expected = docs.filter { case (id, src) =>
      val v = Integer.parseInt(md5hex(id.toString).take(2), 16)
      v < 32 * (src.drop(3).toInt % 4 + 1)
    }.map(_._1).toSet
    val got = run("p03_domain_mix").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == expected && got.nonEmpty && got.size < docs.length)
  }

  test("p05 counts exactly the shingles two sources share") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tpipe").toString
    // srcA/srcB share the 8-gram "a b c d e f g h" (and only it —
    // B shifts by one token so no other 8-gram aligns); srcC is disjoint
    Seq(
      (1L, "a b c d e f g h x1 x2", "srcA"),
      (2L, "y0 a b c d e f g h", "srcB"),
      (3L, "p q r s t u v w", "srcC"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run("p05_source_overlap", dir).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Long]("shared")).toMap
    assert(out == Map(("srcA", "srcB") -> 1L))
  }

  test("p06 pipeline output is consistent with its component operators") {
    val kept = run("p06_prep_pipeline").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept.nonEmpty)
    // mix stage: every kept doc also passes the standalone domain mix
    val mixed = run("p03_domain_mix").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept.subsetOf(mixed))
    // decon stage: no kept doc is in the standalone contaminated set
    val contaminated = run("p01_decontaminate").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept.intersect(contaminated).isEmpty)
    // quality stage: no kept doc is repetition-flagged
    val flagged = run("p04_repetition_score").collect()
      .filter(_.getAs[Int]("flagged") == 1).map(_.getAs[Long]("doc_id")).toSet
    assert(kept.intersect(flagged).isEmpty)
    // benchmark docs themselves never survive
    assert(kept.forall(_ % 97 != 0))
  }

  test("p06b cached variant returns exactly p06's rows") {
    val plain = run("p06_prep_pipeline").collect().toSeq
    val cached = run("p06b_prep_pipeline_cached").collect().toSeq
    assert(cached == plain) // same rows, same deterministic order
    assert(cached.nonEmpty)
    graft.operators.HotCache.releaseAll()
  }

  test("p04 counts and flag match hand-computed values on a planted corpus") {
    val dir = plant(Seq(
      1L -> "a a a a a a",            // dup frac 5/6 > 0.7 -> flagged
      2L -> "the quick brown fox jumps over lazy dogs", // all distinct
      3L -> "solo"))                  // <2 tokens: zero bigrams, unflagged
    val out = run("p04_repetition_score", dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_distinct"),
         r.getAs[Long]("top_bigram"), r.getAs[Long]("n_bigram"),
         r.getAs[Int]("flagged"))).toMap
    assert(out(1L) == ((6L, 1L, 5L, 5L, 1)))
    assert(out(2L) == ((8L, 8L, 1L, 7L, 0)))
    assert(out(3L) == ((1L, 1L, 0L, 0L, 0))) // present, not silently dropped
  }

  /** The grouped repetition gate p04 ran before its in-row form: explode
    * tokens → groupBy(doc_id, w) counts; explode bigram strings (the
    * transform/concat_ws form) → groupBy(doc_id, g) → groupBy(doc_id);
    * LEFT join + coalesce. The reference p04's rows must equal.
    */
  private def groupedRepetitionRows(dir: String) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tk = docs.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("t"))
    val tstat = tk.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct("w").as("n_distinct"))
    val bigrams = transform(sequence(lit(0), size(col("t")) - 2),
      i => concat_ws(" ", slice(col("t"), i + lit(1), lit(2))))
    val bstat = tk.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_bigram"), sum("c").as("n_bigram"))
    tstat.join(bstat, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        coalesce(col("top_bigram"), lit(0L)).as("top_bigram"),
        coalesce(col("n_bigram"), lit(0L)).as("n_bigram"))
      .withColumn("flagged",
        ((col("n_tok") - col("n_distinct")) * 10 > col("n_tok") * 7 ||
         col("top_bigram") * 10 > col("n_bigram") * 2).cast("int"))
      .orderBy("doc_id").collect().toSeq
  }

  test("p04's in-row gate equals the grouped explode/groupBy reference") {
    val planted = plant(Seq(
      1L -> null,                       // no tokens: no row on either side
      2L -> "",                         // one "" token
      3L -> "   ",                      // whitespace-only: trims to ""
      4L -> "\tfoo bar foo",            // tab-led: first token is ""
      5L -> "The the THE tHe cat",      // mixed-case repeats
      6L -> "solo",                     // one token
      7L -> "two words",                // one bigram
      8L -> "x y x y x y z",            // repeated bigram: flagged
      9L -> "a\u00a0b a\u00a0b c"))     // NBSP is not \s: stays in-token
    Seq(sf, planted).foreach { dir =>
      val got = run("p04_repetition_score", dir).collect().toSeq
      val want = groupedRepetitionRows(dir)
      assert(got.nonEmpty && got == want, dir)
    }
    val flagged = run("p04_repetition_score", planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("flagged")).toMap
    // a lone bigram is its own top bigram: every two-token doc is flagged
    assert(!flagged.contains(1L) && flagged(6L) == 0 &&
      flagged(7L) == 1 && flagged(8L) == 1)
  }

  test("p11 dedup savings match hand-computed token-weighted removal") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tpipe11").toString
    Seq(
      (1L, "aa bb cc", "s1"), // canonical copy (min id of its digest)
      (2L, "aa bb cc", "s2"), // dup of 1 -> s2 loses 3 tokens
      (3L, "dd ee", "s1"),    // unique
      (4L, "aa bb cc", "s1"), // dup of 1 -> s1 loses 3 tokens
      (5L, "ff", "s2"))       // unique
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run("p11_dedup_savings", dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
         r.getAs[Long]("dup_docs"), r.getAs[Long]("dup_tokens"))).toMap
    assert(out("s1") == ((3L, 8L, 1L, 3L)), out.toString)
    assert(out("s2") == ((2L, 4L, 1L, 3L)), out.toString)
  }

  test("p09 split never straddles a dup group and covers every doc once") {
    val docs = graft.Tables(spark, sf, "documents")
    val out = run("p09_leakage_safe_split").collect()
    assert(out.length == docs.count())
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length)
    // the leakage guarantee: all members of a group share one split
    out.groupBy(_.getAs[Long]("group_rep")).foreach { case (g, rs) =>
      assert(rs.map(_.getAs[String]("split")).distinct.length == 1,
        s"group $g straddles train/val")
    }
    // group assignment matches d08's labels (singletons = own rep)
    val labels = run("d08_dedup_groups").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_rep")).toMap
    out.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("group_rep") == labels.getOrElse(d, d))
    }
    // the 90/10 draw lands near its target even group-correlated
    val trainFrac = out.count(_.getAs[String]("split") == "train").toDouble /
      out.length
    assert(trainFrac > 0.75 && trainFrac < 0.99, s"train fraction $trainFrac")
  }

  test("p10 acceptance = the exact integer draw rule, replayed in the driver") {
    val out = run("p10_quality_sample").collect()
    assert(out.nonEmpty && out.length < Tables(spark, sf, "documents").count())
    // accepted docs satisfy v·n_tok < 1024·n_stop with v recomputed
    // from md5 here — an engine-independent replay of the whole rule
    def drawOf(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      dig(0).toLong & 0xFF
    }
    out.foreach { r =>
      val v = drawOf(r.getAs[Long]("doc_id"))
      assert(v * r.getAs[Long]("n_tok") < 1024 * r.getAs[Long]("n_stop"),
        s"doc ${r.getAs[Long]("doc_id")} accepted but v=$v fails the rule")
    }
    // sure-keep invariant: any doc with stop ratio >= 1/4 has
    // P(accept)=1 (255·n_tok < 1024·n_stop), so it MUST be present
    import org.apache.spark.sql.functions._
    val toks = graft.functions.TextFns.tokens(col("text"))
    val stopArr = array(graft.functions.TextFns.stopwords.map(lit): _*)
    val sureKeep = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(toks).cast("long").as("nt"),
        size(filter(toks, tk => array_contains(stopArr, tk)))
          .cast("long").as("ns"))
      .filter(col("ns") * 4 >= col("nt"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val accepted = out.map(_.getAs[Long]("doc_id")).toSet
    assert(sureKeep.subsetOf(accepted),
      s"${(sureKeep -- accepted).size} sure-keep docs missing")
  }

  test("p12 waterfill = exact driver replay; the scarcest lang keeps everything") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").length.toLong))
    val totals = docs.groupBy(_._2).map { case (l, xs) =>
      l -> ((xs.map(_._3).sum, xs.length.toLong)) }
    val k = totals.values.map(_._1).min
    val keptAgg = docs.filter { case (id, l, _) =>
      val v = java.lang.Long.parseLong(md5hex(id.toString).take(4), 16)
      BigInt(v) * totals(l)._1 < BigInt(k) * 65536
    }.groupBy(_._2).map { case (l, xs) =>
      l -> ((xs.length.toLong, xs.map(_._3).sum)) }
    val expect = totals.map { case (l, (t, n)) =>
      l -> ((n, t, k, keptAgg.get(l).map(_._1).getOrElse(0L),
        keptAgg.get(l).map(_._2).getOrElse(0L)))
    }
    val got = run("p12_mix_waterfill").collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("docs_total"), r.getAs[Long]("tokens_total"),
          r.getAs[Long]("tokens_target"), r.getAs[Long]("docs_kept"),
          r.getAs[Long]("tokens_kept")))).toMap
    assert(got == expect)
    // langs at the waterline (T == K) have keep probability exactly 1
    totals.collect { case (l, (t, n)) if t == k => l -> n }.foreach {
      case (l, n) => assert(got(l)._4 == n, s"argmin lang $l dropped docs")
    }
  }

  test("p14 snapshot diff classifies planted added/removed/common digests") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit, col}
    val dir = java.nio.file.Files.createTempDirectory("p14").toString
    Seq(
      (0L, "common text"),   // old snapshot (even id) ─┐ same digest
      (1L, "common text"),   // new snapshot (odd id)  ─┘ → common
      (2L, "removed text"),  // only in old → removed
      (3L, "freshly added")) // only in new → added
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("p14_snapshot_diff", dir).collect()
      .map(r => r.getAs[String]("status") ->
        ((r.getAs[Long]("n_digests"), r.getAs[Long]("old_docs"),
          r.getAs[Long]("old_tokens"), r.getAs[Long]("new_docs"),
          r.getAs[Long]("new_tokens")))).toMap
    assert(got == Map(
      "added" -> ((1L, 0L, 0L, 1L, 2L)),
      "common" -> ((1L, 1L, 2L, 1L, 2L)),
      "removed" -> ((1L, 1L, 2L, 0L, 0L))))
    // conservation on sf data: every old/new doc lands in exactly one class
    val sfGot = run("p14_snapshot_diff").collect()
      .map(r => (r.getAs[Long]("old_docs"), r.getAs[Long]("new_docs")))
    val docs = Tables(spark, sf, "documents").select("doc_id").collect()
      .map(_.getLong(0))
    assert(sfGot.map(_._1).sum == docs.count(_ % 2 == 0))
    assert(sfGot.map(_._2).sum == docs.count(_ % 2 == 1))
  }

  test("p13 curriculum stages: planted docs land on the integer boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit, col}
    val dir = java.nio.file.Files.createTempDirectory("p13").toString
    Seq(
      // (10·stop ≥ tok) boundary is INCLUSIVE: 1 stop in 10 → stage 0
      (0L, "the " + Seq.fill(9)("w").mkString(" "), "en"),    // stage 0
      (1L, "the " + Seq.fill(14)("w").mkString(" "), "en"),   // stage 1
      (2L, "the " + Seq.fill(29)("w").mkString(" "), "en"),   // stage 2
      (3L, "w w w", "en"),                                    // stage 3
      (4L, "v v v v", "fr"))                                  // stage 3
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("p13_curriculum", dir).collect()
      .map(r => r.getAs[Long]("stage") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_langs")))).toMap
    assert(got == Map(
      0L -> ((1L, 10L, 1L)), 1L -> ((1L, 15L, 1L)),
      2L -> ((1L, 30L, 1L)), 3L -> ((2L, 7L, 2L))))
    // conservation on sf: stages partition the corpus
    val sfRows = run("p13_curriculum").collect()
    assert(sfRows.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf, "documents").count())
  }

  test("p15 oversample = exact driver replay; richest lang replicates 1x") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").length.toLong))
    val totals = docs.groupBy(_._2).map { case (l, xs) =>
      l -> xs.map(_._3).sum }
    val m = totals.values.max
    val expect = docs.groupBy(_._2).map { case (l, xs) =>
      val t = totals(l); val factor = m / t; val rem = m - factor * t
      val extras = xs.filter { case (id, _, _) =>
        val v = java.lang.Long.parseLong(md5hex(id.toString).take(4), 16)
        BigInt(v) * t < BigInt(rem) * 65536
      }
      l -> ((xs.length.toLong, xs.map(_._3).sum, factor,
        extras.length.toLong,
        xs.map(_._3).sum * factor + extras.map(_._3).sum))
    }
    val got = run("p15_oversample").collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("docs_total"), r.getAs[Long]("tokens_total"),
          r.getAs[Long]("factor_base"), r.getAs[Long]("docs_extra"),
          r.getAs[Long]("tokens_out")))).toMap
    assert(got == expect)
    // the argmax lang is already at the waterline: factor 1, no extras
    totals.collect { case (l, t) if t == m => l }.foreach { l =>
      val (_, tt, f, ex, out) = got(l)
      assert(f == 1L && ex == 0L && out == tt, s"richest lang $l: ${got(l)}")
    }
  }

  test("p16 histogram = exact driver replay; buckets partition the corpus") {
    val lens = Tables(spark, sf, "documents").select("text").collect()
      .map(_.getAs[String]("text").trim.toLowerCase.split("\\s+").length.toLong)
    def bucket(n: Long): Long =
      if (n < 16) 0 else if (n < 32) 1 else if (n < 64) 2
      else if (n < 128) 3 else if (n < 256) 4 else 5
    val expect = lens.groupBy(bucket).map { case (b, xs) =>
      b -> ((xs.length.toLong, xs.sum, xs.min, xs.max)) }
    val got = run("p16_length_histogram").collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("min_tok"), r.getAs[Long]("max_tok")))).toMap
    assert(got == expect)
    assert(got.values.map(_._1).sum == lens.length)
  }

  test("p17 datasheet: sources partition the corpus; dup replay matches") {
    val rows = run("p17_datasheet").collect()
    val docs = Tables(spark, sf, "documents").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang"),
        r.getAs[String]("text")))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length)
    // corpus-wide digest counts → per-source dup exposure replay
    val copies = docs.groupBy(_._3).view.mapValues(_.length).toMap
    val bySource = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = bySource(src)
      assert(r.getAs[Long]("n_docs") == mine.length, src)
      assert(r.getAs[Long]("n_langs") == mine.map(_._2).distinct.length, src)
      val dup = mine.count(d => copies(d._3) > 1).toLong
      assert(r.getAs[Long]("dup_docs") == dup, src)
      val rate = r.getAs[Double]("dup_rate")
      assert(rate >= 0 && rate <= 1, src)
    }
  }

  test("p18 kfold: folds partition the corpus; dups share a fold") {
    val rows = run("p18_kfold_split").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fold"))
    val docs = Tables(spark, sf, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    assert(rows.length == docs.length)
    assert(rows.forall { case (_, f) => f >= 0 && f <= 4 })
    // content-keyed: same text ⇒ same fold, whatever the doc ids
    val byFold = rows.toMap
    docs.groupBy(_._2).values.filter(_.length > 1).foreach { g =>
      assert(g.map(d => byFold(d._1)).distinct.length == 1, g.toString)
    }
    // planted: two ids with identical text land together; growth (a new
    // doc) never moves them
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p18").toString
    def write(extra: Seq[(Long, String)]): Unit =
      ((1L, "same words here", "en", "a", 15L) +:
        (2L, "same words here", "en", "b", 15L) +:
        extra.map(e => (e._1, e._2, "en", "c", e._2.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Nil)
    val before = run("p18_kfold_split", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fold")).toMap
    assert(before(1L) == before(2L))
    write(Seq((3L, "a freshly added document")))
    val after = run("p18_kfold_split", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fold")).toMap
    assert(after(1L) == before(1L) && after(2L) == before(2L))
  }

  test("p20 ablation: every CUBE level reconciles to the grand total") {
    val rows = run("p20_filter_ablation").collect()
      .map(r => (r.getAs[String]("f_len"), r.getAs[String]("f_stop"),
        r.getAs[String]("f_rep"), r.getAs[Long]("gid"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
    val nDocs = Tables(spark, sf, "documents").count()
    // grand total (gid=7, ALL/ALL/ALL)
    val Seq(total) = rows.filter(_._4 == 7L).toSeq
    assert(total._5 == nDocs)
    // the full cross (gid=0) and every marginal level partition the mass
    (0 to 7).foreach { gid =>
      val level = rows.filter(_._4 == gid.toLong)
      assert(level.map(_._5).sum == total._5, s"docs at gid=$gid")
      assert(level.map(_._6).sum == total._6, s"tokens at gid=$gid")
    }
    // single-filter marginals: pass+fail rows exist for a biting filter
    val lenMarginal = rows.filter(r => r._4 == 3L)
    assert(lenMarginal.map(_._1).toSet.subsetOf(Set("pass", "fail")))
  }

  test("p21 alpha sampling: scarcest lang keeps all; damping is sub-linear") {
    val rows = run("p21_alpha_sampling").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("tokens_total"),
        r.getAs[Long]("keep_thr"), r.getAs[Long]("docs_total"),
        r.getAs[Long]("docs_kept")))
    assert(rows.nonEmpty)
    // the argmin lang's threshold is the full 16-bit range: keeps 100%
    val scarcest = rows.minBy(_._2)
    assert(scarcest._3 == 65536L)
    assert(scarcest._5 == scarcest._4)
    // thresholds replay: floor(round((Tmin/Tl)^0.7, 6) * 65536 + 0.5)
    val tmin = rows.map(_._2).min.toDouble
    rows.foreach { case (lang, t, thr, _, _) =>
      val r6 = BigDecimal(java.math.BigDecimal.valueOf(
        math.pow(tmin / t, 0.7)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(thr == math.floor(r6 * 65536.0 + 0.5).toLong, lang)
    }
    // alpha damping is SOFTER than proportional: every keep rate
    // exceeds the proportional rate Tmin/Tl (p12's hard water-fill)
    rows.foreach { case (lang, t, thr, _, _) =>
      assert(thr.toDouble / 65536.0 >= tmin / t - 1e-9, lang)
    }
  }

  test("p22 epoch plan: scarce source hits the 4-epoch cap, rich source runs once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p22").toString
    // srcA: 4 tokens total; srcB: 40 tokens → budget 2×44 = 88,
    // per-source target 44; epochs_A = min(4, 44 div 4 = 11) = 4 (cap
    // binds), epochs_B = 44 div 40 = 1; both underfilled vs 44.
    (Seq((0L, "a b c d", "srcA")) ++ (1L to 4L).map(i =>
      (i, (1 to 10).map(j => s"w$i$j").mkString(" "), "srcB")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = run("p22_epoch_plan", dir).collect().map(r =>
      r.getAs[String]("source") -> ((r.getAs[Long]("t_tokens"),
        r.getAs[Long]("target_tokens"), r.getAs[Long]("epochs"),
        r.getAs[Long]("planned_tokens"),
        r.getAs[Boolean]("underfilled")))).toMap
    assert(got("srcA") == ((4L, 44L, 4L, 16L, true)), got("srcA"))
    assert(got("srcB") == ((40L, 44L, 1L, 40L, true)), got("srcB"))
    // sf replay: epochs = clamp(1..4, target div tokens), exactly
    val sfRows = run("p22_epoch_plan").collect()
    sfRows.foreach { r =>
      val want = math.min(4L, math.max(1L,
        r.getAs[Long]("target_tokens") / r.getAs[Long]("t_tokens")))
      assert(r.getAs[Long]("epochs") == want, r.toString)
      assert(r.getAs[Long]("planned_tokens") ==
        want * r.getAs[Long]("t_tokens"))
    }
  }

  test("p23 boilerplate strip: templated family strips, exact dups and " +
    "singletons don't, token accounting exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p23").toString
    val prefix = "w1 w2 w3 w4 w5 w6 w7 w8"
    Seq(
      (0L, prefix + " body one here"),   // templated family A
      (1L, prefix + " another body x"),  // templated family A
      (2L, "dup dup dup dup dup dup dup dup same tail"), // exact-dup fam B
      (3L, "dup dup dup dup dup dup dup dup same tail"), // (one body)
      (4L, "lonely unique document"))    // singleton
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("p23_boilerplate_strip", dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("stripped"), r.getAs[Long]("n_tok_before"),
          r.getAs[Long]("n_tok_after")))).toMap
    assert(got(0L) == ((true, 11L, 3L)), got)
    assert(got(1L) == ((true, 11L, 3L)), got)
    // same prefix but ONE distinct body: not templated, keep whole
    assert(got(2L) == ((false, 10L, 10L)), got)
    assert(got(3L) == ((false, 10L, 10L)), got)
    assert(got(4L) == ((false, 3L, 3L)), got)
  }

  test("p24 pack efficiency: boundary-crossing doc splits, tail waste exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("p24").toString
    // en: one 3000-token doc — alone in its lang, so pfx = 0 and the
    // span [0, 3000) crosses the 2048 edge → split; 2 bins, waste 1096.
    // fr: two 10-token docs — 20 tokens, no edge crossed, waste 2028.
    Seq(
      (0L, Seq.fill(3000)("w").mkString(" "), "en"),
      (1L, Seq.fill(10)("x").mkString(" "), "fr"),
      (2L, Seq.fill(10)("y").mkString(" "), "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("p24_pack_efficiency", dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val en = got("en")
    assert(en.getAs[Long]("n_split_docs") == 1L &&
      en.getAs[Long]("split_bp") == 10000L, en)
    assert(en.getAs[Long]("n_bins") == 2L &&
      en.getAs[Long]("tail_waste") == 4096L - 3000L, en)
    val fr = got("fr")
    assert(fr.getAs[Long]("n_split_docs") == 0L &&
      fr.getAs[Long]("n_bins") == 1L &&
      fr.getAs[Long]("tail_waste") == 2048L - 20L, fr)
    // sf invariants: waste < one bin, splits bounded by docs
    run("p24_pack_efficiency").collect().foreach { r =>
      assert(r.getAs[Long]("tail_waste") >= 0 &&
        r.getAs[Long]("tail_waste") < 2048L, r)
      assert(r.getAs[Long]("n_split_docs") <= r.getAs[Long]("n_docs"), r)
    }
  }

  test("p25 perplexity gate: gibberish continuation is cut, natural kept") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p25").toString
    // 30 natural docs "the cat": bigram surprisal ln(31/30) ≈ 0.0328 →
    // kept. 1 gibberish doc "the zzz": its bigram is unique but shares
    // the frequent "the" prefix → surprisal ln(31/1) ≈ 3.434 nats >
    // 3.39 threshold → cut. 1 single-token doc → unscored.
    val docs = (0L until 30L).map(i => (i, "the cat", "en", "s", 7L)) ++
      Seq((30L, "the zzz", "en", "s", 7L), (31L, "x", "en", "s", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = run("p25_perplexity_gate", dir).collect().head
    assert(r.getAs[Long]("n_docs") == 32L && r.getAs[Long]("n_scored") == 31L, r)
    assert(r.getAs[Long]("n_kept") == 30L, r)
    assert(r.getAs[Long]("kept_bp") == 30L * 10000 / 31, r)
    // sf invariants: kept ⊆ scored ⊆ docs; the gate splits the corpus
    val sfRows = run("p25_perplexity_gate").collect()
    sfRows.foreach { s =>
      assert(s.getAs[Long]("n_kept") <= s.getAs[Long]("n_scored"), s)
      assert(s.getAs[Long]("n_scored") <= s.getAs[Long]("n_docs"), s)
    }
    val (kept, scored) = (sfRows.map(_.getAs[Long]("n_kept")).sum,
      sfRows.map(_.getAs[Long]("n_scored")).sum)
    assert(kept > 0 && kept < scored, s"gate degenerate: $kept/$scored")
  }

  test("p26 stratified sample keeps exactly min(50, stratum) per lang") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("p26").toString
    // 60 one-token docs in 'en', 5 in 'de': caps bind only on 'en'
    ((0 until 60).map(i => (i.toLong, "w", "en")) ++
      (60 until 65).map(i => (i.toLong, "w", "de")))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = run("p26_stratified_sample", d).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("tok_total"), r.getAs[Long]("tok_kept"),
          r.getAs[Long]("mass_bp")))).toMap
    assert(got("en") == ((60L, 50L, 60L, 50L, 8333L)), got)
    assert(got("de") == ((5L, 5L, 5L, 5L, 10000L)), got)
    // sf invariants: cap binds exactly, and a rerun draws the same set
    val a = run("p26_stratified_sample").collect()
    a.foreach { r =>
      assert(r.getAs[Long]("n_kept") ==
        math.min(50L, r.getAs[Long]("n_docs")), r)
    }
    val b = run("p26_stratified_sample").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("p27 waterfills on UNIQUE mass; the scarcest lang keeps all") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("p27").toString
    Seq(
      (0L, "a b c", "en"),  // keeper of the dup pair
      (1L, "a b c", "en"),  // dup — must NOT inflate en's budget
      (2L, "d e", "en"),
      (3L, "x", "de"))      // scarcest lang: the waterline
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = run("p27_dedup_mix", d).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("tokens_raw"), r.getAs[Long]("docs_unique"),
          r.getAs[Long]("tokens_unique"), r.getAs[Long]("tokens_target"),
          r.getAs[Long]("docs_kept"), r.getAs[Long]("tokens_kept"))))
      .toMap
    assert(got("en")._1 == 8L && got("en")._2 == 2L &&
      got("en")._3 == 5L && got("en")._4 == 1L, got)
    // the argmin lang's keep predicate is v·T < T·65536 — always true
    assert(got("de") == ((1L, 1L, 1L, 1L, 1L, 1L)), got)
    // sf invariants: unique mass never exceeds raw mass, kept never
    // exceeds unique, and the scarcest lang keeps everything
    val sfRows = run("p27_dedup_mix").collect()
    sfRows.foreach { r =>
      assert(r.getAs[Long]("tokens_unique") <= r.getAs[Long]("tokens_raw"), r)
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("tokens_unique"), r)
    }
    val argmin = sfRows.minBy(_.getAs[Long]("tokens_unique"))
    assert(argmin.getAs[Long]("docs_kept") == argmin.getAs[Long]("docs_unique"))
  }

  test("p28 IPF step replays exactly; zero-mass sources are excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("p28").toString
    // grid: s0=(en 3, de 2), s1=(en 1, de 4); s2 carries only NULL text
    // → zero mass → no defined multiplier → excluded rows
    Seq((0L, "a b c", "s0", "en"), (1L, "x y", "s0", "de"),
        (2L, "p", "s1", "en"), (3L, "q r s t", "s1", "de"))
      .toDF("doc_id", "text", "source", "lang")
      .union(Seq((4L, null.asInstanceOf[String], "s2", "en"))
        .toDF("doc_id", "text", "source", "lang"))
      .withColumn("n_chars",
        coalesce(length(col("text")), lit(0)).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // tt=10, ns=3 (s2 counts as a source!), nl=2; ts: s0=5, s1=5 →
    // r6 = (10/3)/5 = 0.666667; den_en = (3+1)·r6, den_de = (2+4)·r6
    val r6 = BigDecimal((10.0 / 3.0) / 5.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def c6(den: Double): Double = BigDecimal((10.0 / 2.0) / den)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val denEn = BigDecimal(4L) * BigDecimal(r6)
    val denDe = BigDecimal(6L) * BigDecimal(r6)
    def w(den: BigDecimal): Double = BigDecimal(r6 * c6(den.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = run("p28_ipf_reweight", d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        ((r.getAs[Long]("tokens"), r.getAs[Double]("w")))).toMap
    assert(got == Map(
      ("s0", "en") -> ((3L, w(denEn))), ("s0", "de") -> ((2L, w(denDe))),
      ("s1", "en") -> ((1L, w(denEn))), ("s1", "de") -> ((4L, w(denDe)))),
      got)
    // sf: weights positive, and the column marginals land on target
    // (tt/nl) within the 6-dp rounding slack of one IPF column step
    val sfRows = run("p28_ipf_reweight").collect()
    assert(sfRows.nonEmpty)
    sfRows.foreach(r => assert(r.getAs[Double]("w") > 0.0, r))
    val tt = sfRows.map(_.getAs[Long]("tokens")).sum.toDouble
    val nl = sfRows.map(_.getAs[String]("lang")).distinct.length
    sfRows.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val achieved = rows.map(r =>
        r.getAs[Long]("tokens") * r.getAs[Double]("w")).sum
      assert(math.abs(achieved - tt / nl) < tt / nl * 0.001,
        s"achieved=$achieved target=${tt / nl}")
    }
  }
}
