package graft

import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSpecBase {

  test("x01 hash sample is a deterministic subset (~1/16) of the corpus") {
    val a = run("x01_hash_sample").collect().map(_.getAs[Long]("doc_id"))
    val b = run("x01_hash_sample").collect().map(_.getAs[Long]("doc_id"))
    assert(a.sameElements(b)) // reproducible
    val total = Tables(spark, sf, "documents").count()
    assert(a.length > 0 && a.length < total / 4) // genuinely sampling
  }

  test("x02 stratified sample keeps ceil(20%) of every lang stratum") {
    val strata = Tables(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val sampled = run("x02_stratified_sample").collect()
      .groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    strata.foreach { case (lang, n) =>
      assert(sampled(lang) == math.ceil(n * 0.2).toLong,
        s"stratum $lang: got ${sampled(lang)} of $n")
    }
  }

  test("x02 keeps a NULL lang as its own stratum (null-safe join keys)") {
    import spark.implicits._
    // planted corpus: 10 "aa", 5 "bb", 5 NULL-lang docs — the two-pass
    // scheme's inner join must not drop the NULL stratum the oracle's
    // window formulation keeps
    val docs = ((0L until 10L).map(i => (i, Some("aa"))) ++
      (10L until 15L).map(i => (i, Some("bb"))) ++
      (15L until 20L).map(i => (i, Option.empty[String])))
      .toDF("doc_id", "lang")
    val dir = java.nio.file.Files.createTempDirectory("x02null").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = run("x02_stratified_sample", dir).collect()
    val byLang = out.groupBy(r =>
      Option(r.getAs[String]("lang"))).view.mapValues(_.length).toMap
    assert(byLang(Some("aa")) == 2)   // ceil(10 * 0.2)
    assert(byLang(Some("bb")) == 1)   // ceil(5 * 0.2)
    assert(byLang(None) == 1)         // ceil(5 * 0.2) — NOT dropped
    // and the NULL-stratum pick matches the single-window formulation
    val expectNull = docs.filter(col("lang").isNull)
      .select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("hx"))
      .orderBy("hx", "doc_id").limit(1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val gotNull = out.filter(r => r.getAs[String]("lang") == null)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(gotNull == expectNull)
  }

  test("x06 pipeline output is a subset of the quality-filtered dedup keepers") {
    val out = run("x06_corpus_pipeline").collect().map(_.getAs[Long]("doc_id"))
    // every surviving doc is its own exact-dedup representative
    val keepIds = run("d01_dedup_exact").collect()
      .map(_.getAs[Long]("keep_id")).toSet
    assert(out.forall(keepIds.contains))
    // and passes the sampling predicate
    assert(out.forall { id =>
      "0123".contains(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.charAt(0))
    })
  }

  test("x05 chunking: n_chunks matches the token count formula") {
    val rows = run("x05_chunk_pack").collect()
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(rows.forall { r =>
      val n = toks(r.getAs[Long]("doc_id"))
      val expected = if (n <= 64) 1L else math.ceil((n - 64) / 48.0).toLong + 1
      r.getAs[Long]("n_chunks") == expected
    })
  }

  test("x07 shards partition the corpus; balance verdicts replay exactly") {
    val rows = run("x07_shard_balance").collect()
    val nDocs = Tables(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs) // a partition
    assert(rows.map(_.getAs[Long]("shard")).distinct.length == rows.length)
    assert(rows.forall(r => (0L until 32L).contains(r.getAs[Long]("shard"))))
    val nsh = rows.length.toLong
    rows.foreach { r =>
      assert(r.getAs[Boolean]("balanced") ==
        (math.abs(r.getAs[Long]("n_docs") * nsh - nDocs) * 5 <= nDocs))
    }
    // the md5 draw replays per doc
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byShard = Tables(spark, sf, "documents").select("doc_id").collect()
      .map(_.getAs[Long]("doc_id"))
      .groupBy(id => java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 32)
      .map { case (s, xs) => s -> xs.length.toLong }
    assert(rows.map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_docs"))
      .toMap == byShard)
  }

  test("x08 manifest = exact driver replay; xor signature is order-free") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val expect = docs.groupBy { case (id, _) =>
      java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 32
    }.map { case (sh, xs) =>
      sh -> ((xs.length.toLong,
        xs.map(_._2.trim.toLowerCase.split("\\s+").length.toLong).sum,
        xs.map(_._1).min, xs.map(_._1).max,
        xs.map(x => java.lang.Long.parseLong(md5hex(x._2).take(15), 16))
          .reduce(_ ^ _)))
    }
    val got = run("x08_shard_manifest").collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("min_doc"), r.getAs[Long]("max_doc"),
          r.getAs[Long]("content_sig")))).toMap
    assert(got == expect)
  }

  test("x09 profile = exact driver replay over the three string columns") {
    val docs = Tables(spark, sf, "documents")
      .select("lang", "source", "text").collect()
    val cols = Seq(
      "lang" -> docs.map(_.getAs[String]("lang")),
      "source" -> docs.map(_.getAs[String]("source")),
      "text" -> docs.map(_.getAs[String]("text")))
    val expect = cols.map { case (name, vs) =>
      val nn = vs.filter(_ != null)
      name -> ((vs.length.toLong, (vs.length - nn.length).toLong,
        nn.distinct.length.toLong, nn.min, nn.max,
        BigDecimal(nn.map(_.length.toLong).sum.toDouble / nn.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = run("x09_data_profile").collect()
      .map(r => r.getAs[String]("col_name") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
          r.getAs[Long]("n_distinct"), r.getAs[String]("min_val"),
          r.getAs[String]("max_val"), r.getAs[Double]("avg_len")))).toMap
    assert(got == expect)
  }

  test("x10 compaction plan: prefix sums exact, groups bounded by target") {
    val rows = run("x10_compaction_plan").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_before"), r.getAs[Long]("file_group")))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // cum_before replays as the running sum in shard order
    var cum = 0L
    rows.foreach { case (sh, n, cb, g) =>
      assert(cb == cum, s"shard $sh")
      assert(g == cum / 4096L, s"group of shard $sh")
      cum += n
    }
    // groups are contiguous in shard order and nondecreasing
    val gs = rows.map(_._4)
    assert(gs.zip(gs.tail).forall { case (a, b) => a <= b })
    // every group's mass is < target + its largest member (the greedy
    // cut guarantee: a group only exceeds target by the shard that
    // crossed the line)
    rows.groupBy(_._4).values.foreach { g =>
      val mass = g.map(_._2).sum
      assert(mass < 4096L + g.map(_._2).max, g.toString)
    }
    // shard stats agree with x07 (same draw, same tokenization)
    val x07 = run("x07_shard_balance").collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_tokens")).toMap
    rows.foreach { case (sh, n, _, _) => assert(x07(sh) == n, s"shard $sh") }
  }

  test("x11 DP counts: seeded Laplace noise replays exactly per key") {
    val rows = run("x11_dp_count").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("n_noisy"))
      .toMap
    assert(rows.nonEmpty)
    val truth = Tables(spark, sf, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
    assert(rows.keySet == truth.keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    truth.foreach { case (typ, n) =>
      val hex = md.digest(typ.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      val noise = -operators.PipelineOps.DpB * math.signum(u - 0.5) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
      val want = BigDecimal(java.math.BigDecimal.valueOf(n.toDouble + noise))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rows(typ) == want, s"$typ: ${rows(typ)} vs $want")
      // the release is actually noisy (no key draws exactly-zero noise)
      assert(rows(typ) != n.toDouble, typ)
    }
  }

  test("x12 deletion propagates consistently across tables") {
    val rows = run("x12_delete_propagation").collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("segment"),
        r.getAs[Long]("n_deleted"), r.getAs[Long]("n_retained")))
    val docRows = rows.filter(_._1 == "documents")
    val Seq(embRow) = rows.filter(_._1 == "embeddings").toSeq
    // partition: deleted + retained = table size, per segment
    val nDocs = Tables(spark, sf, "documents").count()
    assert(docRows.map(r => r._3 + r._4).sum == nDocs)
    assert(embRow._3 + embRow._4 ==
      Tables(spark, sf, "embeddings").count())
    // doc_id ≡ vec_id and both tables cover the same ids → the SAME
    // number of rows disappears from both (the propagation invariant)
    assert(docRows.map(_._3).sum == embRow._3)
    // the deletion list is exactly x01's draw (same md5 predicate)
    assert(docRows.map(_._3).sum == run("x01_hash_sample").count())
    // something was actually deleted and something retained
    assert(docRows.map(_._3).sum > 0 && docRows.map(_._4).sum > 0)
  }

  test("x13 PII report: planted patterns counted; clean docs stay clean") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("x13").toString
    Seq(
      (1L, "contact me at bob1@example.com or sue@mail.org today", "s1"),
      (2L, "call 555-123-4567 and 555-9876-5432 ref 123456789", "s1"),
      (3L, "perfectly clean prose with the number 42 only", "s2"),
      (4L, null.asInstanceOf[String], "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(coalesce(col("text"), lit(""))).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("x13_pii_report", dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("docs_with_pii"), r.getAs[Long]("n_emails"),
          r.getAs[Long]("n_phones"), r.getAs[Long]("n_longnums")))).toMap
    assert(got("s1") == ((2L, 2L, 2L, 1L)))
    assert(got("s2") == ((0L, 0L, 0L, 0L)))
  }

  test("x14 pseudonymization is collision-free and analytics-preserving") {
    val ev = Tables(spark, sf, "events")
    // the surrogate space is collision-free on this corpus
    val users = ev.select("user_id").distinct().count()
    val surrogates = ev
      .select(md5(col("user_id").cast("string").cast("binary")).as("s"))
      .distinct().count()
    assert(surrogates == users)
    // the top-20 surrogate histogram IS the top-20 user histogram
    val top = run("x14_pseudonymize").collect()
      .map(r => r.getAs[String]("surrogate") -> r.getAs[Long]("n_events"))
    val byUser = ev.groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n"))
    val md = java.security.MessageDigest.getInstance("MD5")
    def sur(u: Long) = md.digest(u.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = byUser.map { case (u, n) => sur(u) -> n }
      .sortBy { case (s, n) => (-n, s) }.take(20)
    assert(top.toSeq == expect.toSeq)
  }

  test("x15 contracts: clean corpus passes; planted violations counted") {
    import spark.implicits._
    // the shipped testdata satisfies every contract
    val clean = run("x15_contract_check").collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
    assert(clean.length == 6)
    assert(clean.forall(_._2 == 0L), clean.mkString(", "))
    // planted: dup orderkey, NULL custkey, qty 99, dangling lineitem ref
    val dir = java.nio.file.Files.createTempDirectory("x15").toString
    Seq((1L, Some(10L)), (1L, Some(11L)), (2L, None))
      .toDF("o_orderkey", "o_custkey")
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_totalprice", lit(1.0))
      .withColumn("o_orderdate", lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .withColumn("o_orderpriority", lit("2-HIGH"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 5.0, 0.05), (1L, 99.0, 0.05), (7L, 3.0, 0.5))
      .toDF("l_orderkey", "l_quantity", "l_discount")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, Option(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
        (2L, Option.empty[java.sql.Timestamp]))
      .toDF("event_id", "ts")
      .withColumn("user_id", lit(1L)).withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("""{"k":1}"""))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = run("x15_contract_check", dir).collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(got("orders.o_orderkey unique") == 1L)
    assert(got("orders.o_custkey not null") == 1L)
    assert(got("lineitem.l_quantity in [1,50]") == 1L)
    assert(got("lineitem.l_discount in [0,0.1]") == 1L)
    assert(got("lineitem.l_orderkey refs orders") == 1L) // key 7 dangles
    assert(got("events.ts not null") == 1L)
  }

  test("x16 profile drift: planted null-rate jump and cardinality collapse " +
    "flag; stable column doesn't") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("x16").toString
    // even (base) docs: lang set, texts all distinct; odd (next) docs:
    // lang NULL (100% null jump), texts all identical (cardinality
    // collapse); source identical on both sides (stable)
    val rows = (0L until 8L).map { i =>
      val even = i % 2 == 0
      (i, if (even) s"text number $i" else "same text",
       if (even) "en" else null, "src0")
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("x16_profile_drift", dir).collect()
      .map(r => r.getAs[String]("col_name") ->
        ((r.getAs[Long]("base_null_bp"), r.getAs[Long]("next_null_bp"),
          r.getAs[Long]("base_distinct"), r.getAs[Long]("next_distinct"),
          r.getAs[Boolean]("null_drift"), r.getAs[Boolean]("distinct_drift"))))
      .toMap
    assert(got("lang") == ((0L, 10000L, 1L, 0L, true, true)), got)
    assert(got("text") == ((0L, 0L, 4L, 1L, false, true)), got)
    assert(got("source") == ((0L, 0L, 1L, 1L, false, false)), got)
  }

  test("x19 k-anonymity: a 2-doc QI class is at risk, a 6-doc class is not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("x19").toString
    // en/s1/len_c=1: 6 docs (safe); en/s2/len_c=0: 2 docs (< 5, at risk)
    val docs = (0L until 6L).map(i => (i, "x", "en", "s1", 105L)) ++
      Seq((6L, "y", "en", "s2", 50L), (7L, "z", "en", "s2", 55L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = run("x19_kanonymity", dir).collect().head
    assert(r.getAs[Long]("n_classes") == 2L && r.getAs[Long]("n_docs") == 8L, r)
    assert(r.getAs[Long]("n_small_classes") == 1L &&
      r.getAs[Long]("docs_at_risk") == 2L, r)
    assert(r.getAs[Long]("risk_bp") == 2500L &&
      r.getAs[Long]("min_class_size") == 2L, r)
    // sf invariants: risk share bounded, docs reconcile with the corpus
    val sfRows = run("x19_kanonymity").collect()
    assert(sfRows.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf, "documents").count())
    sfRows.foreach(s => assert(s.getAs[Long]("risk_bp") <= 10000L, s))
  }

  test("x20 prunes the sorted layout, never the round-robin one") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("x20").toString
    // 320 docs with n_chars = doc_id: the range layout gives file f
    // exactly n_chars ∈ [10f, 10f+10), so BETWEEN 200 AND 400 touches
    // files 20..31; round-robin leaves matches in every file (120
    // consecutive ids cover all 32 residues)
    (0 until 320).map(i => (i.toLong, "x", i.toLong))
      .toDF("doc_id", "text", "n_chars")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = run("x20_layout_pruning", d).collect()
      .map(r => r.getAs[String]("layout") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("files_touched"),
          r.getAs[Long]("rows_scanned"), r.getAs[Long]("n_match"),
          r.getAs[Long]("prune_bp")))).toMap
    assert(got("bylen") == ((32L, 12L, 120L, 120L, 6250L)), got)
    assert(got("roundrobin") == ((32L, 32L, 320L, 120L, 0L)), got)
    // sf invariants: the predicate's row count is layout-independent;
    // scanned rows always cover the matches; the sorted layout never
    // touches more files than the unsorted one
    val sfRows = run("x20_layout_pruning").collect()
      .map(r => r.getAs[String]("layout") ->
        ((r.getAs[Long]("files_touched"), r.getAs[Long]("rows_scanned"),
          r.getAs[Long]("n_match")))).toMap
    assert(sfRows("bylen")._3 == sfRows("roundrobin")._3)
    sfRows.values.foreach(v => assert(v._2 >= v._3, v))
    assert(sfRows("bylen")._1 <= sfRows("roundrobin")._1)
  }

  test("x21 lineage card agrees with the ops whose draws it re-derives") {
    import org.apache.spark.sql.functions._
    val card = run("x21_lineage_card")
    // fold must equal p18's assignment doc-by-doc
    val mismatch = card.select(col("doc_id"), col("fold"))
      .join(run("p18_kfold_split")
        .select(col("doc_id"), col("fold").as("p18_fold")), "doc_id")
      .filter(col("fold") =!= col("p18_fold")).count()
    assert(mismatch == 0L)
    val rows = card.collect()
    assert(rows.length == Tables(spark, sf, "documents").count().toInt)
    rows.foreach { r =>
      val sh = r.getAs[Long]("shard")
      assert(sh >= 0 && sh < 32, r)
      // the shard is the surrogate's own md5 prefix mod 32 — derivable
      // from the published id alone
      assert(sh ==
        java.lang.Long.parseLong(
          r.getAs[String]("surrogate").substring(0, 8), 16) % 32, r)
      assert(r.getAs[Long]("fold") >= 0 && r.getAs[Long]("fold") < 5, r)
    }
    // surrogate replay for one row through the JVM's own MD5
    val r0 = rows.head
    val mdig = java.security.MessageDigest.getInstance("MD5")
      .digest(r0.getAs[Long]("doc_id").toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(r0.getAs[String]("surrogate") == mdig, r0)
  }

  test("x22 redaction leaves zero residual and marks every hit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("x22").toString
    Seq(
      (0L, "call 555 1234 now"),   // two digit runs
      (1L, "no numbers here"),
      (2L, "year 2024"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = run("x22_redaction_audit", d).collect().head
    assert(r.getAs[Long]("n_docs") == 3L, r)
    assert(r.getAs[Long]("docs_with_pii") == 2L, r)
    assert(r.getAs[Long]("total_redactions") == 3L, r)
    assert(r.getAs[Long]("total_marks") == 3L, r)
    assert(r.getAs[Long]("residual_after") == 0L, r)
    // sf: the detector must never find anything post-redaction, and
    // every hit must have produced a placeholder
    run("x22_redaction_audit").collect().foreach { s =>
      assert(s.getAs[Long]("residual_after") == 0L, s)
      assert(s.getAs[Long]("total_marks") == s.getAs[Long]("total_redactions"), s)
    }
  }

  test("x23 equi-depth bands are exact; a heavy value never splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("x23").toString
    // n_chars = [1×5, 2, 3, 4]: value 1 fills band 0 entirely (5 > 8/4
    // docs — it may NOT split); 2 → band 2, {3,4} → band 3
    ((0 until 5).map(i => (i.toLong, 1L)) ++
      Seq((5L, 2L), (6L, 3L), (7L, 4L)))
      .map { case (id, n) => (id, "x" * n.toInt, n) }
      .toDF("doc_id", "text", "n_chars")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = run("x23_equidepth_bins", d).collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("lo"), r.getAs[Long]("hi"),
          r.getAs[Long]("n_docs")))).toMap
    assert(got == Map(
      0L -> ((1L, 1L, 5L)),
      2L -> ((2L, 2L, 1L)),
      3L -> ((3L, 4L, 2L))), got)
    // sf: bands cover the corpus, ranges are disjoint and ordered
    val sfRows = run("x23_equidepth_bins").collect()
    assert(sfRows.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf, "documents").count())
    sfRows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"), s"$a $b")
      case _ =>
    }
  }

  test("x24 flags a source whose ids correlate with the sample hash") {
    import spark.implicits._
    def sampled(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(h(0)).charAt(0) == '0'
    }
    val d = java.nio.file.Files.createTempDirectory("x24").toString
    // adversarial allocation: every sampled id goes to 'hot' — the
    // sample is then 100% hot while the corpus is ~1/16 hot
    val ids = (0L until 200L)
    ids.map(i => (i, if (sampled(i)) "hot" else "cold"))
      .toDF("doc_id", "source")
      .withColumn("text", lit("a b")).withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(3L))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val nHot = ids.count(sampled)
    val got = run("x24_sample_bias", d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_sample"),
          r.getAs[Long]("corpus_bp"), r.getAs[Long]("sample_bp"),
          r.getAs[Boolean]("biased")))).toMap
    assert(got("hot") ==
      ((nHot.toLong, nHot.toLong, nHot * 10000L / 200L, 10000L, true)),
      got)
    assert(got("cold") ==
      (((200L - nHot), 0L, (200L - nHot) * 10000L / 200L, 0L, true)),
      got)
    // sf: the engine's exact-bp arithmetic and the flag must replay
    // driver-side (at sf0.001 the 200 bp threshold CAN legitimately
    // trip from small-sample noise — ~25 docs per source — so the spec
    // pins the arithmetic, not an unbiased verdict the sample size
    // cannot support)
    val sfRows = run("x24_sample_bias").collect()
    assert(sfRows.nonEmpty)
    val tot = sfRows.map(_.getAs[Long]("n_docs")).sum
    val stot = sfRows.map(_.getAs[Long]("n_sample")).sum
    sfRows.foreach { r =>
      assert(r.getAs[Long]("n_sample") <= r.getAs[Long]("n_docs"), r)
      val cbp = r.getAs[Long]("n_docs") * 10000L / tot
      val sbp = r.getAs[Long]("n_sample") * 10000L / stot
      assert(r.getAs[Long]("corpus_bp") == cbp, r)
      assert(r.getAs[Long]("sample_bp") == sbp, r)
      assert(r.getAs[Boolean]("biased") == (math.abs(cbp - sbp) > 200L), r)
    }
  }
}
