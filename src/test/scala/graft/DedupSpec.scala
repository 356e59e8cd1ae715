package graft

import java.nio.file.Files

class DedupSpec extends SparkSpecBase {

  /** Planted corpus (see [[Planted.docs]]). */
  lazy val plantedDir: String = Planted.docs(spark)

  test("d01 exact dedup groups identical texts") {
    val rows = run("d01_dedup_exact", plantedDir).collect()
    // 0 and 1 identical, 3 identical to them too (same text, different lang)
    val dupGroup = rows.filter(_.getAs[Long]("dup_cnt") == 3)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("keep_id") == 0L)
  }

  test("d02 fingerprint dedup is word-order-insensitive") {
    val rows = run("d02_dedup_fingerprint", plantedDir).collect()
    // 0,1,3,5 share the token set → one group of 4
    assert(rows.exists(r => r.getAs[Long]("dup_cnt") == 4 &&
      r.getAs[Long]("keep_id") == 0L))
  }

  test("d03 minhash-lsh surfaces the exact-dup pair as a candidate") {
    val pairs = run("d03_dedup_minhash_lsh", plantedDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((0L, 1L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc stays out
  }

  test("d04 simhash: identical docs have hamming 0") {
    val rows = run("d04_dedup_simhash", plantedDir).collect()
    val h01 = rows.find(r => r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 1L)
    assert(h01.isDefined && h01.get.getAs[Long]("hamming") == 0L)
  }

  /** SimHash-pinning corpus: 240-token docs over a 40-word vocab whose
    * per-bit weighted margins are moderate, so a k-position edit flips
    * roughly the bits with near-zero margin — nested variants with
    * k = 1,2,3,4,6,8,12,16,24,32,48,64,96,128,160,200 edited positions
    * land pairs across the whole hamming range (0..8 and well beyond),
    * making both d04 contract assertions non-vacuous.
    */
  lazy val simhashDir: String = {
    val dir = Files.createTempDirectory("graft-simhash").toString
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"tok$i")
    val base = (0 until 240).map(p => vocab((p * 7 + p * p % 13) % 40))
    val editPos = (0 until 200).map(j => 20 + j)
    def variant(k: Int): String =
      base.zipWithIndex.map { case (t, p) =>
        if (editPos.take(k).contains(p)) s"rep$p" else t
      }.mkString(" ")
    val docs = ((100L, base.mkString(" ")) +: (101L, base.mkString(" ")) +:
      Seq(1, 2, 3, 4, 6, 8, 12, 16, 24, 32, 48, 64, 96, 128, 160, 200)
        .zipWithIndex.map { case (k, i) => ((102 + i).toLong, variant(k)) })
      .map { case (id, txt) => (id, txt, "en", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d04 simhash == brute-force (hamming<=8 ∧ shares-a-chunk); pigeonhole complete at hamming<=3") {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.functions.col
    // ground-truth signatures via the same expression the operator uses —
    // the brute-force PAIR SET below is computed in plain Scala, so the
    // test pins the operator's blocking+verify pipeline, not the hash
    val sigs = spark.read.parquet(s"$simhashDir/documents.parquet")
      .select(col("doc_id"), GraftShim.column(graft.plans.SimHashExpr(
        GraftShim.expression(graft.functions.TextFns.tokens(col("text")))))
        .as("sim"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sim")).toMap
    val ids = sigs.keys.toSeq.sorted
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b).toLong
    def sharesChunk(a: Long, b: Long) = (0 until 4).exists(c =>
      ((a >>> (c * 16)) & 0xFFFFL) == ((b >>> (c * 16)) & 0xFFFFL))
    val allPairs = for (i <- ids; j <- ids if i < j)
      yield ((i, j), hamming(sigs(i), sigs(j)))
    val brute = allPairs.filter { case ((i, j), h) =>
      h <= 8 && sharesChunk(sigs(i), sigs(j))
    }.toMap
    val got = run("d04_dedup_simhash", simhashDir).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        r.getAs[Long]("hamming"))).toMap
    // (a) output == brute-force hamming<=8 ∧ shares-a-chunk pair set
    assert(got == brute)
    // (b) pigeonhole law: hamming<=3 forces a shared 16-bit chunk, so
    // EVERY such pair must be present — recall 1 in that band
    val close = allPairs.filter(_._2 <= 3).map(_._1)
    assert(close.forall(got.contains))
    // non-vacuity: the planted corpus exercises hamming 0, the 1..3
    // pigeonhole band, and the 4..8 shared-chunk band
    val hs = allPairs.map(_._2)
    info(s"hamming distribution: ${hs.groupBy(identity).view.mapValues(_.size).toMap.toSeq.sortBy(_._1)}")
    assert(hs.contains(0L))
    assert(hs.exists(h => h >= 1 && h <= 3))
    assert(brute.values.exists(h => h >= 4 && h <= 8))
  }

  test("d05 jaccard finds planted near-dup with high score, same-lang only") {
    val rows = run("d05_ngram_jaccard", plantedDir).collect()
    val j = rows.map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
      r.getAs[Double]("jaccard"))).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j.contains((0L, 2L)) && j((0L, 2L)) >= 0.5 && j((0L, 2L)) < 1.0)
    assert(!j.contains((0L, 3L))) // same text but different lang block
  }

  test("d08 groups are transitive: exact dups + a chained near-dup share one rep") {
    // planted: 0,1,3 identical text; 2 near-dup of 0 → component {0,1,2,3}
    // via transitivity; 4 unrelated and 5 (token-reversed: different
    // 3-gram shingles) never enter the pair graph
    val reps = run("d08_dedup_groups", plantedDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_rep")).toMap
    assert(reps.keySet == Set(0L, 1L, 2L, 3L))
    assert(reps.values.toSet == Set(0L))
  }

  test("CC star rounds: 64-deep chain + disjoint triangle, O(log) rounds not O(diameter)") {
    import spark.implicits._
    // worst case for min-label propagation: a path graph of diameter 64
    // (would need 64 rounds there), plus a disjoint component to prove
    // labels don't bleed across components
    val chain = (0L until 64L).map(i => (i, i + 1))
    val tri = Seq((900L, 901L), (901L, 902L), (902L, 900L))
    val (labels, rounds) = graft.operators.ConnectedComponents.run(
      (chain ++ tri).toDF("a_id", "b_id"))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.keySet == (0L to 64L).toSet ++ Set(900L, 901L, 902L))
    assert((0L to 64L).forall(i => m(i) == 0L))
    assert(Seq(900L, 901L, 902L).forall(i => m(i) == 900L))
    info(s"star rounds for diameter-64 chain: $rounds")
    assert(rounds <= 10) // log2(64) = 6 plus convergence-detection slack
  }

  test("CC star labels == driver union-find on random graphs (property)") {
    import spark.implicits._
    // deterministic LCG so the property corpus is reproducible
    var state = 12345L
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % bound).toInt
    }
    for (trial <- 1 to 5) {
      val n = 40 + next(60)
      val edges = Seq.fill(n)((next(80).toLong, next(80).toLong))
        .filter { case (a, b) => a != b }
      // reference: classic driver-side union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val comps = nodes.groupBy(find)
      val expect = nodes.map(v => v -> comps(find(v)).min).toMap
      val (labels, rounds) = graft.operators.ConnectedComponents.run(
        edges.toDF("a_id", "b_id"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial: n=$n rounds=$rounds")
      assert(rounds <= 12, s"trial $trial took $rounds rounds")
    }
  }

  test("d09 = exactly the d06b pairs whose text 3-gram jaccard >= 0.5") {
    import org.apache.spark.sql.functions._
    val shMap = Tables(spark, sf, "documents")
      .select(col("doc_id"), array_distinct(graft.functions.TextFns.shingles(
        graft.functions.TextFns.tokens(col("text")), 3)).as("sh"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Seq[String]]("sh").toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (shMap(a), shMap(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    val cand = run("d06b_dedup_embedding_lsh").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val expect = cand.filter { case (a, b) => jac(a, b) >= 0.5 }
    val got = run("d09_crossmodal_dedup").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(got == expect)
  }

  test("d06b bucketed pairs = subset of exact d06 with identical cosines; recall documented") {
    def pairMap(name: String) = run(name).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        r.getAs[Double]("cos"))).toMap
    val exact = pairMap("d06_dedup_embedding")
    val lsh = pairMap("d06b_dedup_embedding_lsh")
    // precision is exact: every surviving pair passed the same cosine
    // verify, so values match d06 bit-for-bit
    assert(lsh.forall { case (k, v) => exact.get(k).contains(v) })
    val recall = lsh.size.toDouble / exact.size
    info(f"d06b recall at cos>=0.3: $recall%.3f (${lsh.size}/${exact.size})")
    // measured 0.79 on the synthetic corpus, whose 0.3 threshold sits
    // barely above the intra-label background — the worst case for
    // sign-LSH (see d06b scaladoc); at real near-dup thresholds (>=0.9)
    // bucket recall approaches 1. Floor leaves margin for float wobble.
    assert(recall >= 0.60)
  }

  test("oracle plane guard: corpus past the 4-plane bound turns the gate red") {
    val dedup = graft.operators.Dedup
    // shipped SFs are far inside the bound — the guard must pass
    dedup.assertOracleBounds(spark, sf)
    // a regenerated embeddings table one row past 2560·2⁴ must FAIL with
    // the explanatory message, not silently desync oracle from build
    val dir = Files.createTempDirectory("graft-emb-oversize").toString
    spark.range(dedup.OraclePlaneBound + 1)
      .select(org.apache.spark.sql.functions.col("id").as("vec_id"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      dedup.assertOracleBounds(spark, dir))
    assert(e.getMessage.contains("pins 4 LSH planes"), e.getMessage)
  }

  /** d10 planted corpus (see [[Planted.incrementalDocs]]). */
  lazy val d10Dir: String = Planted.incrementalDocs(spark)

  private val d10Expected = Map(3L -> "dup_of_base", 10L -> "new",
    17L -> "dup_in_batch", 24L -> "new", 31L -> "dup_of_base")

  test("d10 incremental: batch docs classified dup_of_base / dup_in_batch / " +
    "new, NULL text included") {
    val got = run("d10_incremental_dedup", d10Dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got == d10Expected)
  }

  test("d06 embedding near-dups on real sf data stay within label blocks") {
    val e = Tables(spark, sf, "embeddings")
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val rows = run("d06_dedup_embedding").collect()
    assert(rows.forall(r =>
      labels(r.getAs[Long]("a_id")) == labels(r.getAs[Long]("b_id"))))
  }

  test("d11 survivors: one per d08 group, the longest member, singletons kept") {
    val groups = run("d08_dedup_groups").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_rep")).toMap
    val nDocs = Tables(spark, sf, "documents").count()
    val surv = run("d11_dedup_survivors").collect()
    // exactly one survivor per dup group + one per singleton
    val nGroups = groups.values.toSet.size
    assert(surv.length == nDocs - groups.size + nGroups,
      s"${surv.length} survivors for $nDocs docs, ${groups.size} dup docs " +
        s"in $nGroups groups")
    assert(surv.map(_.getAs[Long]("group_rep")).distinct.length == surv.length)
    // every survivor of a dup group carries that group's max token count
    val toks = run("t01_token_count").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    surv.filter(_.getAs[Long]("group_size") > 1).foreach { r =>
      val rep = r.getAs[Long]("group_rep")
      val members = groups.collect { case (d, g) if g == rep => d }
      assert(r.getAs[Long]("group_size") == members.size)
      assert(r.getAs[Long]("n_tokens") == members.map(toks).max,
        s"survivor ${r.getAs[Long]("doc_id")} of group $rep is not longest")
    }
  }

  test("d13 span dedup: planted corpus shares exactly the expected spans") {
    // plantedDir: 20-token docs → 5 sliding 16-token spans each.
    // 0/1/3 identical → all 5 shared; 2 differs at token 18 (1-based),
    // which sits in windows 3..5 → exactly windows 1-2 shared; 4 and 5
    // (reversed token order) share nothing.
    val got = run("d13_span_dedup", plantedDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_shared"),
          r.getAs[Boolean]("dup_heavy")))).toMap
    assert(got == Map(
      0L -> ((5L, 5L, true)), 1L -> ((5L, 5L, true)), 3L -> ((5L, 5L, true)),
      2L -> ((5L, 2L, false)),
      4L -> ((5L, 0L, false)), 5L -> ((5L, 0L, false))))
    // sf invariants: shared never exceeds the span count, flag is the
    // exact integer majority test, and identical-text dups (if any)
    // share their whole span set
    val sf13 = run("d13_span_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_shared"),
          r.getAs[Boolean]("dup_heavy")))).toMap
    assert(sf13.values.forall { case (n, s, h) => s <= n && h == (2 * s > n) })
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    docs.groupBy(_._2).values.filter(g =>
        g.length >= 2 && g.head._2.trim.toLowerCase.split("\\s+").length >= 16)
      .flatMap(_.map(_._1)).foreach { id =>
        val (n, s, _) = sf13(id)
        assert(s == n, s"exact-dup doc $id shares only $s of $n spans")
      }
  }

  test("d14 prefix dedup: templated families vs exact dups vs singletons") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit, col}
    val dir = java.nio.file.Files.createTempDirectory("d14").toString
    Seq(
      (0L, "p1 p2 p3 p4 p5 p6 p7 p8 body alpha"),   // shared prefix,
      (1L, "p1 p2 p3 p4 p5 p6 p7 p8 body beta"),    //   different bodies
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 same body"),    // exact dup pair
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 same body"),
      (4L, "a lone document with no shared opening whatsoever"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("d14_prefix_dedup", dir).collect()
      .map(r => r.getAs[Long]("keep_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_bodies"),
          r.getAs[Boolean]("templated")))).toMap
    // singleton 4 never appears; 0/1 are a templated family; 2/3 are an
    // exact-dup group (one body — d01's case, NOT flagged as template)
    assert(got == Map(0L -> ((2L, 2L, true)), 2L -> ((2L, 1L, false))))
  }

  test("m05 chunk dedup: aligned shared blocks, within-doc distinctness") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit, col}
    def block(c: Char): String = c.toString * 64
    val dir = java.nio.file.Files.createTempDirectory("m05").toString
    Seq(
      (0L, block('a') + block('b')),  // shares block a with 1/4/5
      (1L, block('a') + block('c')),
      (2L, block('d') + block('d')),  // same block twice → ONE distinct chunk
      (3L, block('e') + "tail bytes"),
      (4L, block('a') + block('f')),  // both blocks shared → dup_heavy
      (5L, block('f') + block('a')))  // aligned swap of 4
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("m05_chunk_dedup", dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_shared"),
          r.getAs[Boolean]("dup_heavy")))).toMap
    assert(got == Map(
      0L -> ((2L, 1L, false)), 1L -> ((2L, 1L, false)),
      2L -> ((1L, 0L, false)), 3L -> ((2L, 0L, false)),
      4L -> ((2L, 2L, true)), 5L -> ((2L, 2L, true))))
  }

  test("m08 blob containment pairs exactly the block-sharing payloads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit, col}
    def block(c: Char): String = c.toString * 64
    val dir = java.nio.file.Files.createTempDirectory("m08").toString
    Seq(
      (0L, block('a') + block('b')),
      (1L, block('a') + block('c')),
      (2L, block('d') + block('d')),  // unique content, no pair
      (3L, block('e') + "tail bytes"),
      (4L, block('a') + block('f')),
      (5L, block('f') + block('a')))  // aligned swap of 4: full containment
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("m08_blob_containment", dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("containment_bp")).toMap
    // block 'a' links {0,1,4,5} pairwise at 1/2 of the smaller side;
    // 4 and 5 share BOTH blocks → 100% containment
    assert(got == Map(
      (0L, 1L) -> 5000L, (0L, 4L) -> 5000L, (0L, 5L) -> 5000L,
      (1L, 4L) -> 5000L, (1L, 5L) -> 5000L, (4L, 5L) -> 10000L), got)
  }

  test("d19 threshold sweep: monotone in thr and reconciles with d18 at 8") {
    val rows = run("d19_threshold_sweep").collect()
      .sortBy(_.getAs[Long]("thr"))
    assert(rows.map(_.getAs[Long]("thr")).toSeq == Seq(3L, 8L, 16L))
    // loosening the threshold can only add detections and hits
    val det = rows.map(_.getAs[Long]("n_detected"))
    val hit = rows.map(_.getAs[Long]("n_hit"))
    assert(det.zip(det.tail).forall { case (a, b) => a <= b }, det.toSeq)
    assert(hit.zip(hit.tail).forall { case (a, b) => a <= b }, hit.toSeq)
    // n_true is threshold-independent
    assert(rows.map(_.getAs[Long]("n_true")).distinct.length == 1)
    // the thr=8 row IS d18's single-point evaluation
    val d18 = run("d18_detector_eval").collect().head
    val at8 = rows(1)
    assert(at8.getAs[Long]("n_detected") == d18.getAs[Long]("n_detected"))
    assert(at8.getAs[Long]("n_hit") == d18.getAs[Long]("n_hit"))
    assert(at8.getAs[Double]("precision") == d18.getAs[Double]("precision"))
    assert(at8.getAs[Double]("recall") == d18.getAs[Double]("recall"))
  }

  test("d20 calibration: exact copies saturate at 16/16, buckets reconcile " +
    "with the planted pair structure") {
    val rows = run("d20_minhash_calibration", plantedDir).collect()
      .sortBy(_.getAs[Long]("matches"))
    // est law holds on every row
    rows.foreach(r => assert(r.getAs[Long]("est_bp") ==
      r.getAs[Long]("matches") * 10000 / 16, r))
    // planted trigram-sharing pairs: (0,1),(0,3),(1,3) exact (J=1) and
    // (0,2),(1,2),(2,3) near (inter 15, union 21 → 7142 bp); doc 4 is
    // disjoint, doc 5's reversed order shares no trigram with the base
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == 6L, rows.toSeq)
    // identical docs have identical signatures: the 16-match bucket MUST
    // hold at least the three exact pairs...
    val b16 = rows.find(_.getAs[Long]("matches") == 16L).get
    val np16 = b16.getAs[Long]("n_pairs")
    assert(np16 >= 3L, b16)
    // ...and its average true Jaccard is exactly determined by how many
    // of the three 7142-bp near pairs (identical sigs among themselves)
    // happened to also fully agree
    assert(b16.getAs[Long]("avg_true_bp") ==
      (3L * 10000L + (np16 - 3L) * 7142L) / np16, b16)
    // the near pairs all land in ONE bucket (docs 0/1/3 share one sig)
    assert(rows.length <= 2, rows.toSeq)
  }

  test("d15 soft-dedup weights: per-group mass conserved, one canonical") {
    val rows = run("d15_soft_dedup_weights").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies"),
        r.getAs[Long]("weight_ppm"), r.getAs[Boolean]("canonical")))
    val docs = Tables(spark, sf, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    assert(rows.length == docs.length) // soft dedup keeps every doc
    val groups = docs.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
    val byDoc = rows.map(r => r._1 -> r).toMap
    groups.foreach { ids =>
      val n = ids.length.toLong
      ids.foreach { id =>
        val (_, copies, ppm, canon) = byDoc(id)
        assert(copies == n && ppm == 1000000L / n, s"doc $id")
        assert(canon == (id == ids.min), s"canonical flag doc $id")
      }
    }
    // a group's total weight is within one integer remainder of 10^6
    groups.foreach { ids =>
      val tot = ids.map(byDoc(_)._3).sum
      assert(tot <= 1000000L && tot > 1000000L - ids.length, ids.toString)
    }
  }

  test("d16 containment catches a quote pair symmetric Jaccard misses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d16").toString
    // doc 2 = doc 1's text embedded in a much longer page: containment
    // of 1 in 2 is 1.0 while Jaccard is far below d05's 0.5 threshold
    val quote = "alpha beta gamma delta epsilon zeta"
    val page = quote + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    Seq((1L, quote, "en", "a", quote.length.toLong),
        (2L, page, "en", "b", page.length.toLong),
        (3L, "unrelated words entirely different content here",
          "en", "c", 47L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("d16_containment_join", dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b")))
    assert(got.length == 1)
    val (a, b, ca, cb) = got.head
    assert(a == 1L && b == 2L)
    assert(ca == 1.0, s"containment of the quote must be exactly 1: $ca")
    assert(cb < 0.5, s"the page's own containment stays low: $cb")
    // ...and d05's symmetric-Jaccard join indeed misses the pair
    val d05 = run("d05_ngram_jaccard", dir).collect()
    assert(d05.isEmpty)
  }

  test("m06 blob entropy: planted extremes pin the verdicts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m06").toString
    // doc 1: one byte class only (H = 0, compressible); doc 2: 32 chars
    // spread evenly over 4 classes (H = ln 4 ≈ 1.3863, compressible);
    // doc 3: empty (H = 0 by convention)
    val single = "aaaaaaaaaaaaaaaa" // class 3 ('a' = 97 >> 5)
    val spread = ("\u0001 @a" * 8) // classes 0,1,2,3 evenly
    Seq((1L, single, "en", "a", single.length.toLong),
        (2L, spread, "en", "b", spread.length.toLong),
        (3L, "", "en", "c", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("m06_blob_entropy", dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Double]("entropy"),
          r.getAs[Boolean]("compressible")))).toMap
    assert(got(1L) == ((16L, 0.0, true)))
    val h4 = BigDecimal(java.math.BigDecimal.valueOf(
      math.log(32.0) - 4 * BigDecimal(java.math.BigDecimal.valueOf(
        8 * math.log(8.0))).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble / 32.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L)._1 == 32L && got(2L)._2 == h4 && got(2L)._3,
      s"${got(2L)} vs H=$h4")
    assert(got(3L) == ((0L, 0.0, true)))
  }

  test("d17 bloom-prefiltered incremental dedup = d10's exact verdicts") {
    // the bloom is an optimization, never a semantic: after the exact
    // verify join, every verdict must equal the broadcast-digest path's
    val d10 = run("d10_incremental_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val d17df = run("d17_bloom_incremental")
    val d17 = d17df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(d17 == d10 && d17.nonEmpty)
    // and the plan really goes through the native bloom machinery
    val p = d17df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p)
  }

  test("m07 magic sniff: every branch fires; priority order wins") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, coalesce, length}
    val dir = java.nio.file.Files.createTempDirectory("m07").toString
    val docs = Seq(
      (0L, "%PDF-1.7 stream"),      // pdf
      (1L, "PKzipdir"), // zip
      (2L, "GIF89a pixels"),        // gif
      (3L, "RIFF....WAVE"),         // riff
      (4L, "ID3v2 frames"),         // mp3
      (5L, """{"k": 1}"""),         // json
      (6L, "<html><body>"),         // markup
      (7L, "plain words here"),     // text
      (8L, null.asInstanceOf[String]), // NULL → '' → text
      // priority: '%PDF' beats the generic '<'/'{' fallthroughs and a
      // 'PK' prefix inside the string must NOT match mid-string
      (9L, "see PK inside"))        // text
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars",
        length(coalesce(col("text"), lit(""))).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("m07_magic_sniff", dir).collect()
      .map(r => r.getAs[String]("format") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_bytes")))).toMap
    Seq("pdf", "zip", "gif", "riff", "mp3", "json", "markup")
      .foreach(f => assert(got(f)._1 == 1L, f))
    assert(got("text")._1 == 3L) // docs 7, 8 (NULL), 9
    // byte mass reconciles with the planted payload lengths (UTF-8)
    assert(got.values.map(_._2).sum ==
      docs.map(d => Option(d._2).getOrElse("").getBytes("UTF-8").length).sum)
  }

  test("m09 payload profile: per-format median/mean/max are exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, coalesce, length}
    val dir = java.nio.file.Files.createTempDirectory("m09").toString
    Seq(
      (0L, "abcd"),           // text, 4 B
      (1L, "abcdef"),         // text, 6 B
      (2L, "0123456789"),     // text, 10 B
      (3L, """{"a":1}"""))    // json, 7 B
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars",
        length(coalesce(col("text"), lit(""))).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("m09_payload_profile", dir).collect()
      .map(r => r.getAs[String]("format") -> r).toMap
    val t0 = got("text")
    assert(t0.getAs[Long]("n_docs") == 3L && t0.getAs[Long]("n_bytes") == 20L, t0)
    assert(t0.getAs[Double]("med_bytes") == 6.0, t0)
    assert(t0.getAs[Long]("mean_cbytes") == 666L, t0) // 2000 div 3
    assert(t0.getAs[Long]("max_bytes") == 10L, t0)
    val j = got("json")
    assert(j.getAs[Double]("med_bytes") == 7.0 &&
      j.getAs[Long]("mean_cbytes") == 700L, j)
    // sf invariant: med <= max, mean within [min observed, max]*100
    run("m09_payload_profile").collect().foreach { r =>
      assert(r.getAs[Double]("med_bytes") <= r.getAs[Long]("max_bytes"), r)
      assert(r.getAs[Long]("mean_cbytes") <= r.getAs[Long]("max_bytes") * 100, r)
    }
  }

  test("d18 detector eval: counts cohere; planted dups expose the trade-off") {
    val Seq(sf0) = run("d18_detector_eval").collect().toSeq
    val (det, tru, hit) = (sf0.getAs[Long]("n_detected"),
      sf0.getAs[Long]("n_true"), sf0.getAs[Long]("n_hit"))
    assert(hit <= det && hit <= tru)
    // ratios replay via the exact integer 4-dp scheme
    def r4(num: Long, den: Long): Double =
      if (den == 0) 0.0 else ((num * 20000L + den) / (den * 2L)).toDouble / 10000.0
    assert(sf0.getAs[Double]("precision") == r4(hit, det))
    assert(sf0.getAs[Double]("recall") == r4(hit, tru))
    // planted: docs 0/1/3 identical (true dups, hamming 0 → detected +
    // true); doc 5 is doc 0 token-REVERSED — identical token multiset
    // (simhash 0 → detected) but disjoint trigram shingles (J ≈ 0 → not
    // true): the classic SimHash false positive the eval must surface
    val Seq(p) = run("d18_detector_eval", plantedDir).collect().toSeq
    val (pd, pt, ph) = (p.getAs[Long]("n_detected"),
      p.getAs[Long]("n_true"), p.getAs[Long]("n_hit"))
    assert(ph >= 3L)      // the identical trio is caught
    assert(pd > ph)       // the reversed copy inflates detections only
    assert(p.getAs[Double]("precision") < 1.0)
    assert(pt >= 3L)
  }

  test("d21 multisource dups: intra- vs cross-source clusters profiled exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("d21").toString
    Seq(
      (0L, "dup one", "s1"), (1L, "dup one", "s1"),      // 1-source cluster
      (2L, "mirrored", "s1"), (3L, "mirrored", "s2"),    // 2-source cluster
      (4L, "unique", "s1"))                              // singleton: excluded
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("d21_multisource_dups", dir).collect()
      .map(r => r.getAs[Long]("n_sources") -> r).toMap
    assert(got.keySet == Set(1L, 2L), got)
    assert(got(1L).getAs[Long]("n_clusters") == 1L &&
      got(1L).getAs[Long]("n_dup_docs") == 2L &&
      got(1L).getAs[Long]("n_redundant") == 1L, got(1L))
    assert(got(2L).getAs[Long]("n_clusters") == 1L &&
      got(2L).getAs[Long]("n_redundant") == 1L, got(2L))
    // reconciliation vs d01 on the sf corpus: same clusters, same docs
    val d01 = run("d01_dedup_exact").collect()
      .filter(_.getAs[Long]("dup_cnt") >= 2)
    val mine = run("d21_multisource_dups").collect()
    assert(mine.map(_.getAs[Long]("n_clusters")).sum == d01.length.toLong)
    assert(mine.map(_.getAs[Long]("n_dup_docs")).sum ==
      d01.map(_.getAs[Long]("dup_cnt")).sum)
  }

  test("d22 inflation: keep-first attributes mass to the keeper source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Files.createTempDirectory("d22").toString
    Seq(
      (0L, "x y z", "srcA"),   // keeper of the dup pair (min doc_id)
      (1L, "x y z", "srcB"),   // loses to doc 0 — srcB keeps none of it
      (2L, "a b", "srcB"))     // unique
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = run("d22_dup_inflation", d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("tok_total"), r.getAs[Long]("tok_kept"),
          r.getAs[Long]("inflation_bp")))).toMap
    assert(got("srcA") == ((1L, 1L, 3L, 3L, 10000L)), got)
    assert(got("srcB") == ((2L, 1L, 5L, 2L, 25000L)), got)
    // sf reconciliation: kept docs = distinct digests; inflation ≥ 10000
    // wherever any mass is kept
    val sfRows = run("d22_dup_inflation").collect()
    val distinctDigests = Tables(spark, sf, "documents")
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(sfRows.map(_.getAs[Long]("n_kept")).sum == distinctDigests)
    sfRows.filter(_.getAs[Long]("tok_kept") > 0)
      .foreach(r => assert(r.getAs[Long]("inflation_bp") >= 10000L, r))
  }

  test("d23 blocking sweep is a monotone nested curve with exact widths") {
    // a 16-bit chunk match implies both its 8-bit halves match, so the
    // detected/candidate sets are nested as k grows — the counts must be
    // nondecreasing, detected ⊆ candidates, widths exactly 64/k, and the
    // k=2 (hamming ≤ 1 guaranteed) scheme must already find the corpus's
    // exact-duplicate pairs (hamming 0)
    val rows = run("d23_blocking_width").collect()
    assert(rows.map(_.getAs[Long]("n_chunks")).toSeq == Seq(2L, 4L, 8L), rows.toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("chunk_bits") == 64L / r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("n_detected") <= r.getAs[Long]("n_candidates"), r)
    }
    val cand = rows.map(_.getAs[Long]("n_candidates")).toSeq
    val det = rows.map(_.getAs[Long]("n_detected")).toSeq
    assert(cand == cand.sorted && det == det.sorted, (cand, det))
    // exact dups have hamming 0 → caught at every width, so even the
    // narrowest scheme detects at least the d01 dup-pair count
    val exactPairs = run("d01_dedup_exact").collect()
      .map(r => { val n = r.getAs[Long]("dup_cnt"); n * (n - 1) / 2 }).sum
    assert(det.head >= exactPairs, s"k=2 detected ${det.head} < $exactPairs")
  }

  test("m10 per-format dedup profile counts cross-format sharing for both") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit, col}
    def block(c: Char): String = c.toString * 64
    val dir = java.nio.file.Files.createTempDirectory("m10").toString
    Seq(
      // json: two docs sharing a tail block → 4 chunks, 2 shared
      (0L, "{" + block('j').drop(1) + block('s')),
      (1L, "{" + block('j').drop(1) + block('t')),
      // the 's' block ALSO opens doc 2 (text format): cross-format
      // sharing counts on both sides
      (2L, block('s') + block('u')),
      // pdf: lone doc, nothing shared
      (3L, "%PDF" + block('p').drop(4)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("m10_format_dedup_profile", dir).collect()
      .map(r => r.getAs[String]("format") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_shared"),
          r.getAs[Long]("dup_bp")))).toMap
    // json: chunks {j,s},{j,t} → 4, shared j(2 docs) + s(cross) = 3
    // text: {s,u} → 2, shared s = 1 → 5000 bp; pdf: 1, 0
    assert(got == Map(
      "json" -> ((4L, 3L, 7500L)),
      "text" -> ((2L, 1L, 5000L)),
      "pdf" -> ((1L, 0L, 0L))), got)
    // sf: shared never exceeds total, bp bounded
    run("m10_format_dedup_profile").collect().foreach { r =>
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_chunks"), r)
      assert(r.getAs[Long]("dup_bp") <= 10000L, r)
    }
  }
}
