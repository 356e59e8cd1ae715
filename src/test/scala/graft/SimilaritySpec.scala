package graft

import java.nio.file.Files

class SimilaritySpec extends SparkSpecBase {

  /** Planted vectors: vec 10 == vec 0 (cosine exactly 1), vec 11 is the
    * negation of vec 0 (cosine -1), the rest deterministic pseudo-noise.
    */
  lazy val plantedDir: String = {
    val dir = Files.createTempDirectory("graft-emb").toString
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def v(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val v0 = v()
    val rows = (Seq((0L, v0, 0)) ++ (1L to 9L).map(i => (i, v(), (i % 4).toInt)) ++
      Seq((10L, v0.clone(), 1), (11L, v0.map(x => -x), 2)) ++
      (12L to 40L).map(i => (i, v(), (i % 4).toInt)))
      .toDF("vec_id", "embedding", "label")
    rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a01 brute force ranks the identical vector first with score 1.0") {
    val rows = run("a01_ann_bruteforce", plantedDir).collect()
    val top0 = rows.find(r => r.getAs[Long]("q_id") == 0L && r.getAs[Long]("rk") == 1L).get
    assert(top0.getAs[Long]("vec_id") == 10L)
    assert(top0.getAs[Double]("score") == 1.0)
    // negated vector must rank last of any returned for q 0
    val q0 = rows.filter(_.getAs[Long]("q_id") == 0L)
    assert(!q0.take(q0.length - 1).exists(_.getAs[Long]("vec_id") == 11L))
  }

  test("a02 LSH bucket contains the identical vector (same hyperplane signs)") {
    val rows = run("a02_ann_lsh", plantedDir).collect()
    val q0 = rows.filter(r => r.getAs[Long]("q_id") == 0L)
    assert(q0.nonEmpty)
    assert(q0.head.getAs[Long]("vec_id") == 10L) // identical vec: same bucket, rank 1
  }

  test("a03 IVF assigns identical vectors to the same cell and finds the dup") {
    val rows = run("a03_ivf_centroids", plantedDir).collect()
    val q0 = rows.filter(r => r.getAs[Long]("q_id") == 0L)
    assert(q0.nonEmpty && q0.head.getAs[Long]("vec_id") == 10L)
  }

  test("a03 trained IVF keeps usable recall@10 vs exact a01 on sf data") {
    def hits(name: String) = run(name).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = hits("a01_ann_bruteforce")
    val ivf = hits("a03_ivf_centroids")
    val recall = (ivf & exact).size.toDouble / exact.size
    info(f"a03 recall@10 vs a01: $recall%.3f")
    // single-cell probe of an 8-cell trained quantizer; measured 0.86 —
    // queries share a cell with most true neighbors once the centroids
    // are trained. Floor leaves margin for float-average wobble.
    assert(recall >= 0.60)
  }

  test("a03b nprobe=2 recall dominates a03: candidate cells are a superset") {
    def hits(name: String) = run(name).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = hits("a01_ann_bruteforce")
    val r1 = (hits("a03_ivf_centroids") & exact).size.toDouble / exact.size
    val r2 = (hits("a03b_ivf_nprobe2") & exact).size.toDouble / exact.size
    info(f"recall@10: a03 (nprobe=1) $r1%.3f -> a03b (nprobe=2) $r2%.3f")
    assert(r2 >= r1) // probe-1 cell is a03b's rank-1 probe: strict superset
  }

  test("a04 per-label stats cover every label on sf data") {
    val rows = run("a04_pairwise_label").collect()
    val labels = Tables(spark, sf, "embeddings").select("label").distinct().count()
    assert(rows.length == labels)
    assert(rows.forall(_.getAs[Double]("avg_norm") > 0))
  }

  test("a05 int8 quantization: codes replay exactly, max_err within scale/2") {
    val got = run("a05_embedding_quantize").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[Long]("qsum"),
         r.getAs[Long]("qabs"), r.getAs[Double]("max_err"))).toMap
    assert(got.nonEmpty)
    // round-off guarantee: reconstruction error never exceeds half a step
    // (compare on rounded values: outputs are 6-dp-rounded)
    got.values.foreach { case (scale, _, qabs, maxErr) =>
      assert(maxErr <= scale / 2 + 1e-6, s"err $maxErr > half-step of $scale")
      assert(qabs <= 127L * 64, "a code escaped the int8 range")
    }
    // exact replay of the double arithmetic on the raw vectors
    val emb = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq.map(_.toDouble))
    emb.foreach { case (id, e) =>
      val scale = e.map(math.abs).max / 127.0
      // portable half-away rounding: floor(|x|+0.5) with explicit sign
      // (same IEEE ops as the operator and the DuckDB oracle)
      val q2 = e.map { v =>
        val r = v / scale
        (if (r >= 0) math.floor(r + 0.5) else -math.floor(-r + 0.5)).toLong
      }
      val maxErr = q2.zip(e).map { case (qv, xv) =>
        math.abs(qv * scale - xv) }.max
      val (gs, gsum, gabs, gerr) = got(id)
      assert(gs == BigDecimal(scale).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, s"vec $id scale")
      assert(gsum == q2.sum, s"vec $id qsum")
      assert(gabs == q2.map(math.abs).sum, s"vec $id qabs")
      assert(math.abs(gerr - BigDecimal(maxErr).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-9, s"vec $id err")
    }
  }

  test("a06 quantized top-10 keeps high recall vs exact float a01") {
    def top10(name: String) = run(name).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = top10("a01_ann_bruteforce")
    val quant = top10("a06_ann_quantized")
    assert(quant.keySet == exact.keySet)
    val recalls = exact.map { case (q, s) =>
      quant(q).intersect(s).size.toDouble / s.size }
    info(f"a06 per-query recall@10: ${recalls.toSeq.sortBy(identity).mkString(", ")}")
    // int8 symmetric quantization preserves most of the top-10; the
    // floor leaves margin for genuinely borderline neighbors
    assert(recalls.forall(_ >= 0.5))
    assert(recalls.sum / recalls.size >= 0.7)
  }

  test("a08 PQ ranks the identical planted vector first (codes collapse)") {
    // vec 10 clones query 0's vector, so their 8 subvectors encode to
    // identical codes and the ADC distance is the minimum achievable —
    // PQ must put the clone at rank 1 for q0
    val a08 = run("a08_ann_pq", plantedDir).collect()
      .filter(r => r.getAs[Long]("q_id") == 0L && r.getAs[Long]("rk") == 1L)
    assert(a08.length == 1 && a08.head.getAs[Long]("vec_id") == 10L,
      a08.mkString(";"))
  }

  test("a08 PQ top-10 keeps usable recall vs exact a01 on sf data") {
    // embeddings are unit-norm (L2² = 2 − 2·cos), so the ADC ranking is
    // directly comparable to a01's cosine ranking
    def top10(name: String) = run(name).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = top10("a01_ann_bruteforce")
    val pq = top10("a08_ann_pq")
    assert(pq.keySet == exact.keySet)
    val recalls = exact.map { case (q, s) =>
      pq(q).intersect(s).size.toDouble / s.size }
    info(f"a08 per-query recall@10: ${recalls.toSeq.sortBy(identity).mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.3,
      s"mean PQ recall ${recalls.sum / recalls.size}")
  }

  test("a09 IVF+PQ ranks the identical planted vector first in its cell") {
    // vec 10 clones query 0: identical cosine profile → same coarse
    // cell, identical PQ codes → minimum ADC distance → rank 1
    val rows = run("a09_ann_ivfpq", plantedDir).collect()
      .filter(r => r.getAs[Long]("q_id") == 0L && r.getAs[Long]("rk") == 1L)
    assert(rows.length == 1 && rows.head.getAs[Long]("vec_id") == 10L,
      rows.mkString(";"))
  }

  test("a09 agrees with a08 on shared hits and keeps usable recall vs a01") {
    def rows(name: String) = run(name).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("adc"))
    val pq = rows("a08_ann_pq").toMap
    val ivfpq = rows("a09_ann_ivfpq")
    // shared (q, vec) hits score IDENTICALLY — same trained codebook,
    // same exact-decimal ADC sum; a09 only prunes candidates
    ivfpq.foreach { case (k, adc) =>
      pq.get(k).foreach(a => assert(a == adc, s"$k: a09 adc $adc, a08 $a")) }
    val exact = run("a01_ann_bruteforce").collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val got = ivfpq.map(_._1).groupBy(_._1)
      .map { case (q, ks) => q -> ks.map(_._2).toSet }
    val recalls = exact.map { case (q, s) =>
      got.getOrElse(q, Set.empty).intersect(s).size.toDouble / s.size }
    info(f"a09 per-query recall@10: ${recalls.toSeq.sortBy(identity).mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.2,
      s"mean IVF+PQ recall ${recalls.sum / recalls.size}")
  }

  test("d12 semantic dedup flags the planted clone with its original as rep") {
    val out = run("d12_semantic_dedup", plantedDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_near"), r.getAs[Long]("dup_of"))).toMap
    // vec 10 clones vec 0 (cos exactly 1): same trained cell, removed
    // under min-id survivorship with vec 0 as its representative
    assert(out.contains(10L), s"clone not flagged: $out")
    assert(out(10L)._2 == 0L, s"clone rep: ${out(10L)}")
    // removal-list invariants: a rep is always a lower id, counts >= 1
    out.foreach { case (v, (n, rep)) =>
      assert(rep < v && n >= 1L, s"vec $v: n_near $n, dup_of $rep") }
  }

  test("a07 recall rows = independently recomputed a01 ∩ a02 overlap") {
    def top10(name: String) = run(name).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = top10("a01_ann_bruteforce")
    val approx = top10("a02_ann_lsh")
    val got = run("a07_ann_recall").collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k"))).toMap
    assert(got.keySet == exact.keySet) // every query scored, even recall-0
    got.foreach { case (q, (hits, recall)) =>
      val want = approx.getOrElse(q, Set.empty).intersect(exact(q)).size
      assert(hits == want, s"q$q: a07 says $hits hits, recompute says $want")
      assert(recall == hits.toDouble / 10)
    }
  }

  test("a10 range search: planted ball membership and empty-ball rows") {
    // plantedDir: vec 10 == vec 0 (cos exactly 1 → inside any ball),
    // vec 11 = −vec 0 (cos −1 → outside)
    val got = run("a10_range_search", plantedDir).collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("n_in_range"), Option(r.getAs[Any]("best_vec")),
          Option(r.getAs[Any]("best_score"))))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L)) // every query, always
    val (n0, best0, score0) = got(0L)
    assert(n0 >= 1 && best0.contains(10L) && score0.contains(1.0))
    // empty balls report 0 with NULL best, never a dropped row
    got.values.foreach { case (n, b, s) =>
      assert((n == 0) == b.isEmpty && b.isEmpty == s.isEmpty)
    }
    // driver replay on sf data: same count and best per query
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = vecs.filter(_._1 < 5); val corpus = vecs.filter(_._1 >= 5)
    val sfGot = run("a10_range_search").collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("n_in_range"), Option(r.getAs[Any]("best_vec"))))).toMap
    queries.foreach { case (q, qv) =>
      val inBall = corpus.map { case (id, v) => id -> cos(qv, v) }
        .filter(_._2 >= 0.75)
      val want = inBall.length.toLong
      val wantBest = inBall.sortBy { case (id, sc) => (-sc, id) }
        .headOption.map(_._1)
      assert(sfGot(q) == ((want, wantBest)), s"q$q mismatch")
    }
  }

  test("a11 nn-join: full left coverage, right-side nns, sane cell recall") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)
    val odd = vecs.filter(_._1 % 2 == 1); val even = vecs.filter(_._1 % 2 == 0)
    val got = run("a11_nn_join").collect()
      .map(r => r.getAs[Long]("l_id") ->
        ((Option(r.getAs[Any]("nn_id")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("cos")).map(_.asInstanceOf[Double])))).toMap
    assert(got.keySet == odd.map(_._1).toSet) // one row per left vector
    assert(got.values.flatMap(_._1).forall(_ % 2 == 0)) // nns are rights
    // recall vs the GLOBAL (unblocked) nearest neighbor: misses can come
    // only from cell pruning, and on the clustered sf embeddings the
    // within-cluster NN shares the cell most of the time
    val globalNN = odd.map { case (id, v) =>
      id -> even.map { case (rid, rv) => (rid, cos(v, rv)) }
        .sortBy { case (rid, c) => (-c, rid) }.head
    }.toMap
    val hits = odd.count { case (id, _) =>
      got(id)._1.contains(globalNN(id)._1) }
    val recall = hits.toDouble / odd.length
    assert(recall >= 0.5, s"cell-blocked NN recall $recall")
    // where the blocked NN is the global NN, the score must match the
    // driver replay at the shipped 4-dp rounding
    odd.foreach { case (id, _) =>
      if (got(id)._1.contains(globalNN(id)._1))
        assert(math.abs(got(id)._2.get - globalNN(id)._2) < 5e-5)
    }
  }

  test("a12 knn vote: planted majority + tie-to-smallest-label; sf replay") {
    import spark.implicits._
    // query 21 (21 % 20 == 1) = e0 with true label 3; five even corpus
    // vectors cluster around e0 with labels 7,7,3,3,1 → vote tie 7 vs 3
    // at 2 → tie-break picks label 3 → correct. Vector 10 points the
    // other way: rank 6, must never enter the vote.
    def unit(tilt: Float): Array[Float] = {
      val a = new Array[Float](64); a(0) = 1f; a(1) = tilt; a
    }
    val dir = java.nio.file.Files.createTempDirectory("a12").toString
    (Seq(
      (21L, unit(0f), 3),
      (0L, unit(0.01f), 7), (2L, unit(0.02f), 7),
      (4L, unit(0.03f), 3), (6L, unit(0.04f), 3),
      (8L, unit(0.05f), 1),
      (10L, unit(0f).map(x => -x), 9)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = run("a12_knn_classify", dir).collect()
    assert(planted.length == 1)
    val r0 = planted.head
    assert(r0.getAs[Long]("q_id") == 21L)
    assert(r0.getAs[Int]("pred_label") == 3)
    assert(r0.getAs[Long]("n_votes") == 2L)
    assert(r0.getAs[Boolean]("correct"))

    // sf replay: exact kNN vote recomputed driver-side
    val vecs = Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray,
        r.getAs[Int]("label")))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = vecs.filter(_._1 % 2 == 0)
    val expect = vecs.filter(_._1 % 20 == 1).map { case (q, qv, ql) =>
      val top5 = corpus.map { case (id, v, l) => (id, cos(qv, v), l) }
        .sortBy { case (id, sc, _) => (-sc, id) }.take(5)
      val votes = top5.groupBy(_._3).map { case (l, xs) => l -> xs.length }
      val (pred, nv) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      q -> ((pred, nv.toLong, ql, pred == ql))
    }.toMap
    val got = run("a12_knn_classify").collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Int]("pred_label"), r.getAs[Long]("n_votes"),
          r.getAs[Int]("true_label"), r.getAs[Boolean]("correct")))).toMap
    assert(got == expect)
  }

  test("a13 cell quality: cells partition the corpus, cohesion is sane") {
    val rows = run("a13_cell_quality").collect()
    val n = Tables(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n)
    assert(rows.length <= 8) // at most the 8 trained cells
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_cos"); val mn = r.getAs[Double]("min_cos")
      assert(mn <= avg + 1e-9, r.toString)
      assert(avg <= 1.0001 && mn >= -1.0001, r.toString)
    }
    // a planted tight cluster audits at cohesion ~1: every member equals
    // its seed, so each populated cell's centroid IS the member vector
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a13").toString
    val base = Array.tabulate(8) { k =>
      val a = new Array[Float](64); a(k) = 1f; a
    }
    (0L until 32L).map(i => (i, base((i % 8).toInt).clone(), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = run("a13_cell_quality", dir).collect()
    assert(planted.map(_.getAs[Long]("n_vecs")).sum == 32L)
    planted.foreach { r =>
      assert(r.getAs[Double]("avg_cos") == 1.0, r.toString)
      assert(r.getAs[Double]("min_cos") == 1.0, r.toString)
    }
  }

  test("a14 mips: exact driver-side replay of the dot-product top-k") {
    val rows = run("a14_mips").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id")))
    // recompute: sequential double dot product, rank desc with id tiebreak
    val all = Tables(spark, sf, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val (qs, cs) = all.partition(_._1 < 5L)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val expect = qs.flatMap { case (qid, qv) =>
      cs.map { case (vid, v) => (qid, vid, dot(qv, v)) }
        .sortBy { case (_, vid, sc) => (-sc, vid) }
        .take(10).zipWithIndex
        .map { case ((_, vid, _), i) => (qid, i + 1L, vid) }
    }.toSet
    assert(rows.toSet == expect && rows.nonEmpty)
    // norm-sensitivity probe on PLANTED vectors (the sf embeddings are
    // ~unit-norm, where MIPS and cosine legitimately agree): a short
    // vector pointing exactly at the query must win cosine (cos=1) but
    // lose MIPS to a long slightly-off-axis vector
    import spark.implicits._
    val dir = Files.createTempDirectory("a14").toString
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](64); xs.foreach { case (i, x) => a(i) = x }; a
    }
    Seq(
      (0L, v(0 -> 1f), 0),            // query: e0
      (10L, v(0 -> 0.1f), 0),         // tiny, perfectly aligned
      (11L, v(0 -> 5f, 1 -> 1f), 0))  // long, slightly off-axis
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = run("a14_mips", dir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("vec_id")))
    assert(planted.toSeq.sorted == Seq((1L, 11L), (2L, 10L)))
  }

  test("a15 recall curve: reconciles with a07; planted clusters hit 1.0") {
    val curve = run("a15_recall_curve").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("recall"))).sortBy(_._1)
    assert(curve.map(_._1).sameElements(1L to 10L))
    // hits can only accumulate as k grows; recall stays in [0,1]
    val hs = curve.map(_._2)
    assert(hs.zip(hs.tail).forall { case (a, b) => a <= b })
    assert(curve.forall(c => c._3 >= 0 && c._3 <= 1))
    // k=10 reconciles with a07's per-query recalls: same join, summed
    val a07hits = run("a07_ann_recall").collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(curve.last._2 == a07hits)
    // planted: 5 query directions × 9 members each (cos 1 within, 0
    // across) — the LSH bucket holds the whole cluster, so the curve is
    // exactly 1.0 through k = 8 (the non-query same-direction count)
    import spark.implicits._
    val dir = Files.createTempDirectory("a15").toString
    (0L until 45L).map { i =>
      val a = new Array[Float](64); a((i % 5L).toInt) = 1f; (i, a, 0)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = run("a15_recall_curve", dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("recall")).toMap
    (1L to 8L).foreach(k => assert(planted(k) == 1.0, s"k=$k"))
  }

  test("a16 hybrid search: RRF fusion replays from the rank columns") {
    val rows = run("a16_hybrid_search").collect()
    assert(rows.length == 20)
    def rk(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    rows.foreach { r =>
      val want = rk(r, "lex_rank").map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rk(r, "vec_rank").map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == want, r.toString) // bit-exact
    }
    // the query vector is doc 0's own embedding → vec_rank 1 IS doc 0
    val doc0 = rows.find(_.getAs[Long]("doc_id") == 0L)
    assert(doc0.exists(r => rk(r, "vec_rank").contains(1L)))
    // output is sorted by fused score
    val scores = rows.map(_.getAs[Double]("rrf"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // fusion actually fuses: some returned doc carries BOTH ranks
    assert(rows.exists(r => rk(r, "lex_rank").isDefined &&
      rk(r, "vec_rank").isDefined))
  }

  test("a17 k-means step: memberships partition; planted clusters don't move") {
    val rows = run("a17_kmeans_step").collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_assigned"),
        r.getAs[Long]("move_e12")))
    // every trained cell reports; memberships partition the corpus
    assert(rows.map(_._1).sorted.sameElements(rows.map(_._1).distinct.sorted))
    assert(rows.map(_._2).sum == Tables(spark, sf, "embeddings").count())
    assert(rows.forall(_._3 >= 0L))
    // planted: 8 axis-aligned clusters seeded BY their own members —
    // iteration 2 reassigns identically and means don't move at all
    import spark.implicits._
    val dir = Files.createTempDirectory("a17").toString
    (0L until 64L).map { i =>
      val a = new Array[Float](64); a((i % 8L).toInt) = 1f; (i, a, 0)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val planted = run("a17_kmeans_step", dir).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_assigned"),
        r.getAs[Long]("move_e12")))
    assert(planted.length == 8)
    assert(planted.forall(_._2 == 8L)) // 64 vecs / 8 cells
    assert(planted.forall(_._3 == 0L)) // converged: zero movement
  }

  test("a18 truncation eval: bounded recalls; in-prefix clusters lose nothing") {
    val rows = run("a18_mrl_eval").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= 10L)
      assert(r.getAs[Double]("recall_at_k") == h.toDouble / 10)
    }
    // planted: 5 directions living entirely in dims 0..4 (< the 16-dim
    // prefix) — truncation is lossless, recall must be exactly 1.0
    import spark.implicits._
    val dir = Files.createTempDirectory("a18").toString
    (0L until 60L).map { i =>
      val a = new Array[Float](64); a((i % 5L).toInt) = 1f; (i, a, 0)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val planted = run("a18_mrl_eval", dir).collect()
    assert(planted.length == 5)
    planted.foreach(r => assert(r.getAs[Double]("recall_at_k") == 1.0))
  }

  test("a19 filtered ANN: post-filter ⊆ depth-50; single-label corpus is lossless") {
    val rows = run("a19_filtered_ann").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nf = r.getAs[Long]("n_postfilter"); val h = r.getAs[Long]("n_hits")
      assert(nf <= 10L && h <= nf) // hits only among survivors
      assert(r.getAs[Double]("recall_vs_prefilter") == h.toDouble / 10)
    }
    // post-filtering genuinely loses something on the mixed-label corpus
    assert(rows.exists(_.getAs[Double]("recall_vs_prefilter") < 1.0))
    // single-label planted corpus: the predicate filters nothing, so
    // post-filter ≡ pre-filter and recall is exactly 1.0 everywhere
    import spark.implicits._
    val dir = Files.createTempDirectory("a19").toString
    (0L until 40L).map { i =>
      val a = new Array[Float](64); a((i % 4L).toInt) = 1f; (i, a, 0)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val planted = run("a19_filtered_ann", dir).collect()
    assert(planted.nonEmpty)
    planted.foreach(r =>
      assert(r.getAs[Double]("recall_vs_prefilter") == 1.0, r.toString))
  }

  test("a20 diversified top-k keeps exactly one candidate per label facet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("a20").toString
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // query 0 = e0; label 0 holds the exact match AND a near-copy (only
    // the best may surface), label 2 a 45° vector, label 1 an orthogonal
    Seq(
      (0L, v(1, 0, 0, 0), 0),
      (5L, v(1, 0, 0, 0), 0),       // cos 1.0   — label 0's best
      (6L, v(0.9, 0.1, 0, 0), 0),   // shadowed by vec 5
      (7L, v(0, 1, 0, 0), 1),       // cos 0.0
      (8L, v(0.5, 0.5, 0, 0), 2))   // cos ~0.7071
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val rows = run("a20_diverse_topk", dir).collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Int]("label"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    assert(rows.toSeq == Seq(
      (1L, 0, 5L, 1.0), (2L, 2, 8L, 0.7071), (3L, 1, 7L, 0.0)), rows.toSeq)
    // sf data: one row per (query, label) at most, rk dense from 1
    val sfRows = run("a20_diverse_topk").collect()
    val perQ = sfRows.groupBy(_.getAs[Long]("q_id")).values.toSeq
    perQ.foreach { g =>
      assert(g.map(_.getAs[Int]("label")).distinct.length == g.length)
      assert(g.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to g.length.toLong).toSeq)
    }
  }

  test("a21 silhouette: orthogonal tight clusters score exactly 1") {
    // sf run: silhouettes bounded, cells partition the corpus
    val rows = run("a21_silhouette").collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      Tables(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_sil"); val mn = r.getAs[Double]("min_sil")
      assert(mn <= avg + 1e-9 && avg <= 1.0001 && mn >= -1.0001, r.toString)
    }
    // planted: members equal their seed, seeds orthogonal → a = 0,
    // b = 1 − 0 = 1 ⇒ s = 1 for every vector in every cell
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a21").toString
    val base = Array.tabulate(8) { k =>
      val a = new Array[Float](64); a(k) = 1f; a
    }
    (0L until 32L).map(i => (i, base((i % 8).toInt).clone(), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = run("a21_silhouette", dir).collect()
    assert(planted.map(_.getAs[Long]("n_vecs")).sum == 32L)
    planted.foreach { r =>
      assert(r.getAs[Double]("avg_sil") == 1.0, r.toString)
      assert(r.getAs[Double]("min_sil") == 1.0, r.toString)
    }
  }

  test("a22 hard negatives: a planted mislabeled point flags label_noise") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("a22").toString
    def axis(k: Int): Array[Float] = {
      val a = new Array[Float](64); a(k) = 1f; a
    }
    // q0 (label 0, axis 0): same-label vec 10 on axis 0 (score 1),
    //   cross-label vec 11 on axis 1 (score 0) → margin 1, clean.
    // q1 (label 0, axis 2): nearest neighbor vec 12 is CROSS-label on
    //   axis 2 (score 1) while the best same-label vec 13 only projects
    //   0.6 onto axis 2 → margin −0.4, label-noise candidate.
    val v13 = new Array[Float](64); v13(2) = 0.6f; v13(3) = 0.8f
    Seq((0L, axis(0), 0), (1L, axis(2), 0),
      (10L, axis(0), 0), (11L, axis(1), 1),
      (12L, axis(2), 1), (13L, v13, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = run("a22_hard_negatives", dir).collect()
      .map(r => r.getAs[Long]("q_id") -> r).toMap
    val q0 = got(0L)
    assert(q0.getAs[Long]("pos_id") == 10L && q0.getAs[Long]("neg_id") == 11L, q0)
    assert(q0.getAs[Double]("margin") == 1.0 && !q0.getAs[Boolean]("label_noise"), q0)
    val q1 = got(1L)
    assert(q1.getAs[Long]("pos_id") == 13L && q1.getAs[Long]("neg_id") == 12L, q1)
    assert(q1.getAs[Double]("margin") == -0.4 && q1.getAs[Boolean]("label_noise"), q1)
    // sf invariants: margin is exactly pos−neg; noise ⇔ negative margin
    run("a22_hard_negatives").collect().foreach { r =>
      val (p, n, m) = (r.getAs[Double]("pos_score"),
        r.getAs[Double]("neg_score"), r.getAs[Double]("margin"))
      assert(math.abs(m - (p - n)) < 5e-5, r)
      assert(r.getAs[Boolean]("label_noise") == (n > p), r)
    }
  }

  test("a23 rebalance plan: occupancy reconciles and verdicts replay") {
    val rows = run("a23_cell_rebalance").collect()
    assert(rows.length == 8) // every trained cell reports, even empty
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == Tables(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("share_bp") == n * 10000 / total, r)
      val want =
        if (n * 16 > total * 3) "split"
        else if (n * 16 < total) "merge"
        else "ok"
      assert(r.getAs[String]("verdict") == want, r)
    }
  }

  test("a24 drift: identical halves score exactly 1.0; sf halves agree") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("a24").toString
    // even ids and their odd successors carry the SAME vector: the
    // half-centroids coincide, so drift_cos must be exactly 1.0
    (0 until 40).map { i =>
      val base = (i / 2) * 2 // odd id copies its even predecessor
      (i.toLong,
        Array.tabulate(64)(j => ((base * 64 + j) % 97 / 97.0f)),
        base % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val planted = run("a24_embedding_drift", d).collect()
    assert(planted.nonEmpty)
    planted.foreach { r =>
      assert(r.getAs[Double]("drift_cos") == 1.0, r)
      assert(!r.getAs[Boolean]("drifting"), r)
    }
    // sf corpus: counts reconcile; the near-zero-mean sf labels have no
    // stable centroid direction (cos ≈ 0 → flagged), which is exactly
    // what the audit should report before anyone trusts centroid-based
    // ops on them — the planted corpus above carries the stable case
    val sfRows = run("a24_embedding_drift").collect()
    assert(sfRows.map(r =>
      r.getAs[Long]("n_even") + r.getAs[Long]("n_odd")).sum ==
      Tables(spark, sf, "embeddings").count())
    sfRows.foreach { r =>
      val c = r.getAs[Double]("drift_cos")
      assert(c >= -1.0 && c <= 1.0, r)
      assert(r.getAs[Boolean]("drifting") == (c < 0.999), r)
    }
  }

  test("a25 two-stage rerank: recall ≥ the shortlist can't lose what it keeps") {
    // every query scored; with a 50-deep int8 shortlist over the
    // clustered sf embeddings the exact top-10 survives quantization
    val got = run("a25_two_stage_rerank").collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k")))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L), got.keySet)
    got.foreach { case (q, (hits, recall)) =>
      assert(hits >= 0L && hits <= 10L, s"q$q hits=$hits")
      assert(recall == hits.toDouble / 10, s"q$q recall mismatches hits")
      assert(recall >= 0.9, s"q$q: int8@50 shortlist lost the top-10")
    }
  }
}
