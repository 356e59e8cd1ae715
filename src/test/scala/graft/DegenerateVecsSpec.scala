package graft

/** Degenerate-vector robustness, the embeddings twin of
  * DegenerateDocsSpec: a real embedding pipeline ships NULL vectors
  * (failed encode), all-zero vectors (padding), and wrong-dimension
  * rows (mixed model versions). Cosines over these produce NULL/NaN —
  * the contract is that every embeddings operator materializes without
  * throwing and reruns identically, and that genuine near-neighbors
  * still surface amid the garbage.
  */
class DegenerateVecsSpec extends SparkSpecBase {

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-degvec").toString
    val dim = 64
    def unit(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == seed % dim) 1.0f else 0.001f * ((seed + i) % 7))
    val rows: Seq[(Long, Option[Array[Float]], Int)] = Seq(
      (0L, Some(unit(3)), 0),                  // query (vec_id < 5)
      (1L, None, 0),                           // NULL embedding (query range)
      (2L, Some(Array.fill(dim)(0.0f)), 0),    // zero vector (query range)
      (3L, Some(unit(9)), 1),
      (4L, Some(Array(1.0f, 2.0f)), 1),        // wrong dimension (query range)
      (5L, Some(unit(3)), 0),                  // near-copy of the query
      (6L, None, 0),                           // NULL in corpus range
      (7L, Some(Array.fill(dim)(0.0f)), 1),    // zero vector in corpus
      (8L, Some(Array(9.0f)), 2),              // wrong dimension in corpus
      (9L, Some(unit(9)), 1),                  // near-copy of doc 3
      (10L, Some(unit(21)), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private val vecOps = Seq(
    "a01_ann_bruteforce", "a02_ann_lsh", "a03_ivf_centroids",
    "a03b_ivf_nprobe2", "a04_pairwise_label", "a05_embedding_quantize",
    "a06_ann_quantized", "a07_ann_recall", "a08_ann_pq", "a09_ann_ivfpq",
    "d06_dedup_embedding",
    "d06b_dedup_embedding_lsh", "d12_semantic_dedup", "a10_range_search",
    "a11_nn_join", "a12_knn_classify", "a13_cell_quality",
    "a20_diverse_topk", "a21_silhouette", "a22_hard_negatives",
    "a23_cell_rebalance", "a24_embedding_drift", "a25_two_stage_rerank")

  test("every embeddings operator materializes and reruns identically on degenerate vectors") {
    val failures = vecOps.flatMap { name =>
      try {
        val first = run(name, dir).collect().map(_.toString).sorted.toSeq
        val second = run(name, dir).collect().map(_.toString).sorted.toSeq
        if (first == second) None
        else Some(s"$name: rerun differs (${first.size} vs ${second.size} rows)")
      } catch {
        case e: Throwable =>
          Some(s"$name threw: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    graft.operators.HotCache.releaseAll()
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("genuine neighbors still surface amid NULL/zero/misfit vectors") {
    // doc 5 is a near-copy of query 0: brute force must rank it first
    val a01 = run("a01_ann_bruteforce", dir).collect()
      .filter(r => r.getAs[Long]("q_id") == 0L && r.getAs[Long]("rk") == 1L)
    assert(a01.length == 1 && a01.head.getAs[Long]("vec_id") == 5L,
      a01.mkString(";"))
    // d06 exact near-dup: the planted (3,9) same-label pair must appear
    val d06 = run("d06_dedup_embedding", dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(d06.contains((3L, 9L)), d06.toString)
  }
}
