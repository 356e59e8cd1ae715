package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpecBase {

  /** Planted purchase graph (see [[Planted.purchaseGraph]]). */
  lazy val plantedDir: String = Planted.purchaseGraph(spark)

  test("g01 ranks the structural hubs first on the planted graph") {
    val rows = run("g01_pagerank", plantedDir).collect()
    assert(rows.length == 7) // 4 customers + 3 suppliers
    val top2 = rows.take(2)
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_key")))
      .toSet
    // degree-3 hubs on both sides outrank every leaf
    assert(top2 == Set(("customer", 1L), ("supplier", 10L)))
    // leaf supplier 11 (only neighbor: the hub customer) ranks below
    // supplier 12 (neighbors: hub + leaf customer 4)
    val rank = rows.map(r => (r.getAs[String]("node_type"),
      r.getAs[Long]("node_key")) -> r.getAs[Long]("rank")).toMap
    assert(rank(("supplier", 12L)) > rank(("supplier", 11L)))
  }

  test("g01 rank mass stays within the damped-loss envelope") {
    val rows = run("g01_pagerank", plantedDir).collect()
    // integer floors only ever LOSE sub-unit mass; with d=0.85 and all
    // nodes present in the top-20 here, total mass stays within
    // [0.85 * N * R0, N * R0]
    val total = rows.map(_.getAs[Long]("rank")).sum
    val n = rows.length
    assert(total <= n * 1000000000000L)
    assert(total >= (n * 1000000000000L * 85L) / 100L)
  }

  test("g01 is deterministic across partition counts") {
    val a = run("g01_pagerank", plantedDir).collect().map(_.toSeq)
    val b = run("g01_pagerank", plantedDir)
      .repartition(7).sortWithinPartitions("rank").collect().map(_.toSeq)
    assert(a.toSet == b.toSet)
  }

  test("g01 DECIMAL(38,0) accumulator is bit-equal to the int64 path " +
       "(planted graph AND sf)") {
    // the decimal path is the >10^6-node accumulator (int64 rank mass
    // overflows there); same damped integer recurrence, so every rank
    // must agree exactly — compare as BigDecimal to bridge the output
    // type (LONG vs DECIMAL(38,0))
    def ranksOf(dir: String) = run("g01_pagerank", dir).collect().map { r =>
      (r.getAs[String]("node_type"), r.getAs[Long]("node_key"),
        BigDecimal(r.get(2).toString))
    }.toSeq
    for (dir <- Seq(plantedDir, sf)) {
      val int64 = ranksOf(dir)
      val dec = operators.PlanPin.during(
        operators.PlanPin(decimalRanks = Some(true)))(ranksOf(dir))
      assert(dec == int64, s"decimal path diverged on $dir")
    }
  }

  test("g02 degree histogram matches the planted structure") {
    val rows = run("g02_degree_histogram", plantedDir).collect()
    val hist = rows.map(r => (r.getAs[String]("node_type"),
      r.getAs[Long]("deg")) -> r.getAs[Long]("n_nodes")).toMap
    // customers: one degree-3 hub, three degree-1 leaves
    assert(hist(("customer", 3L)) == 1L)
    assert(hist(("customer", 1L)) == 3L)
    // suppliers: 10 has 3 customers, 12 has 2, 11 has 1
    assert(hist(("supplier", 3L)) == 1L)
    assert(hist(("supplier", 2L)) == 1L)
    assert(hist(("supplier", 1L)) == 1L)
  }

  test("g03 components: planted graph splits into the two known islands") {
    // plantedDir's graph: {1,2,3,10,11,12} all connect through customer
    // 1 / supplier 10... except customer 4—supplier 12 bridges in too:
    // one component of 7. Add an isolated pair via a second planted dir.
    val one = run("g03_components", plantedDir).collect()
      .map(r => r.getAs[Long]("sz") -> r.getAs[Long]("n_components")).toMap
    assert(one == Map(7L -> 1L))
    // two disjoint purchase islands → two components of the right sizes
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g03").toString
    val pairs = Seq((1L, 10L), (2L, 10L), (5L, 20L)) // {1,2,10} and {5,20}
    pairs.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val two = run("g03_components", dir).collect()
      .map(r => r.getAs[Long]("sz") -> r.getAs[Long]("n_components")).toMap
    assert(two == Map(2L -> 1L, 3L -> 1L))
  }

  test("g04 co-purchase counts orders (not lines) and ranks pairs deterministically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-basket").toString
    // order 1 holds parts {1,2,3} with part 2 on TWO lines (the dup
    // line must count once); orders 2 and 3 hold {1,2}; order 4 is a
    // single-part basket (contributes no pair)
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 2L),
        (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L), (4L, 5L))
      .toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = run("g04_copurchase", dir).collect()
    val m = rows.map(r => (r.getAs[Long]("p1"), r.getAs[Long]("p2")) ->
      r.getAs[Long]("n_orders")).toMap
    assert(m == Map((1L, 2L) -> 3L, (1L, 3L) -> 1L, (2L, 3L) -> 1L), m)
    // ordering: count desc, then (p1, p2) asc on the tie
    assert(rows.map(r => (r.getAs[Long]("p1"), r.getAs[Long]("p2")))
      .toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("g05 supplier overlap: exact Jaccard; hub customer is capped out") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-overlap").toString
    // customers 1,2 each buy from suppliers 10 and 11 (shared=2);
    // customer 3 buys from 10 only; customer 99 is a HUB buying from
    // 70 suppliers incl. 10 and 11 — the cap (>64) must exclude it from
    // pair generation while its edges still count toward degrees
    val pairs = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L)) ++
      (0L until 70L).map(k => (99L, 100L + k)) ++
      Seq((99L, 10L), (99L, 11L))
    val orders = pairs.zipWithIndex
      .map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.zipWithIndex
      .map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey")
    orders.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    lineitem.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val got = run("g05_supplier_overlap", dir).collect()
      .map(r => (r.getAs[Long]("s1"), r.getAs[Long]("s2")) ->
        ((r.getAs[Long]("shared"), r.getAs[Long]("jaccard_bp")))).toMap
    // only (10,11) pairs via the small customers: shared = {1,2};
    // degrees INCLUDE the hub: deg(10)=4, deg(11)=3 → J = 2/5
    assert(got.keySet == Set((10L, 11L)), got)
    assert(got((10L, 11L)) == ((2L, 4000L)), got)
  }

  test("g05 without a supplier table reports its failed id-bound probe once") {
    // the absent table is never memoized, so each evaluation of the bound
    // probes the absence again and prints its fallback line again
    val dir = Planted.purchaseGraph(spark)
    val buf = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val (_, _, failed) =
      try queriesDuring(run("g05_supplier_overlap", dir))
      finally System.setErr(saved)
    val lines = buf.toString.linesIterator
      .filter(_.contains("cannot probe supplier.s_suppkey")).toSeq
    assert(lines.length == 1, buf.toString)
    // and the absence is read off the file listing: no query fails
    assert(failed.isEmpty, failed)
  }

  test("g06 k-core peels the pendant, keeps the K33 core, reaches a fixed point") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kcore").toString
    // customers {1,2,3} × suppliers {10,11,12} fully connected (every
    // node degree 3 — the 3-core) plus pendant customer 4 on supplier
    // 10: round 1 peels the pendant (degree 1), nothing else ever drops
    val pairs = (for (c <- 1L to 3L; su <- 10L to 12L) yield (c, su)) :+
      ((4L, 10L))
    pairs.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = run("g06_kcore", dir).collect()
      .map(r => r.getAs[Long]("round") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges")))).toMap
    assert(got(0L) == ((7L, 10L)), got)
    (1L to 4L).foreach(r => assert(got(r) == ((6L, 9L)), s"round $r: $got"))
  }

  private def purchases(pairs: Seq[(Long, Long)]): String =
    Planted.purchases(spark, pairs)

  private def kcoreRows(dir: String): Seq[(Long, Long, Long)] =
    run("g06_kcore", dir).collect().map(r => (r.getAs[Long]("round"),
      r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))).toSeq

  /** The edge-peeling loop g06 ran before its peel state became the
    * degree table: each round semi-joins the PREVIOUS round's edges
    * against its degree-≥3 nodes, and each trace row is counted off the
    * edges themselves.
    */
  private def edgePeelRows(dir: String): Seq[(Long, Long, Long)] = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cu"), (col("l_suppkey") * 2 + 1).as("sv"))
      .distinct()
    val edges = e0.select(col("cu").as("u"), col("sv").as("v"))
      .unionAll(e0.select(col("sv").as("u"), col("cu").as("v")))
    (1 to 4).scanLeft(edges) { (e, _) =>
      val keep = e.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 3).select("u")
      e.join(keep, Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select("u", "v").localCheckpoint()
    }.zipWithIndex.map { case (e, r) =>
      val t = e.agg(countDistinct("u"), count(lit(1))).head()
      (r.toLong, t.getLong(0), t.getLong(1) / 2)
    }
  }

  test("g06 peel cascade: nodes drop in rounds 1, 2 and 3, as edge peeling does") {
    // Planted.kcoreCascade: a K33 core with a chain that peels one node a
    // round. A node of degree ≥ 3 only in the raw graph (13, 5) must not
    // come back: keep_r ⊆ keep_{r-1} is what lets every round filter e_0.
    val dir = Planted.kcoreCascade(spark)
    val want = Seq((0L, 9L, 14L), (1L, 8L, 13L), (2L, 7L, 11L),
      (3L, 6L, 9L), (4L, 6L, 9L))
    assert(kcoreRows(dir) == want)
    assert(edgePeelRows(dir) == want)
  }

  test("g06 on a graph without a 3-core peels to (0, 0) and stays there") {
    // customers 1, 2 on suppliers 10-12, customer 3 on 10 and 11 only:
    // round 1 peels customer 3 and supplier 12 (degree 2), leaving a
    // 4-cycle whose nodes all have degree 2 — round 2 peels everything
    val dir = purchases(Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 12L), (3L, 10L), (3L, 11L)))
    val want = Seq((0L, 6L, 8L), (1L, 4L, 4L), (2L, 0L, 0L),
      (3L, 0L, 0L), (4L, 0L, 0L))
    assert(kcoreRows(dir) == want)
    assert(edgePeelRows(dir) == want)
  }

  test("g06 on zero-row orders and lineitem gives five (r, 0, 0) rows") {
    // every degree table is empty, so Σdeg is NULL on each fill
    assert(kcoreRows(purchases(Nil)) == (0L to 4L).map(r => (r, 0L, 0L)))
  }

  test("g06 on a graph fixed at round 0 cuts e_0 and one degree table") {
    // K33 alone: every node has degree 3, so deg_0 peels nothing, and
    // the exit repeats round 0 without another semi-join or fill
    val dir = purchases(for (c <- 1L to 3L; su <- 10L to 12L) yield (c, su))
    val want = (0L to 4L).map(r => (r, 6L, 9L))
    assert(kcoreRows(dir) == want)
    assert(edgePeelRows(dir) == want)
    // every query the build runs is a checkpoint fill
    val (_, fills, _) = queriesDuring(run("g06_kcore", dir))
    val cols = fills.map(_.analyzed.output.map(_.name))
    assert(cols == Seq(Seq("u", "v"), Seq("u", "deg")), cols)
  }

  test("g06 on sf0.001 equals the edge-peeling loop round for round") {
    assert(kcoreRows(sf) == edgePeelRows(sf))
  }

  test("g07 butterflies: biclique counts, C(shared,2) law, hub cap excludes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bfly").toString
    // customers {5,6} × suppliers {20,21} is a full 2x2 biclique → ONE
    // butterfly; customer 7 on supplier 20 only adds no butterfly but
    // one more supplier-pair observation is NOT created (7 touches one
    // supplier). Supplier pair (20,21) shares {5,6} → C(2,2)=1.
    val pairs = Seq((5L, 20L), (5L, 21L), (6L, 20L), (6L, 21L), (7L, 20L))
    pairs.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = run("g07_butterflies", dir).collect().head
    assert(r.getAs[Long]("butterflies") == 1L, r)
    assert(r.getAs[Long]("n_supplier_pairs") == 1L, r)
    assert(r.getAs[Long]("n_hub_customers_excluded") == 0L, r)

    // hub red path: one customer touching 65 suppliers is excluded from
    // pair generation entirely — zero pairs survive, the exclusion is
    // reported, and the count cannot silently go quadratic in the hub
    val dir2 = Files.createTempDirectory("graft-bfly-hub").toString
    val hub = (0L until 65L).map(su => (9L, 100L + su))
    hub.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir2/orders.parquet")
    hub.zipWithIndex.map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir2/lineitem.parquet")
    val h = run("g07_butterflies", dir2).collect().head
    assert(h.getAs[Long]("butterflies") == 0L, h)
    assert(h.getAs[Long]("n_supplier_pairs") == 0L, h)
    assert(h.getAs[Long]("n_hub_customers_excluded") == 1L, h)
  }

  test("g01 runs non-empty on sf0.001 with bounded output") {
    val rows = run("g01_pagerank").collect()
    assert(rows.length == 20) // top-20 cap binds on the real tables
    // suppliers are ~10× scarcer than customers in TPC-H, so the same
    // total edge mass concentrates on them: the top of the ranking
    // should be supplier-dominated
    assert(rows.take(5).count(_.getAs[String]("node_type") == "supplier") >= 3)
  }

  test("g08 triangles: planted 3-clique closes; sub-threshold edges don't") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-g08").toString
    // customers 1,2 both buy {20,21,22} → all three supplier pairs share
    // 2 customers → projection triangle; customer 3 adds a third shared
    // customer to (20,21); customer 4's {20,23} pair shares only 1
    // customer → below the >=2 threshold, supplier 23 stays isolated
    val pairs = Seq(
      (1L, 20L), (1L, 21L), (1L, 22L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 20L), (3L, 21L),
      (4L, 20L), (4L, 23L))
    val orders = pairs.zipWithIndex
      .map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.zipWithIndex
      .map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey")
    orders.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val r = run("g08_triangles", dir).collect().head
    assert(r.getAs[Long]("n_proj_edges") == 3L, r)
    assert(r.getAs[Long]("n_triangles") == 1L, r)
    // each of 20,21,22 has projection degree 2 → one wedge each
    assert(r.getAs[Long]("n_wedges") == 3L, r)
    assert(r.getAs[Long]("closure_bp") == 10000L, r)
    // sf run: wedge/triangle consistency (3T ≤ W ⇔ closure ≤ 10000)
    val s = run("g08_triangles").collect().head
    assert(s.getAs[Long]("n_triangles") * 3 <= s.getAs[Long]("n_wedges"), s)
    assert(s.getAs[Long]("closure_bp") >= 0 &&
      s.getAs[Long]("closure_bp") <= 10000L, s)
  }

  test("g09 BFS layers the planted chain; disconnected island unreached") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-g09").toString
    // chain from seed supplier 1: s1—{c1,c2}, c2—s2, s2—c3;
    // island (c9, s9) is disconnected and must not appear
    val pairs = Seq(
      (1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L), (9L, 9L))
    val orders = pairs.zipWithIndex
      .map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.zipWithIndex
      .map { case ((_, su), i) => (i.toLong, su) }
      .toDF("l_orderkey", "l_suppkey")
    orders.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val got = run("g09_bfs_reach", dir).collect()
      .map(r => r.getAs[Long]("dist") -> r.getAs[Long]("n_nodes")).toMap
    // dist 0: {s1}; 1: {c1, c2}; 2: {s2}; 3: {c3}; island absent
    assert(got == Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 1L), got)
    // sf run: layer sizes positive, dist 0 is exactly the seed
    val sfGot = run("g09_bfs_reach").collect()
      .map(r => r.getAs[Long]("dist") -> r.getAs[Long]("n_nodes")).toMap
    assert(sfGot.getOrElse(0L, 0L) == 1L, sfGot)
    assert(sfGot.keySet.subsetOf(Set(0L, 1L, 2L, 3L, 4L)), sfGot)
  }

  test("g10 assortativity: planted graph's neighbor-degree means are exact") {
    // planted degrees: c1=3, c2=c3=c4=1, s10=3, s11=1, s12=2 — all < 4,
    // so one bucket (0) with 7 nodes and 12 directed endpoints.
    // Σ deg(v) over directed edges = 14 (c→s legs) + 12 (s→c legs) = 26
    // → mean_c = 2600 div 12 = 216, max neighbor degree 3.
    val got = run("g10_assortativity", plantedDir).collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got.head
    assert(r.getAs[Long]("bucket") == 0L && r.getAs[Long]("n_nodes") == 7L
      && r.getAs[Long]("n_endpoints") == 12L
      && r.getAs[Long]("mean_nbr_deg_c") == 216L
      && r.getAs[Long]("max_nbr_deg") == 3L, r)
    // sf invariants: endpoint total = 2|edges| = Σ n_nodes-weighted degs;
    // every mean sits inside [100, 100·max_deg]
    val sfRows = run("g10_assortativity").collect()
    sfRows.foreach { s =>
      val m = s.getAs[Long]("mean_nbr_deg_c")
      assert(m >= 100L && m <= s.getAs[Long]("max_nbr_deg") * 100, s)
    }
  }

  test("g11 jaccard link scores replay on the planted demand overlap") {
    // deg: s10→{c1,c2,c3}, s11→{c1}, s12→{c1,c4}; pairs share only c1:
    // (11,12): 1/2 = 5000 bp, (10,11): 1/3 = 3333, (10,12): 1/4 = 2500
    val got = run("g11_link_prediction", plantedDir).collect()
      .map(r => (r.getAs[Long]("s1"), r.getAs[Long]("s2"),
        r.getAs[Long]("shared"), r.getAs[Long]("n_union"),
        r.getAs[Long]("jaccard_bp"))).toSeq
    assert(got == Seq((11L, 12L, 1L, 2L, 5000L),
      (10L, 11L, 1L, 3L, 3333L), (10L, 12L, 1L, 4L, 2500L)), got)
    // sf invariants: bounded heap, desc order, score algebra exact
    val sfRows = run("g11_link_prediction").collect()
    assert(sfRows.length <= 20)
    val scores = sfRows.map(_.getAs[Long]("jaccard_bp"))
    assert(scores.sameElements(scores.sortBy(-_)))
    sfRows.foreach { r =>
      assert(r.getAs[Long]("jaccard_bp") ==
        r.getAs[Long]("shared") * 10000 / r.getAs[Long]("n_union"), r)
      assert(r.getAs[Long]("shared") <= r.getAs[Long]("n_union"), r)
    }
  }

  test("g12 hub report ranks the planted hubs with exact shares") {
    // degrees: c1=3, s10=3, s12=2, rest 1 → 12 endpoints total
    val got = run("g12_hub_report", plantedDir).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_key"),
        r.getAs[Long]("deg"), r.getAs[Long]("share_ppm"))).toSeq
    assert(got.take(3) == Seq(
      ("customer", 1L, 3L, 250000L),
      ("supplier", 10L, 3L, 250000L),
      ("supplier", 12L, 2L, 166666L)), got)
    assert(got.length == 7) // whole graph fits the top-10 heap
    // sf invariants: ≤10 rows, desc degs, shares consistent
    val sfRows = run("g12_hub_report").collect()
    assert(sfRows.length <= 10)
    val degs = sfRows.map(_.getAs[Long]("deg"))
    assert(degs.sameElements(degs.sortBy(-(_: Long))))
  }

  test("pairCounts over Int-typed id arrays equals a naive self-join count") {
    // 32-bit ids: the packed s1<<32|s2 key must widen them to long first
    // — an int shifted by 32 is unchanged, so (1,2), (1,3) and (2,3)
    // would all pack to 3. Ids past 2^16 and 2^31-1 itself cover the
    // high bits of each half.
    import spark.implicits._
    val top = Int.MaxValue
    val groups = Seq(Seq(1, 2, 3), Seq(1, 2), Seq(2, 3, 70000),
      Seq(1, 70000, top), Seq(3, top), Seq(5))
      .zipWithIndex.map { case (ids, g) => (g, ids.sorted) }
      .toDF("g", "arr")
    val got = operators.GraphOps.pairCounts(groups, "arr", "n", top.toLong)
      .collect().map(r => (r.getAs[Number]("s1").longValue,
        r.getAs[Number]("s2").longValue, r.getAs[Long]("n"))).toSet
    val ids = groups.select(col("g"), explode(col("arr")).as("id"))
    val naive = ids.as("a").join(ids.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id"), col("b.id")).count()
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong,
        r.getLong(2))).toSet
    assert(naive.contains((1L, 2L, 2L)) && naive.size == 9, naive)
    assert(got == naive)
  }
}
