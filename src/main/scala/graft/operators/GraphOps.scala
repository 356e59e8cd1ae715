package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Checkpoints.CutSyntax

/** §2 extension — whole-graph analytics over the purchase graph
  * (customer—supplier edges derived from orders ⋈ lineitem). The
  * reference's TPC surface stops at joins/aggregations; a training-data
  * platform also needs graph centrality (e.g. ranking sources by how
  * central they are in a citation/link graph before sampling). d08
  * already provides connected components; this file adds PageRank and
  * the degree profile.
  *
  * PageRank is computed in PURE INTEGER arithmetic so the result is
  * bit-identical on any engine at any parallelism: ranks live in units
  * of 1e-12 (R0 = 10^12 per node), each iteration sends
  * `rank div deg` along every edge (BIGINT division, exact), and the
  * damped update is `0.15*R0 + (85 * Σ contrib) div 100` — no floats
  * anywhere, and BIGINT sums are associative, so partition order can
  * never flip a value. Fixed 6 iterations (convergence to final
  * ordering is measured in GraphSpec; a fixed count keeps the result a
  * pure function of the input).
  *
  * Scale: the edge list shuffles once per iteration keyed by node —
  * the canonical distributed PageRank. Lineage is truncated per round
  * with localCheckpoint (the iterative-plan idiom shared with
  * ConnectedComponents.scala); the (u, v) edge list is HotCache'd
  * across the 6 iterations and the rank state carries each node's
  * degree. At 100 TB the same plan holds:
  * the edge list is the big table, every round is one hash shuffle of
  * it, and rank state is |nodes| rows. For the 1e9-node regime the
  * BIGINT rank mass (N * 10^12) approaches the int64 range — past 10^6
  * nodes the accumulator switches automatically to DECIMAL(38,0)
  * (identical recurrence, exact floor divisions), pinned bit-equal to
  * the int64 path in GraphSpec; the int64 path stays the default below
  * the threshold because it is ~2× faster and provably safe there.
  */
object GraphOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Re-spread a small grouped table to the session's full shuffle
    * width before a stage that EXPLODES it (pair generation fans each
    * row out ~C(64,2)×): AQE coalesces the grouping exchange by its
    * input bytes (a few MB of arrays → 1-2 partitions) because it
    * cannot see the downstream fan-out, serializing the heaviest stage
    * of the query. The explicit numPartitions pins the exchange against
    * AQE coalescing, and the value is the session's shuffle-partition
    * conf — the already-parameterised scale knob (32 locally, ~2×cores
    * on a cluster) — never a constant. Measured on g08 at sf0.1: the
    * pair stage ran 2 tasks × ~5 s cpu before, 32 tasks after.
    */
  private[operators] def widen(df: DataFrame, cols: Column*): DataFrame =
    widenBy(1)(df, cols: _*)

  /** widen with a divisor: width = max(1, shuffle.partitions / div).
    * The pair-generation stages use div=4 — full width maximizes
    * parallel wall but each extra task is another partial-aggregate
    * hash map over the SAME ≤C(|suppliers|,2) group space, so combine
    * ratio (and with it shuffle bytes and allocation pressure) degrades
    * with width; a quarter of the session width measured as the balance
    * point at sf0.1 (see OPTIMIZATION_r11.md).
    */
  private[operators] def widenBy(div: Int)(df: DataFrame, cols: Column*)
      : DataFrame =
    df.repartition(
      math.max(1,
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt / div),
      cols: _*)

  /** Ordered-pair stream off a SORTED distinct array column: one output
    * row per unordered pair (s1 < s2), plus the pass-through columns in
    * `keep`. r11 second pass (§4 expression choice, measured on g08's
    * pair stage's per-stage cpu, OPTIMIZATION_r11.md): the previous
    * `explode(flatten(transform(arr, (x,i) -> transform(slice(..),
    * y -> struct(x,y)))))` chain runs as INTERPRETED expression code —
    * it copies a suffix slice per element, builds a struct PER PAIR and
    * flattens the nested array-of-arrays, ~3 allocations per pair
    * (measured ~5 µs/pair: 33 s cpu for the 6.5M-pair stage at sf0.1).
    * Two chained Generates emit the same multiset with no per-pair
    * allocation — posexplode picks s1 and its index (codegen'd
    * GenerateExec), explode over the remaining suffix emits s2; the only
    * copy left is one suffix slice per (row, index), amortized ≤ 2
    * element copies per pair. Same rows, same downstream aggregate.
    */
  private[operators] def pairStream(df: DataFrame, arr: String,
                                    keep: Column*): DataFrame =
    df.select(keep :+ col(arr) :+
        posexplode(col(arr)).as(Seq("i", "s1")): _*)
      .select(keep :+ col("s1") :+
        explode(expr(s"slice($arr, i + 2, size($arr) - i - 1)"))
          .as("s2"): _*)

  /** pairStream + count per unordered pair, with a PACKED grouping key
    * (§2.3 narrower types): the ~ΣC(deg,2)-row pair stream is hash-
    * aggregated on ONE long (`s1<<32|s2`) instead of a 2-long struct —
    * half the grouping-key bytes in the partial-aggregate hash maps and
    * across the exchange, one hash/equality op instead of two. Unpacked
    * right after the aggregate, so consumers see the identical
    * (s1, s2, cnt) rows as longs. Ids are cast to long before packing: a
    * shift of a 32-bit id by 32 is a no-op, which would collide pairs
    * (the cast is elided for the int64 ids of TPC-H). Only sound while
    * every id < 2^32 — `idBound`
    * is the caller's cheap upper-bound probe over the id DIMENSION
    * table (suppliers/parts: one column-pruned max(), negligible next
    * to the pair stage at any scale); past the bound the aggregation
    * degrades LOUDLY to the two-column groupBy, the always-correct
    * shape (e.g. partkeys cross 2^32 near SF ~21k, ~21 TB).
    */
  private[graft] def pairCounts(df: DataFrame, arr: String,
                                cnt: String, idBound: Long,
                                rawRoute: Boolean = false)
      : DataFrame = {
    // r12 (§2.2/§5, VERDICT item 3 — the pair-agg spill at scale): when
    // `rawRoute` (scale-derived, see pairAggRaw) the raw packed pair
    // stream is shuffled to full session width FIRST and aggregated
    // once post-shuffle. Measured sf1 same-session A/B
    // (OPTIMIZATION_r12.md): the partial-aggregate maps over the
    // ~ΣC(deg,2) group space outgrow per-task execution memory at 10×
    // and spill — shuffle-raw cuts WALL 30-49% (g05 14.3→8.1 s,
    // g07 13.5→6.9, g08 12.7→8.9, g11 11.7→7.5) and cpu 6-19%,
    // despite 2.1× exchange bytes (the spill stalls are wait, not
    // cpu). Below the threshold the combining partial aggregate wins
    // (sf0.1 isolated: g05 cpu [15.0, 8.5] partial vs [19.9, 10.0]
    // raw, exchange 38.5 vs 83.8 MB) and stays.
    def width = math.max(1,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    if (idBound < (1L << 32)) {
      val stream = pairStream(df, arr)
        .select(shiftleft(col("s1").cast("long"), 32)
          .bitwiseOR(col("s2").cast("long")).as("pk"))
      val routed =
        if (rawRoute) stream.repartition(width, col("pk")) else stream
      routed
        .groupBy("pk").agg(count(lit(1)).as(cnt))
        .select(shiftrightunsigned(col("pk"), 32).as("s1"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("s2"), col(cnt))
    } else {
      System.err.println(
        s"[graft] pairCounts: id bound $idBound >= 2^32 — packed pair " +
          "key unsafe, degrading to the two-column aggregation")
      val stream = pairStream(df, arr)
      val routed =
        if (rawRoute) stream.repartition(width, col("s1"), col("s2"))
        else stream
      routed.groupBy("s1", "s2").agg(count(lit(1)).as(cnt))
    }
  }

  /** Scale-adaptive routing signal for [[pairCounts]] (§2.2: derive the
    * partitioning choice from input size, never a constant tuned for
    * one scale): the fact-table scan bytes (driver-side file statistics
    * — no Spark job) against [[ShuffleRawMinBytes]]. `PlanPin.rawPairs`
    * pins the route for specs and A/B runs.
    */
  private def pairAggRaw(s: SparkSession, d: String): Boolean =
    PlanPin.get.rawPairs.getOrElse {
      try {
        t(s, d, "lineitem").queryExecution.optimizedPlan.stats
          .sizeInBytes >= BigInt(ShuffleRawMinBytes)
      } catch { case _: Exception => false }
    }

  /** 64 MB: sf0.1's 10.8 MB lineitem keeps the combining partial
    * aggregate, sf1's 130 MB routes raw — the measured crossover sits
    * between them, and on a cluster per-task memory is the same
    * constraint the byte threshold proxies.
    */
  private val ShuffleRawMinBytes = 64L << 20

  /** Packing bound on an id domain via its DIMENSION table (TPC-H
    * referential integrity: every l_suppkey/l_partkey references a
    * supplier/part row). One column-pruned min/max aggregate — trivial
    * next to the pair stage it guards at any scale — memoized per
    * (dir, table, col) and the table's file fingerprint (Tables.FileMemo):
    * g05/g07/g08/g11 all probe supplier, and the probe is a plan-build-time
    * Spark action, so without the memo each consumer re-ran the same job
    * (r11 ADVICE). A table rewritten in place is probed afresh, so a new
    * id ≥ 2^32 or < 0 unpacks the key instead of colliding silently.
    *
    * Returns Long.MaxValue — i.e. "not packable", selecting pairCounts'
    * always-correct unpacked aggregation — when:
    *  - the dimension table is ABSENT from the data dir (fact-only
    *    inputs, e.g. planted test fixtures: r11's unguarded read crashed
    *    five GraphSpec tests with PATH_NOT_FOUND) — told from its file
    *    listing, without running a read;
    *  - any id is NEGATIVE (a negative long sign-extends when OR'd into
    *    s1<<32|s2 and would silently collide pairs — r11 ADVICE);
    *  - the probe itself fails for any other reason (never let an
    *    optimization guard crash the operator).
    * Ids are cast to long first so integral id columns of any width
    * probe uniformly.
    */
  private val idBounds = new Tables.FileMemo[(String, String, String), Long]

  private[graft] def maxIdOf(s: SparkSession, d: String, table: String,
                             idCol: String): Long = {
    def unpacked(why: String): Long = {
      System.err.println(s"[graft] pairCounts: cannot probe $table.$idCol (" +
        why + ") — using the unpacked pair aggregation")
      Long.MaxValue
    }
    // an absent table is known from its listing: no failing read, so no
    // failed query for the session's listeners to re-analyse and log
    val stamp = Tables.fingerprint(s, d, table)
    if (stamp.isEmpty) unpacked(s"no files at $d/$table.parquet")
    else idBounds.getOrElseUpdate((d, table, idCol), stamp) {
      try {
        val row = t(s, d, table)
          .agg(min(col(idCol).cast("long")), max(col(idCol).cast("long")))
          .head
        if (row.isNullAt(0) || row.isNullAt(1)) 0L
        else if (row.getLong(0) < 0L) {
          System.err.println(
            s"[graft] pairCounts: $table.$idCol has negative ids " +
              s"(min ${row.getLong(0)}) — packed pair key unsafe")
          Long.MaxValue
        } else row.getLong(1)
      } catch {
        case e: Exception => unpacked(e.getMessage.linesIterator.next())
      }
    }
  }

  private val R0 = 1000000000000L // rank unit: 1.0 == 10^12
  private val Iters = 6

  /** g08's supplier-projection edge list — see the in-operator note. */
  private val g08ProjCache = HotCache.slot()

  /** Undirected customer—supplier purchase edges, both directions, as
    * (u, v): customers encoded as 2k, suppliers as 2k+1 so one BIGINT
    * node id space covers both without collisions.
    */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame = {
    // r11: both directions via ONE in-row generator instead of
    // one.unionAll(one.swap) — the union duplicated the whole
    // orders⋈lineitem+distinct subtree in the plan (ReuseExchange never
    // fired across the swapped projections), so every purchaseEdges
    // consumer paid the expensive join TWICE. Same (u,v) multiset.
    t(s, d, "orders")
      .join(t(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cu"),
        (col("l_suppkey") * 2 + 1).as("sv"))
      .distinct()
      .select(explode(array(
        struct(col("cu").as("u"), col("sv").as("v")),
        struct(col("sv").as("u"), col("cu").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
  }

  private val sqlEdges =
    """e0 AS (
      |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)
      |""".stripMargin

  /** The 6 unrolled PageRank iterations as DuckDB CTEs (r0..r6). DuckDB
    * sums BIGINT into HUGEINT; every iteration casts back to BIGINT so
    * the per-step values match Spark's long arithmetic exactly (the cast
    * is lossless — see the int64-range note above).
    */
  private def sqlRanks: String = {
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT d.u AS node,
         |         CAST(${R0 * 15 / 100} + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.v AS node, sum(r.rank // dd.deg) AS sc
         |    FROM e JOIN r${i - 1} r ON r.node = e.u JOIN deg dd ON dd.u = e.u
         |    GROUP BY e.v) s ON s.node = d.u)""".stripMargin
    }.mkString(",\n")
    s"""deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
       |r0 AS (SELECT u AS node, CAST($R0 AS BIGINT) AS rank FROM deg),
       |$iters""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- g01
    // Damped PageRank (d = 0.85, 6 iterations) on the undirected
    // purchase graph; top-20 nodes by final rank. Integer-exact, so the
    // oracle unrolls the identical recurrence in SQL.
    "g01_pagerank" -> QueryDef(
      build = (s, d) => {
        val edges = purchaseEdges(s, d)
        // r11: cache the bare (u, v) edge list and aggregate the degree
        // table straight off it — the r10 shape annotated every edge
        // with its source degree (edges ⋈ deg) just so deg could be
        // re-derived from the cache, paying a join over |edges| rows
        // and caching a dead 8-byte column through all 6 iterations.
        HotCache.withCached(edges.cut()) { e =>
          val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
            .cut()
          // Size-aware rank-state join (BroadcastGuard): the rank
          // table is |nodes| rows — broadcasting it keeps the (much
          // bigger) edge list un-shuffled across all 6 iterations, the
          // decisive win while nodes fit an executor. Past the cap the
          // hint is dropped and every round degrades loudly to the
          // shuffled join — the only shape possible at 1e9 nodes.
          // One capped count feeds BOTH choices: the cap (5·10⁶) sits
          // above the decimal threshold, so the accumulator choice below
          // is decided on an exact count. (A PlanPin cap under 10⁶
          // clamps the count and keeps int64 — pin decimalRanks too on
          // a graph that large.)
          val decThreshold = 1000000L
          val nCapped = BroadcastGuard.rows(deg)
          val hint = BroadcastGuard.hint("g01", "node table", nCapped)
          // Accumulator type: BIGINT rank mass (N·10¹²) is safe through
          // N ≈ 10⁶ nodes but a hub's contribution sum approaches int64
          // past that — switch to DECIMAL(38,0) automatically (or via
          // PlanPin for testing). Both paths run the IDENTICAL recurrence:
          // dfloor is exact floor division (subtract the modulus, then
          // an exactly-representable decimal divide — quotients here are
          // < 10³² so the (38,6) divide result is the exact integer),
          // pinned bit-equal to the int64 path in GraphSpec.
          val useDec = PlanPin.get.decimalRanks
            .getOrElse(nCapped > decThreshold)
          def dfloor(a: Column, b: Column): Column =
            ((a - pmod(a, b)) / b).cast("decimal(38,0)")
          val dec = (v: Long) => lit(v).cast("decimal(38,0)")
          // r11: the rank state CARRIES the node degree (node, deg,
          // rank) so each iteration's per-node contribution is a pure
          // projection — the r10 loop re-joined ranks against the
          // degree table every round (6 extra |nodes|⋈|nodes| joins)
          // just to see deg. Identical recurrence, identical output.
          var ranks = deg.select(col("u").as("node"), col("deg"),
              (if (useDec) dec(R0) else lit(R0)).as("rank"))
            .cut()
          for (_ <- 1 to Iters) {
            // per-NODE contribution first (|nodes| divisions), then the
            // broadcast onto edges — the r9 shape divided per EDGE row
            val cs = ranks
              .select(col("node"),
                (if (useDec) dfloor(col("rank"), col("deg").cast("decimal(38,0)"))
                 else expr("rank div deg")).as("c"))
            val contrib = e.join(hint(cs), e("u") === cs("node"))
              .select(col("v").as("node"), col("c"))
              .groupBy("node").agg(sum("c").as("sc"))
            ranks = ranks.select(col("node"), col("deg"))
              .join(contrib, Seq("node"), "left")
              .select(col("node"), col("deg"),
                (if (useDec)
                  (dec(R0 * 15 / 100) +
                    dfloor(dec(85) * coalesce(col("sc"), dec(0)), dec(100)))
                 else
                  expr(s"${R0 * 15 / 100}L + (85 * coalesce(sc, 0L)) div 100"))
                  .as("rank"))
              .cut()
          }
          ranks.selectExpr(
              "CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type",
              "node div 2 AS node_key", "rank")
            .orderBy(col("rank").desc, col("node_type"), col("node_key"))
            .limit(20)
        }
      },
      oracle = Some(
        s"""WITH $sqlEdges, $sqlRanks
           |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           |       node // 2 AS node_key, rank
           |FROM r$Iters
           |ORDER BY rank DESC, node_type, node_key LIMIT 20""".stripMargin)),

    // ---------------------------------------------------------------- g03
    // CONNECTED COMPONENTS as a first-class graph query: the O(log n)
    // large-star/small-star engine (shared with d08's dup groups) run on
    // the purchase graph, rolled up to a component-size histogram —
    // |distinct sizes| rows at any scale. The oracle computes the same
    // labels by transitive closure (recursive CTE) + min-reachable-node
    // — fine at oracle scale, impossible at 100 TB, which is exactly why
    // the star algorithm exists; the planted GraphSpec corpus pins
    // multi-component behavior (sf graphs are one giant component).
    "g03_components" -> QueryDef(
      build = (s, d) => {
        val edges = purchaseEdges(s, d)
          .select(col("u").as("a_id"), col("v").as("b_id"))
        val (labels, _) = ConnectedComponents.run(edges)
        labels.groupBy("group_rep").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_components"))
          .orderBy("sz")
      },
      oracle = Some(
        s"""WITH RECURSIVE $sqlEdges,
           |r AS (
           |  SELECT u AS node, u AS rch FROM e
           |  UNION
           |  SELECT e.u AS node, r.rch
           |  FROM e JOIN r ON r.node = e.v),
           |lab AS (SELECT node, min(rch) AS rep FROM r GROUP BY node),
           |cs AS (SELECT rep, count(*) AS sz FROM lab GROUP BY rep)
           |SELECT sz, count(*) AS n_components
           |FROM cs GROUP BY sz ORDER BY sz""".stripMargin)),

    // ---------------------------------------------------------------- g04
    // Market-basket pair mining: part pairs co-purchased within the same
    // order, ranked by co-occurrence count (frequent-itemset "lite", the
    // k=2 slice that drives recommend/affinity features). The self-join
    // keys on l_orderkey, so after ONE hash shuffle both sides are
    // co-partitioned and the pair fan-out is bounded per order by the
    // order's own line count (TPC-H ≤ 7 lines → ≤ 21 pairs) — linear in
    // lineitem at any corpus size, never quadratic in parts. Top-20 with
    // full-key tie-break plans as a bounded TakeOrderedAndProject heap.
    "g04_copurchase" -> QueryDef(
      build = (s, d) => {
        // r11: in-row pair explosion over the per-order sorted part set
        // (g08's r11 pair-gen shape) replaces the distinct + self-join —
        // collect_set IS the distinct, size is bounded by the order's
        // line count (TPC-H ≤ 7), and each unordered pair is emitted
        // exactly once, so the order-keyed shuffle of the whole line
        // stream happens once, not twice. Semantics identical; the
        // oracle keeps its join formulation.
        t(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("arr"))
          .transform(pairCounts(_, "arr", "n_orders",
            maxIdOf(s, d, "part", "p_partkey"), pairAggRaw(s, d)))
          .select(col("s1").as("p1"), col("s2").as("p2"), col("n_orders"))
          .orderBy(col("n_orders").desc, col("p1"), col("p2"))
          .limit(20)
      },
      oracle = Some("""
        WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem)
        SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_orders
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        ORDER BY n_orders DESC, p1, p2 LIMIT 20""")),

    // ---------------------------------------------------------------- g06
    // k-CORE decomposition (k = 3, 4 peel rounds, round trace): each
    // round drops nodes of degree < 3 and every edge touching them —
    // the standard "dense core" extraction that separates structural
    // hubs from the long tail before sampling or embedding a graph.
    // The round count is FIXED (like g01's iterations) so the result is
    // a pure function of the input; the trace row per round shows
    // convergence (equal consecutive rows = fixed point reached). The
    // oracle unrolls the identical 4 edge-peeling rounds as CTEs.
    // Output: 5 rows (round 0 = raw graph).
    //
    // The peel state is the node-sized degree table, not the edge list.
    // Write e_r for round r's edges and keep_r for the nodes of degree
    // ≥ 3 in e_{r-1}. Every node of e_{r-1} is in keep_{r-1}, so
    // keep_r ⊆ keep_{r-1}, and therefore
    //   e_r = e_{r-1} ⋉ keep_r ⋉ keep_r = e_0 ⋉ keep_r (on u) ⋉ keep_r (on v).
    // Physically: e_0 is checkpointed ONCE; each round filters that one
    // e_0 through two semi-joins against keep_r (both read one broadcast
    // — `ka`/`kb` are aliases of one plan, so the exchange is reused),
    // aggregates deg_r = groupBy(u).count and cuts only that |nodes|-row
    // table. The trace is observed off each degree fill: |deg_r| is
    // round r's n_nodes and Σdeg_r / 2 its n_edges (both directions of
    // every edge are in e_r), so the result is a local frame and the
    // edge list is never re-checkpointed or re-aggregated for a trace.
    //
    // The peel stops at its fixed point, exactly. If no node of deg_r has
    // degree < 3 (count_if, observed off the same fill), then
    // keep_{r+1} = nodes(e_r) ⊆ keep_r, and every edge of e_0 with both
    // ends in nodes(e_r) is already in e_r, so e_{r+1} = e_r and every
    // later trace row repeats row r. From there each round returns the
    // previous round's state: no keep, no semi-join, no degree fill. The
    // TPC purchase graphs are fixed at round 0 (sf0.001, sf0.01) or
    // round 1 (sf0.1), so they cut e_0 and one or two degree tables
    // instead of e_0 and five; the empty graph is fixed at round 0.
    // keep is |nodes|-bounded, so it is broadcast while |deg_0| fits an
    // executor (BroadcastGuard, like g01's rank hint); past the cap each
    // round degrades loudly to shuffled semi-joins, the only shape at
    // 1e9 nodes.
    "g06_kcore" -> QueryDef(
      build = (s, d) => {
        val e0 = purchaseEdges(s, d).cut().as("e")
        // deg of the edges e, cut, with (|deg|, Σdeg / 2, fixed) observed
        // off the fill (coalesce: Σ over zero nodes is NULL; fixed = no
        // node of degree < 3, true of zero nodes too)
        def degrees(e: DataFrame): (DataFrame, Long, Long, Boolean) = {
          val (deg, obs) = e.groupBy("u").agg(count(lit(1)).as("deg"))
            .cutObserved(count(lit(1)).as("nodes"),
              coalesce(sum("deg"), lit(0L)).as("degs"),
              count_if(col("deg") < 3).as("peel"))
          (deg, obs("nodes").asInstanceOf[Long],
            obs("degs").asInstanceOf[Long] / 2,
            obs("peel").asInstanceOf[Long] == 0L)
        }
        val deg0 = degrees(e0)
        // lazy: a graph fixed at round 0 builds no keep, so it neither
        // broadcasts nor reports a fallback
        lazy val hint = BroadcastGuard.hint("g06", "node set", deg0._2)
        val trace = (1 to 4).scanLeft(deg0) {
          case (fixed @ (_, _, _, true), _) => fixed
          case ((deg, _, _, _), _) =>
            val keep = hint(deg.filter(col("deg") >= 3).select("u"))
            degrees(e0
              .join(keep.as("ka"), col("e.u") === col("ka.u"), "left_semi")
              .join(keep.as("kb"), col("e.v") === col("kb.u"), "left_semi"))
        }
        import s.implicits._
        trace.zipWithIndex
          .map { case ((_, nodes, edges, _), r) => (r.toLong, nodes, edges) }
          .toDF("round", "n_nodes", "n_edges")
      },
      oracle = Some {
        val rounds = (1 to 4).map { r =>
          s"""k$r AS (SELECT u FROM g${r - 1} GROUP BY u
             |        HAVING count(*) >= 3),
             |g$r AS (SELECT g.u, g.v FROM g${r - 1} g
             |        JOIN k$r a ON a.u = g.u
             |        JOIN k$r b ON b.u = g.v)""".stripMargin
        }.mkString(",\n")
        val traces = (0 to 4).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS round,
             |       count(DISTINCT u) AS n_nodes,
             |       CAST(count(*) // 2 AS BIGINT) AS n_edges FROM g$r"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $sqlEdges, g0 AS (SELECT u, v FROM e),
           |$rounds
           |SELECT * FROM (
           |$traces) z ORDER BY round""".stripMargin
      }),

    // ---------------------------------------------------------------- g07
    // BUTTERFLY count (2x2 bicliques) — the bipartite analogue of the
    // triangle count (the customer—supplier graph is bipartite, so
    // triangles are structurally impossible): butterflies measure
    // co-purchase cohesion and calibrate sampling of bipartite graphs.
    // Computed as Σ C(shared, 2) over supplier pairs, pair generation
    // hub-capped exactly like g05 (customers with > 64 suppliers are
    // excluded from pair generation, so fan-out is ≤ C(64,2)/customer —
    // linear, never quadratic; the cap is part of the declared
    // semantics and the excluded-hub count is reported in the output).
    // One-row output; all counters exact BIGINTs.
    "g07_butterflies" -> QueryDef(
      build = (s, d) => {
        // r11: g08's pair-gen shape — groupBy(c).collect_set replaces
        // the distinct + degree-join + self-join chain (size(arr) IS
        // the customer degree; the sorted array emits each unordered
        // pair once in-row instead of materializing deg² join rows and
        // filtering half away). grouped is checkpointed because the
        // pair stream and the excluded-hub count both consume it.
        val grouped0 = t(s, d, "orders")
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
          .groupBy("c").agg(sort_array(collect_set(col("sk"))).as("arr"))
        val groupedW = widenBy(4)(grouped0, col("c")).cut()
        val shared = groupedW.filter(size(col("arr")) <= 64)
          .transform(pairCounts(_, "arr", "shared",
            maxIdOf(s, d, "supplier", "s_suppkey"), pairAggRaw(s, d)))
        val agg = shared.agg(
          coalesce(sum(expr("shared * (shared - 1) div 2")), lit(0L))
            .as("butterflies"),
          count(lit(1)).as("n_supplier_pairs"))
        val excl = groupedW.filter(size(col("arr")) > 64)
          .agg(count(lit(1)).as("n_hub_customers_excluded"))
        agg.crossJoin(excl) // 1x1 scalar join
      },
      oracle = Some("""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        cd AS (SELECT c, count(*) AS cd FROM cs GROUP BY c),
        small AS (
          SELECT cs.c, cs.sk FROM cs JOIN cd ON cd.c = cs.c AND cd.cd <= 64),
        pr AS (
          SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared
          FROM small a JOIN small b ON a.c = b.c AND a.sk < b.sk
          GROUP BY 1, 2)
        SELECT CAST(coalesce(
                 (SELECT sum(shared * (shared - 1) // 2) FROM pr), 0)
               AS BIGINT) AS butterflies,
               CAST((SELECT count(*) FROM pr) AS BIGINT)
                 AS n_supplier_pairs,
               CAST((SELECT count(*) FROM cd WHERE cd > 64) AS BIGINT)
                 AS n_hub_customers_excluded""")),

    // ---------------------------------------------------------------- g05
    // Bipartite-projection similarity: supplier pairs ranked by shared
    // customers with exact-integer Jaccard (basis points). The naive
    // projection is quadratic in a hub customer's supplier list, so the
    // inverted index applies the standard HUB CAP first: customers whose
    // supplier degree exceeds 64 are dropped from pair generation (they
    // connect everyone to everyone and carry no similarity signal —
    // same reasoning as stop-shingle removal in d05). Per-customer
    // fan-out is then ≤ C(64,2), linear overall; per-supplier degrees
    // come from the UNCAPPED table so the Jaccard denominator is honest.
    "g05_supplier_overlap" -> QueryDef(
      build = (s, d) => {
        // r11: g08's pair-gen shape (see g07). The per-customer sorted
        // supplier set replaces the distinct + cd-join + self-join; the
        // UNCAPPED per-supplier degree (the honest Jaccard denominator)
        // comes from exploding the same grouped arrays, so the
        // orders⋈lineitem join runs once, not four times. grouped and
        // deg are checkpointed: pair stream + two degree joins consume
        // them and the rename legs defeat exchange reuse.
        val grouped = widenBy(4)(t(s, d, "orders")
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
          .groupBy("c").agg(sort_array(collect_set(col("sk"))).as("arr")),
          col("c")).cut()
        val deg = grouped.select(explode(col("arr")).as("sk"))
          .groupBy("sk").agg(count(lit(1)).as("deg"))
          .cut()
        val pairs = grouped.filter(size(col("arr")) <= 64)
          .transform(pairCounts(_, "arr", "shared",
            maxIdOf(s, d, "supplier", "s_suppkey"), pairAggRaw(s, d)))
        pairs
          .join(deg.select(col("sk").as("s1"), col("deg").as("d1")), "s1")
          .join(deg.select(col("sk").as("s2"), col("deg").as("d2")), "s2")
          .select(col("s1"), col("s2"), col("shared"),
            expr("shared * 10000 div (d1 + d2 - shared) AS jaccard_bp"))
          .orderBy(col("shared").desc, col("s1"), col("s2"))
          .limit(10)
      },
      oracle = Some("""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        deg AS (SELECT sk, count(*) AS deg FROM cs GROUP BY sk),
        small AS (
          SELECT cs.c, cs.sk FROM cs JOIN (
            SELECT c FROM cs GROUP BY c HAVING count(*) <= 64) k
          ON k.c = cs.c),
        pairs AS (
          SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared
          FROM small a JOIN small b ON a.c = b.c AND a.sk < b.sk
          GROUP BY 1, 2)
        SELECT p.s1, p.s2, p.shared,
               p.shared * 10000 // (d1.deg + d2.deg - p.shared) AS jaccard_bp
        FROM pairs p JOIN deg d1 ON d1.sk = p.s1 JOIN deg d2 ON d2.sk = p.s2
        ORDER BY p.shared DESC, p.s1, p.s2 LIMIT 10""")),

    // ---------------------------------------------------------------- g02
    // Degree distribution of the purchase graph, per side: how many
    // customers touch k suppliers (and vice versa). The pre-flight
    // profile for any graph algorithm — it bounds per-node state and
    // exposes hubs (the skew that decides salting). Output is
    // |distinct degrees|-bounded regardless of scale.
    "g02_degree_histogram" -> QueryDef(
      build = (s, d) => {
        val edges = purchaseEdges(s, d)
        edges
          .selectExpr(
            "CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type",
            "u AS node")
          .groupBy("node_type", "node").agg(count(lit(1)).as("deg"))
          .groupBy("node_type", "deg").agg(count(lit(1)).as("n_nodes"))
          .orderBy("node_type", "deg")
      },
      oracle = Some(
        s"""WITH $sqlEdges,
           |d AS (
           |  SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           |         u AS node, count(*) AS deg
           |  FROM e GROUP BY 1, 2)
           |SELECT node_type, deg, count(*) AS n_nodes
           |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---------------------------------------------------------------- g08
    // TRIANGLE census of the supplier co-purchase projection,
    // sparsified to the MUTUAL top-8 graph: an edge survives only if
    // EACH endpoint ranks the other among its 8 strongest ties (by
    // shared-customer count, neighbor id tie-break). Mutual-kNN
    // sparsification is the standard pre-step before triangle/cluster
    // analysis of a projected bipartite graph, and it is what makes the
    // census scale-PROOF rather than scale-lucky: an absolute
    // shared-count threshold densifies as the corpus grows (at sf0.1
    // every supplier pair already shares ≥5 customers, making the
    // thresholded projection the complete graph — ~5·10⁸ wedges from
    // 1000 nodes, measured 27 s), while mutual-top-8 bounds every
    // degree at 8, hence wedges ≤ 28·n, at ANY corpus size. The per-
    // node top-8 ranks via a WindowGroupLimit-pushed row_number over
    // the capped pair stream (g05's hub-capped generation bounds that
    // stream); counting is the ordered-wedge join — edges stored a < b,
    // e(a,b) ⋈ e(b,c) enumerates each wedge once, a semi-join against
    // e(a,c) closes it. All counters exact BIGINTs; coefficient in
    // basis points via integer division — bit-identical on both
    // engines.
    "g08_triangles" -> QueryDef(
      build = (s, d) => {
        // Pair generation, r11 shape: distinct → groupBy(c).collect_list
        // → in-row pair explosion replaces the r10 degree-join +
        // self-join chain. size(arr) IS the customer's supplier degree
        // (the old cd aggregate + its join), and the sorted array emits
        // each unordered pair exactly once via a nested transform — the
        // old self-join materialized deg² ordered rows per customer and
        // filtered half away, so the pair shuffle drops ~5× (127→26 MB
        // at sf0.1). Map-side partial collect_set is kept (an explicit
        // repartition(c) with post-exchange set-building was measured:
        // +46% cpu from shuffling 600k raw rows — partial sets dedupe
        // well here because a customer's rows cluster in the scan).
        // Semantics identical — the oracle keeps its join formulation.
        val p = t(s, d, "orders")
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
          .groupBy("c").agg(sort_array(collect_set(col("sk"))).as("arr"))
          .transform(widenBy(4)(_, col("c"))) // see widenBy: AQE coalesces the
          // tiny grouped exchange to 1-2 tasks and serializes the pair
          // explosion below
          .filter(size(col("arr")) <= 64) // the g05 hub cap, now free
          .transform(pairCounts(_, "arr", "shared",
            maxIdOf(s, d, "supplier", "s_suppkey"), pairAggRaw(s, d)))
          .filter(col("shared") >= 2)
        // r11: both directions via ONE in-row generator — the r10
        // p.unionAll(p.swap) duplicated the whole pair-generation
        // subtree (collect_set + explode + aggregate) in the plan; the
        // swapped projections defeat exchange reuse. Same row multiset.
        val sym = p.select(explode(array(
            struct(col("s1").as("node"), col("s2").as("nbr"), col("shared")),
            struct(col("s2").as("node"), col("s1").as("nbr"), col("shared"))))
            .as("z"))
          .select(col("z.node").as("node"), col("z.nbr").as("nbr"),
            col("z.shared").as("shared"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("node").orderBy(desc("shared"), asc("nbr"))
        // mutual top-8: both directed picks present ⇔ count == 2
        // (the (node, nbr) stream is duplicate-free by construction).
        // The sparsified edge list is referenced SIX times downstream
        // (deg, three wedge-join legs, the edge count) — slot-cached so
        // the pair generation + window run once, not per reference.
        val e = g08ProjCache.register(
          sym.withColumn("rk", row_number().over(w))
            .filter(col("rk") <= 8)
            .select(least(col("node"), col("nbr")).as("s1"),
              greatest(col("node"), col("nbr")).as("s2"))
            .groupBy("s1", "s2").agg(count(lit(1)).as("cc"))
            .filter(col("cc") === 2)
            .select("s1", "s2"))
        // (EAGER fill re-measured in r11 on the rewritten subtree and
        // rejected AGAIN: lazy 20.4 s cpu vs 26.7 s with the fill — the
        // scalar consumers still barely race, and the fill pays the
        // full subtree + cache serialization up front)
        val deg = e.select(col("s1").as("node"))
          .unionAll(e.select(col("s2").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val wedges = deg.agg(
          coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"))
        val tri = e.select(col("s1").as("a"), col("s2").as("b"))
          .join(e.select(col("s1").as("b"), col("s2").as("c")), Seq("b"))
          .join(e.select(col("s1").as("a"), col("s2").as("c")),
            Seq("a", "c"), "left_semi")
          .agg(count(lit(1)).as("n_triangles"))
        val ne = e.agg(count(lit(1)).as("n_proj_edges"))
        ne.crossJoin(tri).crossJoin(wedges) // 1x1x1 scalar joins
          .select(col("n_proj_edges"), col("n_triangles"), col("n_wedges"),
            when(col("n_wedges") === 0, lit(0L))
              .otherwise(expr("n_triangles * 3 * 10000 div n_wedges"))
              .as("closure_bp"))
      },
      oracle = Some("""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        small AS (
          SELECT cs.c, cs.sk FROM cs JOIN (
            SELECT c FROM cs GROUP BY c HAVING count(*) <= 64) k
          ON k.c = cs.c),
        p AS (
          SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared
          FROM small a JOIN small b ON a.c = b.c AND a.sk < b.sk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        sym AS (
          SELECT s1 AS node, s2 AS nbr, shared FROM p
          UNION ALL SELECT s2, s1, shared FROM p),
        top AS (
          SELECT node, nbr FROM (
            SELECT node, nbr, row_number() OVER (PARTITION BY node
              ORDER BY shared DESC, nbr) AS rk FROM sym) z
          WHERE rk <= 8),
        e AS (
          SELECT least(node, nbr) AS s1, greatest(node, nbr) AS s2
          FROM top GROUP BY 1, 2 HAVING count(*) = 2),
        deg AS (
          SELECT node, count(*) AS deg FROM (
            SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e) z
          GROUP BY node),
        w AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
                AS n_wedges FROM deg),
        tr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM e ab JOIN e bc ON ab.s2 = bc.s1
          WHERE EXISTS (SELECT 1 FROM e ac
                        WHERE ac.s1 = ab.s1 AND ac.s2 = bc.s2))
        SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_proj_edges,
               tr.n_triangles, w.n_wedges,
               CASE WHEN w.n_wedges = 0 THEN 0
                    ELSE n_triangles * 3 * 10000 // n_wedges
               END AS closure_bp
        FROM tr CROSS JOIN w""")),

    // ---------------------------------------------------------------- g09
    // BFS REACH profile: how much of the purchase graph is within k hops
    // (k ≤ 4) of a fixed seed (supplier 1, encoded node 3) — the
    // small-world/connectivity probe that sizes neighborhood-sampling
    // fan-out before any graph-ML featurization. Frontier expansion, the
    // canonical distributed BFS: each round is ONE hash join of the
    // |frontier| rows against the node-keyed edge list + an anti-join
    // against the visited set; lineage truncated per round (g06's
    // idiom). Rounds are FIXED at 4 so the result is a pure function of
    // the input. The oracle's recursive CTE uses UNION (distinct), so
    // its state is bounded by nodes×5 — path enumeration would explode
    // combinatorially on the dense bipartite sf graphs.
    "g09_bfs_reach" -> QueryDef(
      build = (s, d) => {
        val edges = purchaseEdges(s, d).cut()
        // r11: frontier and visited are |nodes|-bounded, so the
        // per-round semi/anti joins BROADCAST them while they fit
        // (BroadcastGuard, like g01/g06) — the edge list is then never
        // shuffled; past the cap each round degrades to the shuffled
        // joins, the only shape at 1e9 nodes.
        val hint = BroadcastGuard.hint("g09", "node set",
          edges.select("u").distinct())
        var visited = edges.select(col("u").as("node"))
          .filter(col("node") === 3L).distinct()
          .withColumn("dist", lit(0L)).cut()
        var frontier = visited.select("node")
        for (r <- 1 to 4) {
          val next = edges
            .join(hint(frontier.withColumnRenamed("node", "u")), Seq("u"),
              "left_semi")
            .select(col("v").as("node")).distinct()
            .join(hint(visited.select("node")), Seq("node"), "left_anti")
            .withColumn("dist", lit(r.toLong)).cut()
          visited = visited.unionAll(next).cut()
          frontier = next.select("node")
        }
        visited.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
          .orderBy("dist")
      },
      oracle = Some(
        s"""WITH RECURSIVE $sqlEdges,
           |r AS (
           |  SELECT DISTINCT CAST(3 AS BIGINT) AS node,
           |                  CAST(0 AS BIGINT) AS dist
           |  FROM e WHERE u = 3
           |  UNION
           |  SELECT e.v AS node, r.dist + 1 AS dist
           |  FROM r JOIN e ON e.u = r.node WHERE r.dist < 4),
           |d AS (SELECT node, min(dist) AS dist FROM r GROUP BY node)
           |SELECT dist, count(*) AS n_nodes
           |FROM d GROUP BY dist ORDER BY dist""".stripMargin)),

    // ---------------------------------------------------------------- g10
    // Degree assortativity profile: bucket nodes by degree (power-of-4
    // bins) and report each bucket's mean NEIGHBOR degree in exact
    // integer centi-units — the "do hubs attach to hubs?" audit that
    // predicts whether g01's rank mass concentrates and whether salting
    // (s05/s06) will be needed on the join keys. Physically: one
    // node-keyed degree aggregate (|nodes| rows), the edge list joined
    // to it twice (u side picks the bucket, v side contributes the
    // neighbor degree — both broadcastable at |nodes| ≪ |edges|, left
    // to AQE here), then a ≤5-row rollup. Nothing is ever keyed by an
    // edge pair, so the shuffle is edge-linear at any scale.
    "g10_assortativity" -> QueryDef(
      build = (s, d) => {
        // r11: edges and the |nodes|-row degree table are checkpointed —
        // the r10 plan re-derived purchaseEdges (orders⋈lineitem +
        // distinct) FOUR times (edge stream + two degree legs + the
        // bucket census; the renamed join legs defeat exchange reuse).
        val edges = purchaseEdges(s, d).cut()
        val deg = edges.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("deg")).cut()
        val bucketOf = (c: org.apache.spark.sql.Column) =>
          when(c < 4, 0L).when(c < 16, 1L).when(c < 64, 2L)
            .when(c < 256, 3L).otherwise(4L)
        val nodes = deg.groupBy(bucketOf(col("deg")).as("bucket"))
          .agg(count(lit(1)).as("n_nodes"))
        val nbr = edges
          .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
          .groupBy(bucketOf(col("du")).as("bucket"))
          .agg(count(lit(1)).as("n_endpoints"),
            expr("sum(dv) * 100 div count(1)").as("mean_nbr_deg_c"),
            max("dv").as("max_nbr_deg"))
        nodes.join(nbr, "bucket")
          .select(col("bucket"), col("n_nodes"), col("n_endpoints"),
            col("mean_nbr_deg_c"), col("max_nbr_deg"))
          .orderBy("bucket")
      },
      oracle = Some(
        s"""WITH $sqlEdges,
           |deg AS (SELECT u AS node, count(*) AS deg FROM e GROUP BY u),
           |nodes AS (
           |  SELECT CAST(CASE WHEN deg < 4 THEN 0 WHEN deg < 16 THEN 1
           |                   WHEN deg < 64 THEN 2 WHEN deg < 256 THEN 3
           |                   ELSE 4 END AS BIGINT) AS bucket,
           |         count(*) AS n_nodes
           |  FROM deg GROUP BY 1),
           |nbr AS (
           |  SELECT CAST(CASE WHEN du.deg < 4 THEN 0
           |                   WHEN du.deg < 16 THEN 1
           |                   WHEN du.deg < 64 THEN 2
           |                   WHEN du.deg < 256 THEN 3
           |                   ELSE 4 END AS BIGINT) AS bucket,
           |         count(*) AS n_endpoints,
           |         CAST(sum(dv.deg) * 100 // count(*) AS BIGINT)
           |           AS mean_nbr_deg_c,
           |         max(dv.deg) AS max_nbr_deg
           |  FROM e
           |  JOIN deg du ON e.u = du.node
           |  JOIN deg dv ON e.v = dv.node
           |  GROUP BY 1)
           |SELECT n.bucket, n.n_nodes, b.n_endpoints, b.mean_nbr_deg_c,
           |       b.max_nbr_deg
           |FROM nodes n JOIN nbr b ON n.bucket = b.bucket
           |ORDER BY n.bucket""".stripMargin)),

    // ---------------------------------------------------------------- g11
    // LINK PREDICTION by neighborhood Jaccard: for supplier pairs in the
    // co-purchase projection, |N(a)∩N(b)| / |N(a)∪N(b)| over customer
    // neighborhoods — the common-neighbors recommender primitive ("which
    // suppliers serve the same demand?") and the feature a graph-ML
    // pipeline exports before training an edge model. Candidate pairs
    // come from g05/g08's hub-capped generation (a customer with ≤64
    // suppliers contributes ≤2016 pairs — linear in the purchase table,
    // never quadratic in suppliers; pairs sharing zero customers score 0
    // and are never materialized, which is the point of candidate
    // generation). Degrees are computed from the SAME capped stream so
    // intersection ≤ union by construction; |union| = d(a)+d(b)−shared
    // needs no second pair pass. The |suppliers|-row degree table joins
    // back broadcastable (left to AQE). Scores in exact integer bp; the
    // global top-20 is a TakeOrderedAndProject bounded heap with full
    // (score, s1, s2) tie-break — deterministic on any engine.
    "g11_link_prediction" -> QueryDef(
      build = (s, d) => {
        // r11: g08's pair-gen shape (see g07/g05). Degrees here come
        // from the CAPPED stream (the declared semantics — intersection
        // ≤ union by construction), i.e. from exploding the same
        // size-filtered arrays the pairs explode from, so the
        // orders⋈lineitem join runs once, not four times.
        val capped = widenBy(4)(t(s, d, "orders")
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
          .groupBy("c").agg(sort_array(collect_set(col("sk"))).as("arr"))
          .filter(size(col("arr")) <= 64),
          col("c")).cut()
        val deg = capped.select(explode(col("arr")).as("sk"))
          .groupBy("sk").agg(count(lit(1)).as("deg"))
          .cut()
        capped
          .transform(pairCounts(_, "arr", "shared",
            maxIdOf(s, d, "supplier", "s_suppkey"), pairAggRaw(s, d)))
          .join(deg.select(col("sk").as("s1"), col("deg").as("d1")), "s1")
          .join(deg.select(col("sk").as("s2"), col("deg").as("d2")), "s2")
          .select(col("s1"), col("s2"), col("shared"),
            (col("d1") + col("d2") - col("shared")).as("n_union"),
            expr("shared * 10000 div (d1 + d2 - shared)").as("jaccard_bp"))
          .orderBy(desc("jaccard_bp"), asc("s1"), asc("s2"))
          .limit(20)
      },
      oracle = Some("""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        small AS (
          SELECT cs.c, cs.sk FROM cs JOIN (
            SELECT c FROM cs GROUP BY c HAVING count(*) <= 64) k
          ON k.c = cs.c),
        deg AS (SELECT sk, count(*) AS deg FROM small GROUP BY sk),
        p AS (
          SELECT a.sk AS s1, b.sk AS s2, count(*) AS shared
          FROM small a JOIN small b ON a.c = b.c AND a.sk < b.sk
          GROUP BY 1, 2)
        SELECT p.s1, p.s2, p.shared,
               d1.deg + d2.deg - p.shared AS n_union,
               CAST(p.shared * 10000 // (d1.deg + d2.deg - p.shared)
                 AS BIGINT) AS jaccard_bp
        FROM p
        JOIN deg d1 ON d1.sk = p.s1
        JOIN deg d2 ON d2.sk = p.s2
        ORDER BY jaccard_bp DESC, p.s1, p.s2 LIMIT 20""")),

    // ---------------------------------------------------------------- g12
    // HUB report: the top-10 nodes by degree with their share of all
    // edge endpoints in exact ppm — the concrete salting target list
    // (s05/s06) and the g10 summary a join planner actually consumes:
    // "which keys need splitting, and how much of the table do they
    // carry?". One node-keyed degree aggregate, a broadcast scalar
    // total, and a TakeOrderedAndProject bounded heap with full
    // (deg, type, key) tie-break — no global sort at any scale.
    "g12_hub_report" -> QueryDef(
      build = (s, d) => {
        // r11: checkpoint the |nodes|-row degree table — the scalar
        // total and the ranked scan both consume it, and without the
        // checkpoint each leg re-ran purchaseEdges (orders⋈lineitem +
        // distinct) from scratch.
        val deg = purchaseEdges(s, d)
          .groupBy("u").agg(count(lit(1)).as("deg")).cut()
        val tot = deg.agg(sum("deg").as("tot_deg"))
        deg.crossJoin(broadcast(tot))
          .select(
            expr("CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END")
              .as("node_type"),
            expr("u div 2").as("node_key"), col("deg"),
            expr("deg * 1000000 div tot_deg").as("share_ppm"))
          .orderBy(desc("deg"), col("node_type"), col("node_key"))
          .limit(10)
      },
      oracle = Some(
        s"""WITH $sqlEdges,
           |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
           |t AS (SELECT CAST(sum(deg) AS BIGINT) AS tot_deg FROM deg)
           |SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END
           |         AS node_type,
           |       u // 2 AS node_key, deg,
           |       CAST(deg * 1000000 // tot_deg AS BIGINT) AS share_ppm
           |FROM deg CROSS JOIN t
           |ORDER BY deg DESC, node_type, node_key LIMIT 10""".stripMargin))
  )
}
