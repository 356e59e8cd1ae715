package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.AggFns.{dsum, dsumRaw, sqlDsum}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Checkpoints.CutSyntax

/** §2.A — the relational-analytics surface (TPC-style) mirroring the
  * reference's TPC-DS + reviews workloads
  * (/root/reference/tpc-ds-gen/TPCDSPreparation.scala,
  * /root/reference/README.md "Available Workloads").
  *
  * Everything is declarative DataFrame API so Catalyst handles pushdown,
  * pruning and join selection; genuinely-small dims (region/nation/
  * supplier) are broadcast-hinted, while tables that grow with the facts
  * (part) are left to AQE. Derived float columns are rounded identically
  * on both sides; every query ends with a deterministic ORDER BY (unique
  * tie-break keys).
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)
  private def ts(x: String): Column = lit(x).cast("timestamp")
  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))


  /** One SQL text, two engines (up to the table identifier) — the q39
    * parity contract. Spark binds a graft-prefixed temp view so the
    * shared session never grows an unqualified `nation` view bound to
    * whatever dataDir q39 last ran with.
    */
  private def recursiveChainSql(table: String): String = s"""
    WITH RECURSIVE chain(n_nationkey, root, depth) AS (
      SELECT n_nationkey, n_nationkey, 0
      FROM $table WHERE n_nationkey % 5 = 0
      UNION ALL
      SELECT n.n_nationkey, c.root, c.depth + 1
      FROM $table n JOIN chain c ON n.n_nationkey = c.n_nationkey + 1
      WHERE n.n_nationkey % 5 <> 0)
    SELECT root, CAST(count(*) AS BIGINT) AS chain_len,
           CAST(max(depth) AS BIGINT) AS max_depth
    FROM chain GROUP BY root ORDER BY root"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q01
    "q01_pricing_summary" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= ts("2001-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(revenue).as("sum_disc_price"),
            dsum(revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
          round(sum(l_quantity), 2) AS sum_qty,
          CAST(round(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_base_price,
          CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_disc_price,
          CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
          round(avg(l_quantity), 4) AS avg_qty,
          round(avg(l_extendedprice), 4) AS avg_price,
          round(avg(l_discount), 4) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---------------------------------------------------------------- q02
    // Filter + projection pushdown: the scan must read only 4 columns
    // (ReadSchema) with PushedFilters on p_size/p_type.
    "q02_filter_project" -> QueryDef(
      build = (s, d) =>
        t(s, d, "part")
          .filter(col("p_size") > 25 && col("p_type") === "PROMO")
          .select("p_partkey", "p_brand", "p_retailprice")
          .orderBy("p_partkey"),
      oracle = Some("""
        SELECT p_partkey, p_brand, p_retailprice
        FROM part WHERE p_size > 25 AND p_type = 'PROMO'
        ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- q03
    "q03_top_orders" -> QueryDef(
      build = (s, d) => {
        val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, d, "orders").filter(col("o_orderdate") < ts("1998-01-01"))
        val l = t(s, d, "lineitem").filter(col("l_shipdate") > ts("1996-01-01"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate")
          .agg(dsum(revenue).as("rev"))
          .orderBy(desc("rev"), asc("l_orderkey"))
          .limit(10)
      },
      oracle = Some("""
        SELECT l_orderkey, o_orderdate,
               CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1996-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY rev DESC, l_orderkey LIMIT 10""")),

    // ---------------------------------------------------------------- q04
    // Left-semi join (EXISTS with a correlated non-equi predicate).
    "q04_order_priority" -> QueryDef(
      build = (s, d) => {
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= ts("1996-07-01") &&
                  col("o_orderdate") < ts("1996-10-01"))
        val l = t(s, d, "lineitem")
        o.join(l,
            col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---------------------------------------------------------------- q05
    // 6-table join: facts shuffle on keys, dims broadcast. Flagship.
    "q05_region_volume" -> QueryDef(
      build = (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
                  col("o_orderdate") < ts("1997-01-01"))
        val l = t(s, d, "lineitem")
        val su = t(s, d, "supplier")
        val n = t(s, d, "nation")
        val r = t(s, d, "region").filter(col("r_name") === "ASIA")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(su),
            col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(dsum(revenue).as("rev"))
          .orderBy(desc("rev"), asc("n_name"))
      },
      oracle = Some("""
        SELECT n_name, CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY rev DESC, n_name""")),

    // ---------------------------------------------------------------- q06
    "q06_revenue_filter" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
                  col("l_shipdate") < ts("1997-01-01") &&
                  col("l_discount").between(0.05, 0.07) &&
                  col("l_quantity") < 24)
          .agg(dsum(col("l_extendedprice") * col("l_discount")).as("rev")),
      oracle = Some("""
        SELECT CAST(round(sum(CAST(round(l_extendedprice * l_discount, 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")),

    // ---------------------------------------------------------------- q07
    // Top-3 customers by account balance per nation — on the repo's own
    // TopKPerGroup plan node (map-side bounded heaps), NOT a window rank.
    // A window partitioned by the 25-value nation key funnels the whole
    // customer table through 25 reducer sorts at any scale; TopKPerGroup
    // sends at most k rows per group per map partition across the
    // shuffle, so the moved bytes are O(k·groups·partitions) — the
    // answer, not the table. The residual row_number window runs on the
    // ALREADY bounded top-k output (≤ k·n_nations rows), so its
    // per-stratum sort is constant-size at any corpus scale. The oracle
    // keeps the window/row_number formulation.
    "q07_window_topn" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val joined = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select("n_name", "c_custkey", "c_name", "c_acctbal")
        val top = TopK.perGroup(joined, Seq("n_name"),
          Seq("c_acctbal" -> false, "c_custkey" -> true), 3)
        val w = Window.partitionBy("n_name")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        top
          .withColumn("rk", row_number().over(w).cast("long"))
          .select("n_name", "c_custkey", "c_name", "c_acctbal", "rk")
          .orderBy("n_name", "rk")
      },
      oracle = Some("""
        SELECT n_name, c_custkey, c_name, c_acctbal, rk FROM (
          SELECT n_name, c_custkey, c_name, c_acctbal,
                 CAST(row_number() OVER (PARTITION BY n_name
                      ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rk
          FROM customer JOIN nation ON c_nationkey = n_nationkey) z
        WHERE rk <= 3 ORDER BY n_name, rk""")),

    // ---------------------------------------------------------------- q08
    // Share-of-total per year for one nation's suppliers.
    "q08_yearly_share" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val su = t(s, d, "supplier")
        val n = t(s, d, "nation")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(round(
            dsumRaw(when(col("n_name") === "NATION_7", revenue).otherwise(lit(0.0)))
              .cast("double") / dsumRaw(revenue).cast("double"), 6).as("mkt_share"))
          .orderBy("o_year")
      },
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               round(CAST(sum(CAST(round(CASE WHEN n_name = 'NATION_7' THEN l_extendedprice * (1 - l_discount) ELSE 0 END, 6) AS DECIMAL(30,6))) AS DOUBLE)
                     / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))) AS DOUBLE), 6) AS mkt_share
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1 ORDER BY o_year""")),

    // ---------------------------------------------------------------- q09
    // Profit by (supplier nation, order year).
    "q09_product_profit" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val p = t(s, d, "part").filter(col("p_name").contains("a"))
        val su = t(s, d, "supplier")
        val n = t(s, d, "nation")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(p, col("l_partkey") === col("p_partkey")) // part scales with lineitem — let AQE pick the strategy
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(dsum(revenue -
            col("p_retailprice") * lit(0.6) * col("l_quantity")).as("profit"))
          .orderBy(asc("nation"), desc("o_year"))
      },
      oracle = Some("""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount) - p_retailprice * 0.6 * l_quantity, 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS profit
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%a%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC""")),

    // ---------------------------------------------------------------- q10
    "q10_returned_items" -> QueryDef(
      build = (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= ts("1996-10-01") &&
                  col("o_orderdate") < ts("1997-01-01"))
        val l = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        val n = t(s, d, "nation")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(dsum(revenue).as("rev"))
          .orderBy(desc("rev"), asc("c_custkey"))
          .limit(20)
      },
      oracle = Some("""
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY rev DESC, c_custkey LIMIT 20""")),

    // ---------------------------------------------------------------- q11
    // HAVING vs scalar-subquery threshold; the scalar stays in-plan as a
    // broadcast cross join (no driver-side collect).
    "q11_important_balance" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val bySupp = l.groupBy("l_suppkey")
          .agg(dsumRaw(col("l_extendedprice")).as("raw_value"))
        // adaptive threshold: 1.01x the average per-supplier value, so the
        // predicate is meaningful at any scale factor. Comparison in
        // double over exact decimal sums -> engine-identical.
        //
        // Derived from bySupp itself (decimal sums re-sum exactly; group
        // count == countDistinct) rather than re-aggregating lineitem, so
        // the whole query reads the fact table ONCE: both consumers sit
        // above the same shuffle and ReuseExchange shares the scan.
        val total = bySupp.agg(
          sum(col("raw_value")).cast("double").as("tot"),
          count(lit(1)).cast("double").as("nsupp"))
        bySupp.crossJoin(broadcast(total))
          .filter(col("raw_value").cast("double") >
            col("tot") * lit(1.01) / col("nsupp"))
          .select(col("l_suppkey"),
            round(col("raw_value"), 2).cast("double").as("value"))
          .orderBy(desc("value"), asc("l_suppkey"))
      },
      oracle = Some("""
        SELECT l_suppkey, CAST(round(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS value
        FROM lineitem GROUP BY l_suppkey
        HAVING CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(30,6))) AS DOUBLE) >
               (SELECT CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(30,6))) AS DOUBLE) * 1.01
                       / count(DISTINCT l_suppkey) FROM lineitem)
        ORDER BY value DESC, l_suppkey""")),

    // ---------------------------------------------------------------- q12
    // Conditional counts (CASE) over a join.
    "q12_priority_case" -> QueryDef(
      build = (s, d) => {
        val o = t(s, d, "orders")
        val l = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
                  col("l_shipdate") < ts("1997-01-01"))
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_linestatus")
          .agg(
            count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
              .as("high_line_count"),
            count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
              .as("low_line_count"))
          .orderBy("l_linestatus")
      },
      oracle = Some("""
        SELECT l_linestatus,
               count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
                 AS high_line_count,
               count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
                 AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // ---------------------------------------------------------------- q13
    // Left outer join + two-level aggregation (customer order distribution).
    "q13_customer_distribution" -> QueryDef(
      build = (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_orderpriority") =!= "5-LOW")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count("o_orderkey").as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      oracle = Some("""
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) z
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---------------------------------------------------------------- q14
    // LIKE-conditional share of total (promo revenue share).
    "q14_promo_share" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-03-01") &&
                  col("l_shipdate") < ts("1996-05-01"))
        val p = t(s, d, "part")
        l.join(p, col("l_partkey") === col("p_partkey"))
          .agg(round(
            dsumRaw(when(col("p_type") === "PROMO", revenue).otherwise(lit(0.0)))
              .cast("double") * lit(100.0) /
              dsumRaw(revenue).cast("double"), 4).as("promo_share"))
      },
      oracle = Some("""
        SELECT round(100.0 * CAST(sum(CAST(round(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END, 6) AS DECIMAL(30,6))) AS DOUBLE)
                     / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))) AS DOUBLE), 4) AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate <  TIMESTAMP '1996-05-01'""")),

    // ---------------------------------------------------------------- q15
    // Agg subquery + join-to-max (top supplier by period revenue).
    "q15_top_supplier" -> QueryDef(
      build = (s, d) => {
        val rev = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
                  col("l_shipdate") < ts("1996-04-01"))
          .groupBy("l_suppkey")
          .agg(dsumRaw(revenue).as("total_rev"))
        val mx = rev.agg(max("total_rev").as("max_rev"))
        t(s, d, "supplier")
          .join(rev, col("s_suppkey") === col("l_suppkey"))
          .crossJoin(broadcast(mx))
          .filter(col("total_rev") === col("max_rev"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("total_rev"), 2).cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      oracle = Some("""
        WITH rev AS (
          SELECT l_suppkey, sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(round(total_rev, 2) AS DOUBLE) AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM rev)
        ORDER BY s_suppkey""")),

    // ---------------------------------------------------------------- q16
    // Count-distinct per group with an exclusion filter.
    "q16_supplier_cnt" -> QueryDef(
      build = (s, d) => {
        val p = t(s, d, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
                  col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        val l = t(s, d, "lineitem")
        l.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct("l_suppkey").as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
      },
      oracle = Some("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,10,15,20,25,30,35)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // ---------------------------------------------------------------- q17
    // Correlated scalar subquery (per-part average) — decorrelated into an
    // aggregate + re-join, which is exactly how it should run at scale.
    "q17_small_qty_avg" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val p = t(s, d, "part").filter(col("p_brand") === "Brand#3")
        val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
          .agg((avg("l_quantity") * lit(0.5)).as("half_avg"))
        // no broadcast hint: the brand filter keeps `part` small at test
        // scale (AQE broadcasts it at runtime), but part grows with the
        // facts, so a static hint would be wrong at 100 TB
        l.join(p, col("l_partkey") === col("p_partkey"))
          .join(avgQty, col("l_partkey") === col("ap_partkey"))
          .filter(col("l_quantity") < col("half_avg"))
          .agg(round(sum("l_extendedprice") / lit(7.0), 2).as("avg_yearly"))
      },
      oracle = Some("""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""")),

    // ---------------------------------------------------------------- q18
    // IN-subquery with HAVING (large-volume orders).
    "q18_large_orders" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val big = l.groupBy("l_orderkey")
          .agg(sum("l_quantity").as("tot_qty"))
          .filter(col("tot_qty") > 120)
          .select(col("l_orderkey").as("big_orderkey"))
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        o.join(big, col("o_orderkey") === col("big_orderkey"), "left_semi")
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(100)
      },
      oracle = Some("""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(l_quantity), 2) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // ---------------------------------------------------------------- q19
    // Disjunctive (OR-of-ANDs) join predicate.
    "q19_disjunctive_join" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val p = t(s, d, "part")
        val cond =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 30))
        l.join(p, col("l_partkey") === col("p_partkey") && cond)
          .agg(dsum(revenue).as("rev"))
      },
      oracle = Some("""
        SELECT CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
         AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
               AND l_quantity BETWEEN 20 AND 30))""")),

    // ---------------------------------------------------------------- q20
    // UNION ALL of two branches + aggregation.
    "q20_union_blend" -> QueryDef(
      build = (s, d) => {
        val o = t(s, d, "orders")
        val hi = o.filter(col("o_totalprice") > 300000)
          .select(lit("high").as("src"), col("o_totalprice").as("val"))
        val ur = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(lit("urgent").as("src"), col("o_totalprice").as("val"))
        hi.unionAll(ur)
          .groupBy("src")
          .agg(count(lit(1)).as("cnt"), dsum(col("val")).as("total"))
          .orderBy("src")
      },
      oracle = Some("""
        SELECT src, count(*) AS cnt, CAST(round(sum(CAST(round(val, 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS total FROM (
          SELECT 'high' AS src, o_totalprice AS val FROM orders
          WHERE o_totalprice > 300000
          UNION ALL
          SELECT 'urgent' AS src, o_totalprice AS val FROM orders
          WHERE o_orderpriority = '1-URGENT') z
        GROUP BY src ORDER BY src""")),

    // ---------------------------------------------------------------- q21
    // ROLLUP multi-level aggregation.
    "q21_rollup" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"),
               count(lit(1)).as("cnt"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("sum_qty"), col("cnt"))
          .orderBy("returnflag", "linestatus"),
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus""")),

    // ---------------------------------------------------------------- q22
    // Anti join + scalar-subquery filter (idle rich customers).
    "q22_anti_join" -> QueryDef(
      build = (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        val avgBal = c.filter(col("c_acctbal") > 0.0)
          .agg(avg("c_acctbal").as("avg_bal"))
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment, count(*) AS numcust,
               CAST(round(sum(CAST(round(c_acctbal, 6) AS DECIMAL(30,6))), 2) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---------------------------------------------------------------- q23
    "q23_distinct" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .select("l_returnflag", "l_linestatus", "l_linenumber")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus", "l_linenumber"),
      oracle = Some("""
        SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber
        FROM lineitem ORDER BY 1, 2, 3""")),

    // ---------------------------------------------------------------- q24
    // Global top-k: sort + limit with unique tie-break (TakeOrderedAndProject
    // — no full global sort materialization).
    "q24_sort_limit" -> QueryDef(
      build = (s, d) =>
        t(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderdate")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(50),
      oracle = Some("""
        SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""")),

    // ---------------------------------------------------------------- q25
    // Custom whole-operator plan node: per-group top-k via map-side
    // bounded heaps (graft.plans.TopKPerGroup) instead of
    // window(row_number) <= k — only k rows per group per partition reach
    // the shuffle. Oracle is the window formulation.
    "q25_topk_custom" -> QueryDef(
      build = (s, d) => {
        val o = t(s, d, "orders")
          .select("o_orderpriority", "o_orderkey", "o_totalprice")
        TopK.perGroup(o, Seq("o_orderpriority"),
            Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
          .orderBy(asc("o_orderpriority"), desc("o_totalprice"),
            asc("o_orderkey"))
      },
      oracle = Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) z
        WHERE rn <= 3
        ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""")),

    // ---------------------------------------------------------------- q26
    // Exact percentiles (sorted + interpolated — identical math to
    // DuckDB's quantile_cont). For 100 TB use approx sketches (q28);
    // exact percentile is the correctness baseline.
    "q26_percentiles" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
            round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
               round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --------------------------------------------------------------- q26b
    // The 100 TB percentile path: approx_percentile is a mergeable
    // bounded-memory sketch (GK-style) — partial sketches combine
    // map-side and only sketch summaries cross the shuffle, unlike exact
    // percentile which buffers every value per group on one reducer.
    // SKETCH-ONLY: no exact percentile anywhere in this plan. The sketch
    // is verified by its ACTUAL guarantee — rank error ≤ n/accuracy —
    // with a second plain conditional-count hash aggregation: the rank
    // interval [#rows < v, #rows ≤ v] of the returned value must
    // intersect [(q−ε)·n, (q+ε)·n] (interval form is tie-safe). Both
    // passes are streaming codegen'd hash aggs + a 3-row broadcast join,
    // so the whole check is bounded-memory at any scale, where the old
    // in-query exact-percentile verification cost more than the exact
    // operator it replaced. ε = 5× the sketch's 1/accuracy bound for
    // slack. Deterministic for fixed data → the oracle pins all-TRUE.
    // (The 5% VALUE-error bound vs exact percentiles is asserted in
    // RelationalExtSpec at sf0.001, not in the shipped plan.)
    "q26b_percentile_sketch" -> QueryDef(
      build = (s, d) => {
        val acc = 1000
        val eps = 5.0 / acc
        val li = t(s, d, "lineitem")
          .select("l_returnflag", "l_extendedprice", "l_quantity")
        // one summary serves both price quantiles (array form): measured
        // 1.7x faster than three independent sketches, same verdicts
        // (the rank check below tolerates any summary's ±eps)
        val sk = li.groupBy("l_returnflag")
          .agg(
            expr(s"approx_percentile(l_extendedprice, array(0.5, 0.9), $acc)")
              .as("ap"),
            expr(s"approx_percentile(l_quantity, 0.5, $acc)").as("aq50"))
          .select(col("l_returnflag"), col("ap").getItem(0).as("a50"),
            col("ap").getItem(1).as("a90"), col("aq50"))
        def cnt(pred: Column): Column = sum(when(pred, 1L).otherwise(0L))
        def rankOk(lt: Column, le: Column, q: Double): Column =
          (lt <= (lit(q) + eps) * col("n")) && (le >= (lit(q) - eps) * col("n"))
        li.join(broadcast(sk), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            cnt(col("l_extendedprice") < col("a50")).as("lt50"),
            cnt(col("l_extendedprice") <= col("a50")).as("le50"),
            cnt(col("l_extendedprice") < col("a90")).as("lt90"),
            cnt(col("l_extendedprice") <= col("a90")).as("le90"),
            cnt(col("l_quantity") < col("aq50")).as("ltq"),
            cnt(col("l_quantity") <= col("aq50")).as("leq"))
          .select(col("l_returnflag"),
            rankOk(col("lt50"), col("le50"), 0.5).as("p50_ok"),
            rankOk(col("lt90"), col("le90"), 0.9).as("p90_ok"),
            rankOk(col("ltq"), col("leq"), 0.5).as("p50_qty_ok"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, TRUE AS p50_ok, TRUE AS p90_ok,
               TRUE AS p50_qty_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q27
    // Fuzzy string matching: Levenshtein self-join on supplier names
    // (edit distance ≤ 1). Entity-resolution primitive.
    "q27_fuzzy_join" -> QueryDef(
      build = (s, d) => {
        // FastSS deletion-neighborhood blocking: lev(a,b) ≤ 1 implies a
        // and b share a member of {self} ∪ {one-char deletions}, so the
        // candidate join on deletion variants is a superset of the answer
        // and the exact levenshtein verify makes the result identical to
        // the all-pairs oracle — at O(n·len) index size instead of O(n²)
        // distance computations.
        val su = t(s, d, "supplier").select("s_suppkey", "s_name")
        val variants = su
          .select(col("s_suppkey"), col("s_name"),
            explode(expr("transform(sequence(0, length(s_name))," +
              " i -> concat(left(s_name, i), substring(s_name, i+2)))")).as("v"))
          .repartition(col("v"))
        val cand = variants.alias("x")
          .join(variants.alias("y"),
            col("x.v") === col("y.v") &&
              col("x.s_suppkey") < col("y.s_suppkey"))
          .select(col("x.s_suppkey").as("a_key"), col("x.s_name").as("a_name"),
            col("y.s_suppkey").as("b_key"), col("y.s_name").as("b_name"))
          .distinct()
        cand
          .filter(levenshtein(col("a_name"), col("b_name")) <= 1)
          .select(col("a_key"), col("b_key"),
            levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
          .orderBy("a_key", "b_key")
      },
      oracle = Some("""
        SELECT x.s_suppkey AS a_key, y.s_suppkey AS b_key,
               CAST(levenshtein(x.s_name, y.s_name) AS BIGINT) AS dist
        FROM supplier x JOIN supplier y ON x.s_suppkey < y.s_suppkey
        WHERE levenshtein(x.s_name, y.s_name) <= 1
        ORDER BY a_key, b_key""")),

    // ---------------------------------------------------------------- q28
    // Sketch aggregation: HyperLogLog++ approximate distinct vs exact.
    // At 100 TB the sketch is the headline — single pass, constant
    // memory, mergeable across partitions. The raw estimate is
    // engine-specific, so the verified surface is `exact_parts` plus a
    // `within_tol` bound on the sketch's relative error: HLL++ is
    // deterministic for fixed data, so the oracle's all-TRUE column
    // pins the sketch, not just the exact count.
    "q28_approx_distinct" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
            countDistinct("l_partkey").as("exact_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("approx_parts").cast("double") -
                 col("exact_parts").cast("double")) <=
              col("exact_parts").cast("double") * lit(0.05)).as("within_tol"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS within_tol
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q29
    // Typed Aggregator (Dataset-API custom aggregation): quantity-weighted
    // average price per return flag, with an exact decimal buffer so the
    // merge is associative (partition-order-free, like AggFns.dsum).
    "q29_typed_agg" -> QueryDef(
      build = (s, d) => {
        val wavg = udaf(graft.functions.TypedAggs.WeightedAvg)
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 4)
            .as("wavg_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               round(CAST(sum(CAST(round(l_extendedprice * l_quantity, 6)
                              AS DECIMAL(30,6))) AS DOUBLE)
                     / CAST(sum(CAST(round(l_quantity, 6)
                              AS DECIMAL(30,6))) AS DOUBLE), 4) AS wavg_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q30
    // Analytic window breadth: lag/lead/ntile over per-customer order
    // history (bounded partitions — scales with customer cardinality).
    "q30_window_funcs" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"))
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .withColumn("next_price", lead("o_totalprice", 1).over(w))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .filter(col("o_custkey") % 100 === 0)
          .select("o_custkey", "o_orderkey", "prev_price", "next_price", "quartile")
          .orderBy("o_custkey", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, prev_price, next_price, quartile FROM (
          SELECT o_custkey, o_orderkey,
                 lag(o_totalprice, 1) OVER w AS prev_price,
                 lead(o_totalprice, 1) OVER w AS next_price,
                 CAST(ntile(4) OVER w AS BIGINT) AS quartile
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) z
        WHERE o_custkey % 100 = 0
        ORDER BY o_custkey, o_orderkey""")),

    // ---------------------------------------------------------------- q31
    // CUBE multi-dimensional aggregation with grouping_id (TPC-DS-style;
    // the reference's TPC-DS workload exercises grouping sets in
    // q27/q36/q67, /root/reference/tpc-ds-gen/TPCDSPreparation.scala).
    // gid encodes which dimensions are aggregated-out (returnflag = MSB),
    // computed from grouping() bits identically on both engines so the
    // encoding is engine-independent.
    "q31_cube" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"),
            count(lit(1)).as("cnt"),
            (grouping("l_returnflag") * 2 + grouping("l_linestatus"))
              .cast("long").as("gid"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("gid"), col("sum_qty"), col("cnt"))
          .orderBy("gid", "returnflag", "linestatus"),
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS BIGINT) AS gid,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY gid, returnflag, linestatus""")),

    // ---------------------------------------------------------------- q32
    // INTERSECT / EXCEPT set operators (TPC-DS q8/q38/q87 shape):
    // customers ordering in both 1996 and 1997, and in 1996 only. Both
    // set ops are DISTINCT-semantics aggregations — one shuffle each on
    // the compared columns, no row-pair blowup. (When BOTH results are
    // needed from the same inputs, a single-scan conditional aggregation
    // — groupBy(key).agg(max(year=1996), max(year=1997)) — halves the
    // reads; kept as two genuine set operators here since that is the
    // operator class under test.)
    "q32_set_ops" -> QueryDef(
      build = (s, d) => {
        val o = t(s, d, "orders")
        def custsIn(y: Int) =
          o.filter(year(col("o_orderdate")) === y).select("o_custkey")
        val y96 = custsIn(1996)
        val y97 = custsIn(1997)
        y96.intersect(y97).select(lit("both").as("grp"), col("o_custkey"))
          .unionAll(
            y96.except(y97).select(lit("only_1996").as("grp"), col("o_custkey")))
          .orderBy("grp", "o_custkey")
      },
      oracle = Some("""
        SELECT 'both' AS grp, o_custkey FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
          INTERSECT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997) a
        UNION ALL
        SELECT 'only_1996' AS grp, o_custkey FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
          EXCEPT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997) b
        ORDER BY grp, o_custkey""")),

    // ---------------------------------------------------------------- q35
    // RANGE-frame running aggregate: cumulative order value per customer
    // where same-date orders aggregate TOGETHER (RANGE, not ROWS,
    // semantics — peers share the frame boundary). Window partitions by
    // the bounded customer key.
    "q35_window_range" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // RANGE needs a numeric order key; NTZ → LTZ → epoch seconds is
        // value-preserving under the UTC session timezone, and peers
        // (equal dates) stay peers
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").cast("timestamp_ltz").cast("long"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "orders")
          .withColumn("running_total",
            round(sum(col("o_totalprice").cast("decimal(30,6)"))
              .over(w).cast("double"), 2))
          .filter(col("o_custkey") % 100 === 0)
          .select("o_custkey", "o_orderkey", "o_orderdate", "running_total")
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, o_orderdate,
               round(CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(30,6)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 2) AS running_total
        FROM orders
        WHERE o_custkey % 100 = 0
        ORDER BY o_custkey, o_orderdate, o_orderkey""")),

    // ---------------------------------------------------------------- q36
    // PIVOT: order counts and rounded value sums per (year × priority)
    // — the wide-table reshaping operator. Spark's pivot with an explicit
    // value list stays a single hash aggregation (map-side partial aggs
    // carry one buffer slot per pivot value — no extra shuffle vs a
    // plain groupBy). Oracle via conditional aggregation.
    "q36_pivot" -> QueryDef(
      build = (s, d) =>
        t(s, d, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .select(col("o_year"),
            col("1-URGENT").as("urgent"), col("2-HIGH").as("high"),
            col("3-MEDIUM").as("medium"),
            col("4-NOT SPECIFIED").as("not_specified"), col("5-LOW").as("low"))
          .orderBy("o_year"),
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
               count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
               count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
               count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
                 AS not_specified,
               count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    // ---------------------------------------------------------------- q37
    // FULL OUTER join: per-nation wealthy-customer vs wealthy-supplier
    // counts — either side may miss a nation, both sides survive. Two
    // hash-agg shuffles + one key-partitioned join, no blowup.
    "q37_full_outer" -> QueryDef(
      build = (s, d) => {
        val c = t(s, d, "customer").filter(col("c_acctbal") > 7000)
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
        val su = t(s, d, "supplier").filter(col("s_acctbal") > 7000)
          .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
        c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
          .select(
            coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      oracle = Some("""
        SELECT coalesce(c.k, s.k) AS nationkey,
               coalesce(c.n_cust, 0) AS n_cust,
               coalesce(s.n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer
              WHERE c_acctbal > 7000 GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier
              WHERE s_acctbal > 7000 GROUP BY 1) s
          ON c.k = s.k
        ORDER BY nationkey""")),

    // ---------------------------------------------------------------- q38
    // Frequency-sketch heavy hitters: approx_top_k (mergeable bounded
    // top-k frequency sketch) completes the sketch triad next to HLL
    // distinct (q28) and percentile sketches (q26b). Verified surface:
    // the exact top-1 part must be tracked by the sketch with its exact
    // count (the sketch is exact while distinct keys <= maxItemsTracked,
    // which holds at verify scale; at 100 TB only the tracked-set
    // membership is guaranteed and the count becomes an overestimate).
    "q38_heavy_hitters" -> QueryDef(
      build = (s, d) => {
        val l = t(s, d, "lineitem")
        val approx = l.agg(expr("approx_top_k(l_partkey, 10, 10000)").as("tk"))
        val top1 = l.groupBy("l_partkey").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("l_partkey")).limit(1)
          .select(col("l_partkey").as("top_key"), col("n").as("top_n"))
        // try_element_at (not element_at): when the top-1 key is NOT in the
        // sketch's tracked set the filter yields an empty array, and under
        // ANSI element_at(.., 1) THROWS rather than returning NULL — i.e. a
        // query that passes at sf0.01 (all keys tracked) crashes at sf0.1+.
        // try_element_at is total: empty -> NULL -> coalesce -> false, which
        // is the documented semantics (count is only exact while tracked).
        top1.crossJoin(broadcast(approx))
          .select(
            exists(col("tk"), e => e.getField("item") === col("top_key"))
              .as("top1_tracked"),
            coalesce(
              try_element_at(filter(col("tk"),
                e => e.getField("item") === col("top_key")), lit(1))
                .getField("count") === col("top_n"),
              lit(false)).as("top1_count_exact"))
      },
      oracle = Some("""
        SELECT TRUE AS top1_tracked, TRUE AS top1_count_exact""")),

    // ---------------------------------------------------------------- q39
    // Recursive CTE (Spark 4's WITH RECURSIVE): chain walk over nation —
    // every 5th key roots a chain, successors attach by key adjacency.
    // The same SQL text (identical up to the table identifier) runs on
    // Spark and DuckDB, pinning engine parity for linear recursion:
    // seed scan + per-step equi-join, depth bounded by the data (4 here). Iterative plans
    // whose depth scales with data size use the dedicated operators
    // instead (d08's star CC, e03's window sessionization).
    "q39_recursive" -> QueryDef(
      build = (s, d) => {
        t(s, d, "nation").createOrReplaceTempView("graft_q39_nation")
        s.sql(recursiveChainSql("graft_q39_nation"))
      },
      oracle = Some(recursiveChainSql("nation"))),

    // ---------------------------------------------------------------- q40
    // Correlated LATERAL subquery join (SQL:1999 / Spark 4 / DuckDB):
    // top-2 customers by balance PER nation, expressed as a lateral
    // per-row subquery instead of a window rank — the same SQL text
    // runs on both engines (like q39). Spark decorrelates the
    // ORDER BY+LIMIT lateral into a partitioned window under the hood,
    // so the plan stays one shuffle keyed by nationkey — no per-nation
    // query storms at scale. The c_custkey tie-break inside the LIMIT
    // makes the SELECTION deterministic on both engines.
    "q40_lateral" -> QueryDef(
      build = (s, d) => {
        t(s, d, "nation").createOrReplaceTempView("graft_q40_nation")
        t(s, d, "customer").createOrReplaceTempView("graft_q40_customer")
        s.sql(lateralTopSql("graft_q40_nation", "graft_q40_customer"))
      },
      oracle = Some(lateralTopSql("nation", "customer"))),

    // ---------------------------------------------------------------- q41
    "q41_grouping_sets" -> QueryDef(
      build = (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("graft_q41_lineitem")
        s.sql(groupingSetsSql("graft_q41_lineitem"))
      },
      oracle = Some(groupingSetsSql("lineitem")))
    ,

    // ---------------------------------------------------------------- q42
    // MODE aggregate per group: the most frequent order priority per
    // order month, with its count and share. Two chained hash
    // aggregations — (month, priority) counts, then a min-struct argmax
    // per month — both with map-side partials; NO window, NO sort of the
    // per-group value stream. The struct orders by (−n, priority) so a
    // count tie resolves to the lexicographically smallest priority on
    // both engines deterministically. Per-month totals ride out of the
    // same first aggregate (sum over its groups), so the share costs no
    // extra scan. Output is |months| rows at any scale.
    "q42_mode" -> QueryDef(
      build = (s, d) => {
        val cnt = t(s, d, "orders")
          .select(date_trunc("month",
            col("o_orderdate").cast("timestamp")).as("month"),
            col("o_orderpriority"))
          .groupBy("month", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
        cnt.groupBy("month")
          .agg(
            min(struct((-col("n")).as("nn"),
              col("o_orderpriority").as("p"))).as("best"),
            sum("n").as("n_orders"))
          .select(col("month"),
            col("best.p").as("mode_priority"),
            (-col("best.nn")).as("n_mode"),
            col("n_orders"),
            round((-col("best.nn")).cast("double") / col("n_orders"), 4)
              .as("share"))
          .orderBy("month")
      },
      oracle = Some("""
        WITH cnt AS (
          SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                   AS month,
                 o_orderpriority, count(*) AS n
          FROM orders GROUP BY 1, 2),
        best AS (
          SELECT month, o_orderpriority AS mode_priority, n AS n_mode,
                 row_number() OVER (PARTITION BY month
                   ORDER BY n DESC, o_orderpriority) AS rk,
                 sum(n) OVER (PARTITION BY month) AS n_orders
          FROM cnt)
        SELECT month, mode_priority, n_mode,
               CAST(n_orders AS BIGINT) AS n_orders,
               round(CAST(n_mode AS DOUBLE) / n_orders, 4) AS share
        FROM best WHERE rk = 1 ORDER BY month"""))
    ,

    // ---------------------------------------------------------------- q43
    // Ranking-function family over TIED data: rank / dense_rank /
    // percent_rank / cume_dist per return flag, ordered by a count that
    // genuinely ties (completing q30's lag/lead/ntile coverage with the
    // gap/no-gap/relative rank semantics). Runs on the pre-aggregated
    // (flag, quantity) table — ≤ |flags|·50 constant rows into the
    // window, so the rank sort never touches fact-table volume. Tie
    // handling is the point: rank values are well-defined under any
    // within-peer order, so no unique tie-break is needed INSIDE the
    // window; the output ORDER BY carries the unique key. The two
    // relative ranks are single IEEE divisions of exact integers,
    // rounded at 6 dp for display.
    "q43_rank_funcs" -> QueryDef(
      build = (s, d) => {
        val cnt = t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("l_returnflag").orderBy(desc("n"))
        cnt.select(col("l_returnflag"), col("l_quantity"), col("n"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"),
            round(percent_rank().over(w), 6).as("prnk"),
            round(cume_dist().over(w), 6).as("cdist"))
          .orderBy("l_returnflag", "l_quantity")
      },
      oracle = Some("""
        WITH cnt AS (
          SELECT l_returnflag, l_quantity, count(*) AS n
          FROM lineitem GROUP BY 1, 2)
        SELECT l_returnflag, l_quantity, n,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               round(percent_rank() OVER w, 6) AS prnk,
               round(cume_dist() OVER w, 6) AS cdist
        FROM cnt
        WINDOW w AS (PARTITION BY l_returnflag ORDER BY n DESC)
        ORDER BY l_returnflag, l_quantity""")),

    // ---------------------------------------------------------------- q44
    // LEFT SEMI join (EXISTS): brands with at least one near-max-quantity
    // shipment, counted per brand. The semi join completes the join-type
    // family (inner/left/full q37/anti q22/semi here): the probe side
    // streams, each row emits at most once regardless of how many
    // lineitems match — no fan-out, no dedup. At 100 TB the filtered
    // build side (l_quantity >= 49 ≈ 4% of lineitem, projected to one
    // column) hashes small, and runtime bloom pruning cuts the part scan.
    "q44_semi_join" -> QueryDef(
      build = (s, d) => {
        val heavy = t(s, d, "lineitem")
          .filter(col("l_quantity") >= 49)
          .select(col("l_partkey"))
        t(s, d, "part")
          .join(heavy, col("p_partkey") === col("l_partkey"), "left_semi")
          .groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
          .orderBy("p_brand")
      },
      oracle = Some("""
        SELECT p_brand, count(*) AS n_parts
        FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey
                        AND l.l_quantity >= 49)
        GROUP BY p_brand ORDER BY p_brand""")),

    // ---------------------------------------------------------------- q45
    // UNPIVOT (melt) — q36's inverse: the wide per-year priority counts
    // fold back to (year, priority, n) rows via Dataset.unpivot. Pivot
    // leaves NULL where a (year, priority) combo has no orders;
    // unpivot keeps those rows and the coalesce restores count-0 — the
    // lossless wide↔long round-trip. Constant-width input, so unpivot
    // is a map-side Expand (rows × 5, no shuffle added).
    "q45_unpivot" -> QueryDef(
      build = (s, d) => {
        val wide = t(s, d, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .select(col("o_year"),
            col("1-URGENT").as("urgent"), col("2-HIGH").as("high"),
            col("3-MEDIUM").as("medium"),
            col("4-NOT SPECIFIED").as("not_specified"), col("5-LOW").as("low"))
        wide.unpivot(Array(col("o_year")),
            Array(col("urgent"), col("high"), col("medium"),
              col("not_specified"), col("low")),
            "priority", "n0")
          .select(col("o_year"), col("priority"),
            coalesce(col("n0"), lit(0L)).as("n"))
          .orderBy("o_year", "priority")
      },
      oracle = Some("""
        WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                          o_orderpriority FROM orders),
        g AS (SELECT DISTINCT o_year FROM y),
        l AS (SELECT * FROM (VALUES ('urgent', '1-URGENT'),
                ('high', '2-HIGH'), ('medium', '3-MEDIUM'),
                ('not_specified', '4-NOT SPECIFIED'), ('low', '5-LOW'))
                AS v(priority, raw))
        SELECT g.o_year, l.priority,
               (SELECT count(*) FROM y
                WHERE y.o_year = g.o_year AND y.o_orderpriority = l.raw) AS n
        FROM g CROSS JOIN l
        ORDER BY o_year, priority""")),

    // ---------------------------------------------------------------- q46
    // NULL-SAFE equality join (<=>): two yearly aggregations keyed by a
    // NULLABLE key (priority with '5-LOW' nulled out) joined with
    // null-safe equality, so the NULL groups MATCH each other instead of
    // silently dropping — the semantics a plain `=` join gets wrong on
    // nullable keys. Same hash-join shape as an equi-join (null-safe
    // equality is still a hashable key: NULL hashes as a value).
    "q46_null_safe_join" -> QueryDef(
      build = (s, d) => {
        def side(yr: Int, out: String) =
          t(s, d, "orders")
            .filter(year(col("o_orderdate")) === yr)
            .groupBy(nullif(col("o_orderpriority"), lit("5-LOW")).as(s"k_$out"))
            .agg(count(lit(1)).as(out))
        val a = side(1996, "n96")
        val b = side(1997, "n97")
        a.join(b, col("k_n96") <=> col("k_n97"), "full_outer")
          .select(coalesce(col("k_n96"), col("k_n97")).as("prio_key"),
            col("n96"), col("n97"),
            (col("k_n96").isNull && col("n96").isNotNull).as("is_null_key"))
          .orderBy(col("prio_key").asc_nulls_first)
      },
      oracle = Some("""
        WITH a AS (
          SELECT nullif(o_orderpriority, '5-LOW') AS k, count(*) AS n96
          FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        b AS (
          SELECT nullif(o_orderpriority, '5-LOW') AS k, count(*) AS n97
          FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1)
        SELECT coalesce(a.k, b.k) AS prio_key, a.n96, b.n97,
               a.k IS NULL AND a.n96 IS NOT NULL AS is_null_key
        FROM a FULL OUTER JOIN b ON a.k IS NOT DISTINCT FROM b.k
        ORDER BY prio_key ASC NULLS FIRST""")),

    // ---------------------------------------------------------------- q47
    // WIDTH_BUCKET numeric histogram: extended-price distribution over
    // 20 equal bins on integer-cent edges (the bin function runs on
    // exact BIGINT cents, so bucket membership can never flip on a
    // float boundary). One map-side bucket assignment + hash aggregate;
    // 22 rows max (bins + under/overflow) at any scale.
    "q47_price_histogram" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long")
            .as("cents"))
          .select(width_bucket(col("cents"), lit(0L), lit(10000000L),
            lit(20)).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      oracle = Some("""
        WITH c AS (
          SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
          FROM lineitem)
        SELECT CAST(CASE WHEN cents < 0 THEN 0
                         WHEN cents >= 10000000 THEN 21
                         ELSE cents * 20 // 10000000 + 1 END AS BIGINT)
                 AS bucket,
               count(*) AS n
        FROM c GROUP BY 1 ORDER BY bucket""")),

    // ---------------------------------------------------------------- q48
    // Relational DIVISION (universal quantification): which suppliers
    // cover ALL brands present among size-1 parts? The textbook double-
    // NOT-EXISTS is re-expressed as the scalable count-compare: distinct
    // (supplier, brand) pairs → per-supplier coverage count vs the
    // broadcast 1-row universe size. One lineitem⋈part join (planner
    // picks SMJ once part outgrows the broadcast threshold), two hash
    // aggregates, no correlated subquery. Emits the full coverage
    // report (covers_all flag) so the operator is useful — and
    // non-degenerate — even when nobody covers the whole universe;
    // the planted spec pins the true case.
    "q48_division" -> QueryDef(
      build = (s, d) => {
        val sz1 = t(s, d, "part").filter(col("p_size") === 1)
          .select("p_partkey", "p_brand")
        val universe = sz1.agg(countDistinct("p_brand").as("n_universe"))
        val cover = t(s, d, "lineitem")
          .join(sz1, col("l_partkey") === col("p_partkey"))
          .select("l_suppkey", "p_brand").distinct()
          .groupBy("l_suppkey").agg(count(lit(1)).as("n_brands"))
        cover.crossJoin(broadcast(universe))
          .select(col("l_suppkey").as("suppkey"), col("n_brands"),
            col("n_universe"),
            (col("n_brands") === col("n_universe")).as("covers_all"))
          .orderBy("suppkey")
      },
      oracle = Some("""
        WITH sz1 AS (SELECT p_partkey, p_brand FROM part WHERE p_size = 1),
        u AS (SELECT count(DISTINCT p_brand) AS n_universe FROM sz1),
        sb AS (SELECT DISTINCT l_suppkey, p_brand
               FROM lineitem JOIN sz1 ON p_partkey = l_partkey),
        cov AS (SELECT l_suppkey AS suppkey, count(*) AS n_brands
                FROM sb GROUP BY 1)
        SELECT suppkey, n_brands, n_universe,
               n_brands = n_universe AS covers_all
        FROM cov CROSS JOIN u ORDER BY suppkey""")),

    // ---------------------------------------------------------------- q49
    // Correlated scalar subquery ("orders above their customer's
    // average") in the scalable DECORRELATED form: one pre-aggregation
    // per customer + an equi-join — never a per-row subquery execution.
    // The comparison and the reported excess are DIVISION-FREE exact
    // decimal arithmetic (price·n > total instead of price > total/n —
    // no engine-specific decimal-division rounding can flip a row near
    // the boundary); the output value is the excess × n, rounded to
    // cents for display. Top-20 with o_orderkey tie-break.
    "q49_above_avg" -> QueryDef(
      build = (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("p"))
        val ca = o.groupBy("o_custkey")
          .agg(sum(col("p")).as("tot"),
            count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(8, 0))
              .as("n"))
        o.join(ca, "o_custkey")
          .withColumn("pn", col("p") * col("n"))
          .filter(col("pn") > col("tot"))
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("pn") - col("tot"), 2).cast("double").as("excess_x_n"),
            col("n").cast("long").as("n_orders"))
          .orderBy(col("excess_x_n").desc, col("o_orderkey"))
          .limit(20)
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_orderkey, o_custkey,
                 CAST(round(o_totalprice, 6) AS DECIMAL(18,6)) AS p
          FROM orders),
        ca AS (
          SELECT o_custkey, sum(p) AS tot,
                 CAST(count(*) AS DECIMAL(8,0)) AS n
          FROM o GROUP BY o_custkey)
        SELECT o.o_orderkey, o.o_custkey,
               CAST(round(o.p * ca.n - ca.tot, 2) AS DOUBLE) AS excess_x_n,
               CAST(ca.n AS BIGINT) AS n_orders
        FROM o JOIN ca USING (o_custkey)
        WHERE o.p * ca.n > ca.tot
        ORDER BY excess_x_n DESC, o_orderkey LIMIT 20""")),

    // ---------------------------------------------------------------- q50
    // Conditional-aggregate battery: count_if / bool_or / bool_and — the
    // FILTER-clause family that replaces "N queries, one per predicate"
    // with one pass (every branch rides the same hash aggregate with
    // map-side partials; at 100 TB this is 1 scan instead of 4). Share
    // in basis points by exact integer division. Closes the §2.A
    // aggregate-function inventory alongside q42 (mode) / q29 (typed).
    "q50_agg_filters" -> QueryDef(
      build = (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            expr("count_if(l_quantity > 25)").as("n_bulk"),
            expr("bool_or(l_discount > 0.08)").as("any_deep_discount"),
            expr("bool_and(l_tax >= 0)").as("taxes_nonneg"))
          .select(col("l_returnflag"), col("n_items"), col("n_bulk"),
            expr("n_bulk * 10000 div n_items").as("bulk_bp"),
            col("any_deep_discount"), col("taxes_nonneg"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               count(*) AS n_items,
               CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
                 AS n_bulk,
               CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
                 * 10000 // count(*) AS bulk_bp,
               bool_or(l_discount > 0.08) AS any_deep_discount,
               bool_and(l_tax >= 0) AS taxes_nonneg
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q51
    // Running DISTINCT count — "cumulative distinct customers per nation
    // by month". COUNT(DISTINCT) OVER a running frame is unsupported (or
    // quadratic) in most engines; the scalable rewrite is first-touch
    // attribution: a customer contributes distinctness exactly once, at
    // its MIN month, so per-(nation, month) first-touch counts + a
    // cumulative sum reproduce the running distinct exactly. Shuffles
    // are keyed by (nation, customer) then (nation, month); the window
    // runs over the |nations|×|months|-bounded rollup only — the
    // pattern that makes "distinct users to date" tractable at 100 TB.
    "q51_running_distinct" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ym = (year(col("o_orderdate").cast("timestamp")) * 100
          + month(col("o_orderdate").cast("timestamp"))).cast("long")
        val firsts = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").cast("long").as("nation"),
            col("o_custkey"), ym.as("ym"))
          .groupBy("nation", "o_custkey").agg(min("ym").as("ym"))
        firsts.groupBy("nation", "ym")
          .agg(count(lit(1)).as("new_customers"))
          .withColumn("cum_customers",
            sum("new_customers").over(
              Window.partitionBy("nation").orderBy("ym")))
          .orderBy("nation", "ym")
      },
      oracle = Some("""
        WITH f AS (
          SELECT CAST(c.c_nationkey AS BIGINT) AS nation, o.o_custkey,
                 min(year(CAST(o.o_orderdate AS TIMESTAMP)) * 100
                     + month(CAST(o.o_orderdate AS TIMESTAMP))) AS ym
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2),
        n AS (
          SELECT nation, CAST(ym AS BIGINT) AS ym,
                 count(*) AS new_customers
          FROM f GROUP BY 1, 2)
        SELECT nation, ym, new_customers,
               CAST(sum(new_customers) OVER (PARTITION BY nation
                 ORDER BY ym) AS BIGINT) AS cum_customers
        FROM n ORDER BY nation, ym""")),

    // ---------------------------------------------------------------- q52
    // Year-over-year growth per nation: yearly revenue (order-free
    // DECIMAL sum), previous year via lag, and the growth rate in basis
    // points computed ENTIRELY in integer arithmetic on micro-units —
    // sign split so truncation is toward zero on both engines (Spark
    // `div` truncates, DuckDB `//` floors; they differ on negatives,
    // and a down year makes the delta negative). The window runs over
    // the |nations|×|years| rollup only; the fact scan is one hash
    // aggregate with map-side partials.
    "q52_yoy_growth" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy("nation").orderBy("yr")
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            year(col("o_orderdate").cast("timestamp")).cast("long").as("yr"))
          .agg((dsumRaw(revenue) * 1000000).cast("long").as("rev_u"))
          .withColumn("prev_u", lag("rev_u", 1).over(w))
          .filter(col("prev_u").isNotNull)
          .select(col("nation"), col("yr"),
            round(col("rev_u") / 1e6, 2).as("revenue"),
            round(col("prev_u") / 1e6, 2).as("prev_revenue"),
            (signum(col("rev_u") - col("prev_u")).cast("long") *
              expr("abs(rev_u - prev_u) * 10000 div prev_u"))
              .as("growth_bp"))
          .orderBy("nation", "yr")
      },
      oracle = Some("""
        WITH y AS (
          SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
                 CAST(year(CAST(o.o_orderdate AS TIMESTAMP)) AS BIGINT)
                   AS yr,
                 CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount),
                   6) AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS rev_u
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          GROUP BY 1, 2),
        w AS (
          SELECT nation, yr, rev_u,
                 lag(rev_u) OVER (PARTITION BY nation ORDER BY yr)
                   AS prev_u
          FROM y)
        SELECT nation, yr,
               round(rev_u / 1e6, 2) AS revenue,
               round(prev_u / 1e6, 2) AS prev_revenue,
               CAST(sign(rev_u - prev_u) AS BIGINT)
                 * (abs(rev_u - prev_u) * 10000 // prev_u) AS growth_bp
        FROM w WHERE prev_u IS NOT NULL
        ORDER BY nation, yr""")),

    // ---------------------------------------------------------------- q53
    // MERGE / UPSERT reconciliation: apply a deterministic correction
    // delta to orders — every 97th key re-priced (+10.00), every 199th
    // key re-keyed high (an insert) — via the scalable MERGE shape: ONE
    // key-keyed full-outer join with delta-wins coalesce. This is the
    // warehouse CDC-apply primitive (Delta/Iceberg MERGE INTO compiles
    // to exactly this join); expressing it relationally keeps it one
    // shuffle of each side at any scale, with AQE free to broadcast a
    // small delta — no row-at-a-time upsert loop anywhere. The
    // reconciliation row (inserted/updated/unchanged + order-free
    // decimal totals before/after) is what a 100 TB CDC job publishes
    // to prove the merge did what the delta said.
    "q53_merge_upsert" -> QueryDef(
      build = (s, d) => {
        val base = t(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        val delta = base.filter(col("k") % 97 === 0)
          .select(col("k"), (col("p") + 10.0).as("p"))
          .unionAll(base.filter(col("k") % 199 === 0)
            .select((col("k") + 1000000000L).as("k"), col("p")))
        base.select(col("k"), col("p").as("bp"))
          .join(delta.select(col("k"), col("p").as("dp")),
            Seq("k"), "full_outer")
          .agg(count(lit(1)).as("n_merged"),
            sum(when(col("bp").isNull, 1L).otherwise(0L)).as("n_inserted"),
            sum(when(col("bp").isNotNull && col("dp").isNotNull, 1L)
              .otherwise(0L)).as("n_updated"),
            sum(when(col("dp").isNull, 1L).otherwise(0L)).as("n_unchanged"),
            dsum(coalesce(col("bp"), lit(0.0))).as("total_before"),
            dsum(coalesce(col("dp"), col("bp"))).as("total_after"))
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        delta AS (
          SELECT k, p + 10.0 AS p FROM base WHERE k % 97 = 0
          UNION ALL
          SELECT k + 1000000000, p FROM base WHERE k % 199 = 0),
        m AS (
          SELECT base.k AS bk, base.p AS bp, delta.k AS dk, delta.p AS dp
          FROM base FULL OUTER JOIN delta ON base.k = delta.k)
        SELECT count(*) AS n_merged,
               CAST(sum(CASE WHEN bk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_inserted,
               CAST(sum(CASE WHEN bk IS NOT NULL AND dk IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
               CAST(sum(CASE WHEN dk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unchanged,
               ${graft.functions.AggFns.sqlDsum("coalesce(bp, 0.0)")}
                 AS total_before,
               ${graft.functions.AggFns.sqlDsum("coalesce(dp, bp)")}
                 AS total_after
        FROM m""")),

    // ---------------------------------------------------------------- q54
    // CORRELATION matrix in EXACT sums: Pearson r for the three
    // quantity/price/discount pairs from the five power sums
    // (n, Σx, Σy, Σxy, Σx², Σy²) — each exact, because inputs convert
    // to integer CENTS first (2-dp money is exact in cents) and the
    // sums accumulate in DECIMAL(38,0). The only floating point is the
    // terminal (nΣxy−ΣxΣy)/√(...) — every operand identical on both
    // engines, and IEEE ÷ and √ are correctly rounded, so the double
    // is bit-identical with NO display rounding at all. This is the
    // 100 TB corr(): one hash aggregate with map-side partials; the
    // built-in corr() accumulates floats in partition order and can
    // never hash-match across engines — the power-sum form is both
    // faster (integer adds) and deterministic.
    "q54_corr_matrix" -> QueryDef(
      build = (s, d) => {
        val li = t(s, d, "lineitem").select(
          expr("CAST(round(l_quantity * 100, 0) AS DECIMAL(38,0))")
            .as("q"),
          expr("CAST(round(l_extendedprice * 100, 0) AS DECIMAL(38,0))")
            .as("p"),
          expr("CAST(round(l_discount * 100, 0) AS DECIMAL(38,0))")
            .as("di"))
        // ONE pass computes every moment (3 sums, 3 squares, 3 cross
        // products); the 3 report rows then explode out of the single
        // aggregate row. The r9 shape union'd three per-pair aggregates
        // — three full fact scans for one answer (and 3× the decimal
        // work); at 100 TB that is the whole cost of the query.
        val sums = li.agg(count(lit(1)).as("n"),
          sum(col("q")).as("sq"), sum(col("p")).as("sp"),
          sum(col("di")).as("sdi"),
          sum(col("q") * col("p")).as("sqp"),
          sum(col("q") * col("di")).as("sqdi"),
          sum(col("p") * col("di")).as("spdi"),
          sum(col("q") * col("q")).as("sqq"),
          sum(col("p") * col("p")).as("spp"),
          sum(col("di") * col("di")).as("sdidi"))
        def r(sx: String, sy: String, sxy: String, sxx: String,
              syy: String) =
          (expr(s"CAST(n * $sxy - $sx * $sy AS DOUBLE)") /
            sqrt(expr(s"CAST(n * $sxx - $sx * $sx AS DOUBLE)") *
              expr(s"CAST(n * $syy - $sy * $sy AS DOUBLE)")))
        sums.select(explode(array(
            struct(lit("price_discount").as("pair"), col("n"),
              r("sp", "sdi", "spdi", "spp", "sdidi").as("r")),
            struct(lit("qty_discount").as("pair"), col("n"),
              r("sq", "sdi", "sqdi", "sqq", "sdidi").as("r")),
            struct(lit("qty_price").as("pair"), col("n"),
              r("sq", "sp", "sqp", "sqq", "spp").as("r")))).as("row"))
          .select(col("row.pair").as("pair"), col("row.n").as("n"),
            col("row.r").as("r"))
          .orderBy("pair")
      },
      oracle = Some("""
        WITH c AS (
          SELECT CAST(round(l_quantity * 100, 0) AS HUGEINT) AS q,
                 CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS p,
                 CAST(round(l_discount * 100, 0) AS HUGEINT) AS di
          FROM lineitem),
        s AS (
          SELECT 'qty_price' AS pair, count(*) AS n,
                 sum(q) AS sx, sum(p) AS sy, sum(q * p) AS sxy,
                 sum(q * q) AS sxx, sum(p * p) AS syy
          FROM c
          UNION ALL
          SELECT 'qty_discount', count(*), sum(q), sum(di), sum(q * di),
                 sum(q * q), sum(di * di) FROM c
          UNION ALL
          SELECT 'price_discount', count(*), sum(p), sum(di), sum(p * di),
                 sum(p * p), sum(di * di) FROM c)
        SELECT pair, n,
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(n * syy - sy * sy AS DOUBLE)) AS r
        FROM s ORDER BY pair""")),

    // ---------------------------------------------------------------- q55
    // OLS TREND slope per nation: least-squares slope of monthly
    // revenue over the month index, in q54's exact power-sum scheme —
    // month indices and revenue CENTS are integers, the five sums
    // accumulate in DECIMAL(38,0), and the slope is one terminal
    // IEEE division of two exactly-computed operands (bit-identical
    // across engines, no display rounding). The trend VERDICT is the
    // exact integer sign of the numerator — no float ever decides
    // "growing or shrinking". Physically: the fact table collapses to
    // the |nations|×|months| rollup first (one hash agg), the
    // regression is a second |nations|-row agg — the shape that makes
    // per-group OLS free at 100 TB. Single-month nations have no
    // defined slope (denominator 0) and are excluded explicitly.
    "q55_trend_slope" -> QueryDef(
      build = (s, d) => {
        val monthly = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            (year(col("o_orderdate").cast("timestamp")) * 12 +
              month(col("o_orderdate").cast("timestamp")) - 1)
              .cast("long").as("ym"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) " +
            "AS DECIMAL(38,0))")).as("rev_c"))
        monthly.groupBy("nation")
          .agg(count(lit(1)).as("n_months"),
            sum(col("ym").cast("decimal(38,0)")).as("sx"),
            sum(col("rev_c")).as("sy"),
            sum(col("ym").cast("decimal(38,0)") * col("rev_c")).as("sxy"),
            sum(col("ym").cast("decimal(38,0)") * col("ym")).as("sxx"))
          .filter(col("n_months") >= 2)
          .select(col("nation"), col("n_months"),
            (expr("CAST(n_months * sxy - sx * sy AS DOUBLE)") /
              expr("CAST(n_months * sxx - sx * sx AS DOUBLE)"))
              .as("slope_c_per_month"),
            expr("CAST(sign(n_months * sxy - sx * sy) AS BIGINT)")
              .as("trend"))
          .orderBy("nation")
      },
      oracle = Some("""
        WITH m AS (
          SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
                 CAST(year(CAST(o_orderdate AS TIMESTAMP)) * 12
                   + month(CAST(o_orderdate AS TIMESTAMP)) - 1 AS BIGINT)
                   AS ym,
                 sum(CAST(round(o_totalprice * 100, 0) AS HUGEINT))
                   AS rev_c
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2),
        s AS (
          SELECT nation, count(*) AS n_months,
                 sum(ym) AS sx, sum(rev_c) AS sy,
                 sum(ym * rev_c) AS sxy, sum(ym * ym) AS sxx
          FROM m GROUP BY nation HAVING count(*) >= 2)
        SELECT nation, n_months,
               CAST(n_months * sxy - sx * sy AS DOUBLE) /
                 CAST(n_months * sxx - sx * sx AS DOUBLE)
                 AS slope_c_per_month,
               CAST(sign(n_months * sxy - sx * sy) AS BIGINT) AS trend
        FROM s ORDER BY nation""")),

    // ---------------------------------------------------------------- q56
    // SKYLINE (Pareto frontier) over parts: cheapest-for-their-demand
    // parts — p is dominated iff some q has price ≤, demand ≥, one
    // strict. Runs on the |parts|-row per-part aggregate (price in
    // exact integer cents, demand an exact integer unit sum), never on
    // the fact table: the only fact-side work is one hash aggregate.
    // The frontier itself falls out of two window passes over the dim
    // aggregate — m_lt = max demand at strictly lower price (RANGE
    // frame on integer cents, so price peers are handled exactly) and
    // m_eq = max demand at the same price — p survives iff
    // m_lt < demand (nothing cheaper matches it) and m_eq = demand
    // (nothing at its price beats it; equal points co-survive). That is
    // O(n log n) against the textbook O(n²) dominance self-join — which
    // is exactly what the DuckDB oracle runs (NOT EXISTS), so the two
    // engines cross-check INDEPENDENT formulations. The running max is
    // NOT a single-task global window: prices bucket into fixed $81.92
    // bands, per-band maxima prefix-combine over the tiny band table
    // (the only global window — bounded by the PRICE RANGE, not the
    // part count), and each band ranks internally in parallel — e33's
    // time-keyed TwoPassPrefix shape keyed by price, composing exactly
    // because (band, price) order IS price order. A same-price peer
    // never splits across bands (band = price div C), so the in-band
    // RANGE frame sees every strictly-cheaper peer of its band and the
    // prefix carries the rest.
    "q56_skyline" -> QueryDef(
      build = (s, d) => {
        val demand = t(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(expr("CAST(round(l_quantity, 0) AS BIGINT)"))
            .as("demand"))
        val pts = t(s, d, "part")
          .join(demand, col("p_partkey") === col("l_partkey"))
          .select(col("p_partkey"),
            expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)")
              .as("price_c"),
            col("demand"))
          .withColumn("band", expr("price_c div 8192"))
        val bandPref = pts.groupBy("band")
          .agg(max("demand").as("bmax"))
          .withColumn("pref", max("bmax").over(
            Window.orderBy("band")
              .rowsBetween(Window.unboundedPreceding, -1)))
          .select("band", "pref")
        val wLt = Window.partitionBy("band").orderBy("price_c")
          .rangeBetween(Window.unboundedPreceding, -1)
        val wEq = Window.partitionBy("price_c")
        pts.join(broadcast(bandPref), "band")
          .withColumn("m_lt",
            greatest(coalesce(max("demand").over(wLt), lit(Long.MinValue)),
              coalesce(col("pref"), lit(Long.MinValue))))
          .withColumn("m_eq", max("demand").over(wEq))
          .filter(col("m_lt") < col("demand") &&
            col("m_eq") === col("demand"))
          .select(col("p_partkey"), col("price_c"), col("demand"))
          .orderBy("price_c", "p_partkey")
      },
      oracle = Some("""
        WITH pts AS (
          SELECT p_partkey,
                 CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_c,
                 CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
                   AS demand
          FROM part JOIN lineitem ON p_partkey = l_partkey
          GROUP BY 1, 2)
        SELECT p_partkey, price_c, demand
        FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts q
          WHERE q.price_c <= p.price_c AND q.demand >= p.demand
            AND (q.price_c < p.price_c OR q.demand > p.demand))
        ORDER BY price_c, p_partkey""")),

    // ---------------------------------------------------------------- q57
    // TOP-N + OTHER report: the classic dashboard rollup — top-5 nations
    // by order revenue as named rows, everything else collapsed into one
    // OTHER row, with each group's share of total in exact integer basis
    // points. The fact table is touched ONCE (one hash agg to the
    // 25-nation rollup with map-side partials); the rank, the regroup
    // and the share all run on that dim-bounded table, so the report
    // costs one aggregation pass at any corpus size. Ranking is on the
    // exact DECIMAL revenue with the nation name as tie-break
    // (deterministic cut), and the share is micros-scaled DECIMAL(38,0)
    // integer division — no float until the displayed revenue itself.
    "q57_top_others" -> QueryDef(
      build = (s, d) => {
        val byNation = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(dsumRaw(col("o_totalprice")).as("revd"),
            count(lit(1)).as("n_orders"))
        val w = Window.orderBy(col("revd").desc, col("n_name"))
        // both the rank and the grand total are windows over the
        // dim-bounded rollup, so the fact table is scanned exactly once
        // (a crossJoin'd scalar total would re-derive the whole agg)
        byNation
          .withColumn("grp",
            when(row_number().over(w) <= 5, col("n_name"))
              .otherwise(lit("OTHER")))
          .groupBy("grp")
          .agg(sum("revd").as("grevd"), sum("n_orders").as("n_orders"))
          .withColumn("gmic",
            (col("grevd") * 1000000L).cast("decimal(38,0)"))
          .withColumn("tmic", sum("gmic").over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .select(col("grp").as("nation"), col("n_orders"),
            round(col("grevd"), 2).cast("double").as("revenue"),
            expr("CAST((gmic * 10000) DIV tmic AS BIGINT)").as("share_bp"))
          .orderBy(col("revenue").desc, col("nation"))
      },
      oracle = Some(s"""
        WITH byn AS (
          SELECT n_name, ${graft.functions.AggFns.sqlDsumRaw("o_totalprice")}
                   AS revd, count(*) AS n_orders
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1),
        g AS (
          SELECT CASE WHEN row_number()
                        OVER (ORDER BY revd DESC, n_name) <= 5
                      THEN n_name ELSE 'OTHER' END AS nation,
                 revd, n_orders
          FROM byn),
        agg AS (
          SELECT nation, sum(revd) AS grevd,
                 CAST(sum(revd) * 1000000 AS HUGEINT) AS gmic,
                 CAST(sum(n_orders) AS BIGINT) AS n_orders
          FROM g GROUP BY 1),
        tot AS (SELECT sum(gmic) AS tmic FROM agg)
        SELECT nation, n_orders,
               CAST(round(grevd, 2) AS DOUBLE) AS revenue,
               CAST((gmic * 10000) // tmic AS BIGINT) AS share_bp
        FROM agg CROSS JOIN tot
        ORDER BY revenue DESC, nation""")),

    // ---------------------------------------------------------------- q58
    // EXACT per-group median WITHOUT sorting the data: the value
    // HISTOGRAM path — q26's sort-based exact percentile is the
    // correctness baseline, but at 100 TB an exact median over a
    // quantized domain (integer quantities, cents, ratings) should be
    // one hash aggregate, a flag-partitioned cumulative sum over the
    // ≤|flags|×|values| histogram, and a conditional min: the fact
    // table is touched once and NOTHING is ever globally sorted. Both
    // middle ranks (k1=(n+1) div 2, k2=(n+2) div 2) resolve as
    // "smallest value whose cumulative count reaches the rank" in the
    // SAME single aggregate (cum is monotone in v), so odd/even parity
    // needs no branching and the even-case mean is one exact integer
    // add + one division by 2. No joins, no second fact pass.
    "q58_group_median" -> QueryDef(
      build = (s, d) => {
        val hist = t(s, d, "lineitem")
          .select(col("l_returnflag").as("flag"),
            expr("CAST(round(l_quantity, 0) AS BIGINT)").as("v"))
          .groupBy("flag", "v").agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy("flag").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("flag")
        hist
          .withColumn("cum", sum("c").over(wCum))
          .withColumn("n", sum("c").over(wAll))
          .groupBy("flag")
          .agg(max("n").as("n"),
            min(when(expr("(n + 1) div 2") <= col("cum"), col("v")))
              .as("v1"),
            min(when(expr("(n + 2) div 2") <= col("cum"), col("v")))
              .as("v2"))
          .select(col("flag"), col("n"),
            ((col("v1") + col("v2")).cast("double") / lit(2.0))
              .as("median"))
          .orderBy("flag")
      },
      oracle = Some("""
        WITH h AS (
          SELECT l_returnflag AS flag,
                 CAST(round(l_quantity, 0) AS BIGINT) AS v,
                 count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        cum AS (
          SELECT flag, v,
                 sum(c) OVER (PARTITION BY flag ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY flag) AS n
          FROM h)
        SELECT flag, CAST(max(n) AS BIGINT) AS n,
               CAST(min(CASE WHEN (n + 1) // 2 <= cum THEN v END)
                    + min(CASE WHEN (n + 2) // 2 <= cum THEN v END)
                    AS DOUBLE) / 2.0 AS median
        FROM cum GROUP BY flag ORDER BY flag""")),

    // ---------------------------------------------------------------- q59
    // LATEST-ROW-PER-KEY as an AGGREGATE, not a window: each customer's
    // most recent order via max_by over an exact integer order key
    // (epoch-day·10¹⁰ + orderkey — total order, orderkey breaks date
    // ties). The ubiquitous row_number()-over-key-order-desc
    // formulation shuffles EVERY row to its key's partition and sorts;
    // the argmax AGGREGATE keeps one struct per key in the map-side
    // partial, so the shuffle carries |keys| rows, not |orders| — at
    // 100 TB that is the difference between moving the fact table and
    // moving the answer. Tripwired: no Window, partial+final
    // HashAggregate pair. The packed key is DECIMAL: day·10¹⁹ +
    // orderkey, injective for EVERY int64 orderkey (0 ≤ key ≤ 2⁶³−1 <
    // 10¹⁹, so the orderkey can never bleed into the day component at
    // any scale — the r9 BIGINT·10¹⁰ packing inverted past ~10¹⁰ keys);
    // DuckDB runs the identical packing in HUGEINT. Boundary-pinned in
    // RelationalExtSpec (orderkey at Long.MaxValue).
    "q59_latest_order" -> QueryDef(
      build = (s, d) => {
        val day =
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        val ordKey =
          day.cast("decimal(10,0)") *
            expr("CAST(10000000000000000000 AS DECIMAL(20,0))") +
            col("o_orderkey")
        t(s, d, "orders")
          .groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("n_orders"),
            max_by(struct(col("o_orderkey").as("k"), day.as("day"),
              col("o_totalprice").as("p")), ordKey).as("last"))
          .select(col("custkey"), col("n_orders"),
            col("last").getField("k").as("last_orderkey"),
            col("last").getField("day").as("last_day"),
            col("last").getField("p").as("last_price"))
          .orderBy("custkey")
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 epoch_us(CAST(o_orderdate AS TIMESTAMP))
                   // 86400000000 AS day,
                 CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                   // 86400000000 AS HUGEINT)
                   * 10000000000000000000 + o_orderkey AS ord
          FROM orders)
        SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
               arg_max(o_orderkey, ord) AS last_orderkey,
               CAST(arg_max(day, ord) AS BIGINT) AS last_day,
               arg_max(o_totalprice, ord) AS last_price
        FROM o GROUP BY 1 ORDER BY 1""")),

    // ---------------------------------------------------------------- q60
    // TPC-DS Q2, literally: the reference driver runs the verbatim Q2
    // text (reference README.md:125-126; tpc-ds-gen/TPCDSPreparation
    // .scala prepares its tables). Same query shape on the graft schema:
    // two sales channels UNION ALL'd into one stream (Q2's web_sales ∪
    // catalog_sales → here lineitem ∪ orders), pivoted to per-week
    // day-of-week sums, then the week table self-joined one year apart
    // (wk vs wk+52, Q2's d_week_seq1 = d_week_seq2 - 53) to report each
    // 2000-week's day-by-day YoY sales ratio. Weeks are epoch-aligned
    // (days since Monday 1970-01-05, div 7) so both engines derive the
    // identical calendar without a date_dim table. Determinism: sums are
    // exact DECIMAL micros (dsumRaw · 10⁶), ratios exact integer basis
    // points via decimal floor-division (the g01 dfloor pattern —
    // BIGINT·10⁴ would overflow past ~$9·10⁸/week-day, real at 100 TB).
    // Physically: one shuffle to the |weeks|-row pivot, then a self-join
    // of that tiny table — the fact tables are never joined to anything.
    "q60_tpcds_q2_yoy_weekly" -> QueryDef(
      build = (s, d) => {
        val wscs = t(s, d, "lineitem")
          .select(col("l_shipdate").cast("date").as("sd"),
            col("l_extendedprice").as("price"))
          .unionAll(t(s, d, "orders")
            .select(col("o_orderdate").cast("date").as("sd"),
              col("o_totalprice").as("price")))
        val w = wscs.select(
          expr("datediff(sd, date '1970-01-05') div 7").as("wk"),
          expr("datediff(sd, date '1970-01-05') % 7").as("dow"),
          col("price"))
        val dayNames = Seq("mon", "tue", "wed", "thu", "fri", "sat", "sun")
        def dayMicros(i: Int, nm: String) =
          (dsumRaw(when(col("dow") === i, col("price"))) * lit(1000000))
            .cast("decimal(38,0)").as(nm)
        val aggs = dayNames.zipWithIndex.map { case (nm, i) => dayMicros(i, nm) }
        // r11: checkpoint the ≤|weeks|-row pivot table — the year leg
        // and the +52-week leg otherwise each re-ran the full
        // lineitem∪orders scan + pivot aggregate.
        val ws = w.groupBy("wk").agg(aggs.head, aggs.tail: _*)
          .cut()
        val y = ws.filter(
          expr("year(date_add(date '1970-01-05', cast(wk * 7 as int))) = 2000"))
        val z = ws.select(
          (col("wk").as("wk2") +: dayNames.map(n => col(n).as(n + "2"))): _*)
        def dfloor(a: Column, b: Column): Column =
          ((a - pmod(a, b)) / b).cast("decimal(38,0)")
        def ratio(n: String) =
          when(col(n).isNotNull && col(n + "2").isNotNull && col(n + "2") > 0,
            dfloor(col(n) * lit(10000), col(n + "2")).cast("long"))
            .as(n + "_bp")
        y.join(z, col("wk") + 52 === col("wk2"))
          .select((col("wk") +: dayNames.map(ratio)): _*)
          .orderBy("wk")
      },
      oracle = Some {
        val dayNames = Seq("mon", "tue", "wed", "thu", "fri", "sat", "sun")
        val pivots = dayNames.zipWithIndex.map { case (nm, i) =>
          s"""CAST(sum(CASE WHEN dow = $i
             |  THEN CAST(round(price, 6) AS DECIMAL(30,6)) END)
             |  * 1000000 AS HUGEINT) AS $nm""".stripMargin
        }.mkString(",\n")
        val ratios = dayNames.map { n =>
          s"""CASE WHEN y.$n IS NOT NULL AND z.$n IS NOT NULL AND z.$n > 0
             |  THEN CAST(y.$n * 10000 // z.$n AS BIGINT) END AS ${n}_bp"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH wscs AS (
           |  SELECT CAST(l_shipdate AS DATE) AS sd, l_extendedprice AS price
           |  FROM lineitem
           |  UNION ALL
           |  SELECT CAST(o_orderdate AS DATE), o_totalprice FROM orders),
           |w AS (
           |  SELECT CAST(datediff('day', DATE '1970-01-05', sd) // 7
           |           AS BIGINT) AS wk,
           |         datediff('day', DATE '1970-01-05', sd) % 7 AS dow,
           |         price
           |  FROM wscs),
           |ws AS (SELECT wk, $pivots FROM w GROUP BY wk),
           |y AS (SELECT * FROM ws
           |      WHERE year(DATE '1970-01-05' + CAST(wk * 7 AS INTEGER)) = 2000)
           |SELECT y.wk, $ratios
           |FROM y JOIN ws z ON z.wk = y.wk + 52
           |ORDER BY y.wk""".stripMargin
      }),

    // ---------------------------------------------------------------- q61
    // TPC-DS Q5, literally: the reference driver's other verbatim query
    // (reference README.md:125-126) — per-channel sales/returns/profit
    // rolled up with ROLLUP(channel, id). Graft schema: the three
    // channels are order-priority classes (express/standard/economy —
    // Q5's store/catalog/web), the in-channel id is the customer market
    // segment, sales rows carry (sales_price, profit), return rows
    // (l_returnflag = 'R') carry (return_amt, -net_loss) — Q5's exact
    // signed-union shape, where one summed `profit` column nets sales
    // profit against return losses. Money sums are order-independent
    // dsum; the rollup's NULL superaggregate keys are labeled
    // 'TOTAL'/'ALL' so the ORDER BY is byte-identical on both engines.
    // Physically (r11 shape): the signed union is CONDITIONAL AGGREGATES
    // and the rollup is RE-AGGREGATION OF PARTIALS — the fact is read
    // once and never amplified. One hash aggregate takes the joined fact
    // straight to the |channels|×|segments| grid carrying RAW
    // DECIMAL(30,6) leg sums (each leg's per-row round-to-6 addends are
    // identical to the literal UNION ALL's, summed into separate
    // buckets; zeros are exact so the `keep` filter is just WHEN).
    // The 3 grouping levels then explode over the ~15-ROW grid — not
    // over 600k fact rows — and re-sum, which is exact for decimal
    // partials. The r10 shape (explode legs × explode levels ≈ 6 rows
    // per fact row before map-side collapse) measured 5.0 s cpu at
    // sf0.1 — all generator row churn; the rollup-above-join
    // DetectAmbiguousSelfJoin false-positive that forced a manual
    // expand is sidestepped the same way here (no Dataset.rollup).
    "q61_tpcds_q5_channel_rollup" -> QueryDef(
      build = (s, d) => {
        val fact = t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(
            expr("""CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
                    THEN 'express'
                    WHEN substring(o_orderpriority, 1, 1) = '3'
                    THEN 'standard'
                    ELSE 'economy' END""").as("channel"),
            col("c_mktsegment").as("seg"),
            col("l_extendedprice").as("ep"), col("l_discount").as("disc"),
            col("l_tax").as("tax"), col("l_returnflag").as("rf"))
        val base = fact.groupBy(col("channel"), col("seg")).agg(
          dsumRaw(col("ep")).as("s_raw"),
          dsumRaw(when(col("rf") === "R", col("ep")).otherwise(lit(0.0)))
            .as("r_raw"),
          (dsumRaw(col("ep") * (lit(1.0) - col("disc")) -
              col("ep") * col("tax")) +
            dsumRaw(when(col("rf") === "R", -(col("ep") * col("tax")))
              .otherwise(lit(0.0)))).as("p_raw"))
        val lvls = array(
          struct(col("channel").as("ch"), col("seg").as("sg")),
          struct(col("channel").as("ch"), lit("ALL").as("sg")),
          struct(lit("TOTAL").as("ch"), lit("ALL").as("sg")))
        base.select(explode(lvls).as("g"),
            col("s_raw"), col("r_raw"), col("p_raw"))
          .groupBy(col("g.ch").as("channel"), col("g.sg").as("segment"))
          .agg(round(sum(col("s_raw")), 2).cast("double").as("sales"),
            round(sum(col("r_raw")), 2).cast("double").as("returns_amt"),
            round(sum(col("p_raw")), 2).cast("double").as("profit"))
          .orderBy("channel", "segment")
      },
      oracle = Some(s"""
        WITH fact AS (
          SELECT CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
                      THEN 'express'
                      WHEN substring(o_orderpriority, 1, 1) = '3'
                      THEN 'standard'
                      ELSE 'economy' END AS channel,
                 c_mktsegment AS seg, l_extendedprice AS ep,
                 l_discount AS disc, l_tax AS tax, l_returnflag AS rf
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey),
        sr AS (
          SELECT channel, seg, ep AS sales_price, 0.0 AS return_amt,
                 ep * (1.0 - disc) - ep * tax AS profit
          FROM fact
          UNION ALL
          SELECT channel, seg, 0.0, ep, -(ep * tax)
          FROM fact WHERE rf = 'R')
        SELECT coalesce(channel, 'TOTAL') AS channel,
               coalesce(seg, 'ALL') AS segment,
               ${sqlDsum("sales_price")} AS sales,
               ${sqlDsum("return_amt")} AS returns_amt,
               ${sqlDsum("profit")} AS profit
        FROM sr GROUP BY ROLLUP(channel, seg)
        ORDER BY channel, segment"""))
  )

  private def lateralTopSql(nation: String, customer: String): String = s"""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM $nation n,
    LATERAL (SELECT c_name, c_acctbal FROM $customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name"""

  /** q41's GROUPING SETS text — identical SQL on both engines (the q39
    * pattern). Explicit sets (pair, each single, grand total) are the
    * general form ROLLUP (q21) and CUBE (q31) desugar to; grouping()
    * bits disambiguate a real NULL key from a superaggregate row.
    * Physically Spark expands to one Expand + hash aggregate — a single
    * shuffle carrying 4× the group rows, constant in the set count, so
    * the shape is as scalable as the plain aggregation. l_quantity sums
    * are small integers: exact in doubles at any order, no decimal
    * scheme needed.
    */
  private def groupingSetsSql(lineitem: String): String = s"""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
             AS BIGINT) AS gid,
           count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM $lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    ORDER BY gid, rflag, lstatus"""
}
