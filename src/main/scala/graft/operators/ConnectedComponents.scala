package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Checkpoints.CutSyntax

/** Distributed connected components via alternating large-star /
  * small-star edge rewrites (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — the scale-path replacement for
  * naive min-label propagation, whose round count is the graph DIAMETER
  * (a 64-deep dup chain = 64 joins). Star rounds contract path lengths
  * multiplicatively, converging in O(log n) rounds regardless of
  * diameter; DedupSpec pins a 64-deep chain to <= 10 rounds.
  *
  * Every round is hash-shuffle joins/aggregations keyed by node id —
  * no collect_list adjacency (a hot node's neighbor set never has to
  * fit in one row), no driver-side graph. Lineage is truncated per
  * round with Checkpoints.cut (localCheckpoint by default, reliable
  * checkpoint under `graft.checkpoint.dir`), same as all iterative
  * plans here.
  */
object ConnectedComponents {

  /** @param edges undirected edge list with columns (a_id, b_id)
    * @param maxRounds runaway guard; star CC converges in O(log n)
    * @return (labels: (doc_id, group_rep = component min) for every node
    *         that appears in `edges`, rounds actually run)
    */
  def run(edges: DataFrame, maxRounds: Int = 32): (DataFrame, Int) = {
    // materialize the INPUT once: both the canonical edge set and the
    // node universe derive from it, and the caller's edge plan is
    // typically an expensive join (g03: orders⋈lineitem distinct) that
    // would otherwise execute twice
    val base = edges.cut()
    // canonical directed form: u > v (edge points at the smaller id)
    // r12: the row count every convergence round needs is OBSERVED off
    // the checkpoint's own materializing job (Checkpoints.cutCounted) —
    // the r11 shape paid a separate count() job per round plus an
    // isEmpty() job up front.
    var (e, prevCount) = base
      .filter(col("a_id") =!= col("b_id"))
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .distinct()
      .cutCounted()
    val nodes = base
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
      .cut()
    // r11: the per-round star-min tables are |nodes|-bounded, so the
    // adj⋈mins / ls⋈mins2 joins BROADCAST them while the node set fits
    // an executor (BroadcastGuard, the g01/g06 hint pattern) — the edge
    // stream is then never shuffled inside a round. Past the cap every
    // round degrades loudly to the shuffled join, the only shape at 1e9
    // nodes.
    val hint = BroadcastGuard.hint("cc", "node set", nodes)
    // fixpoint = consecutive rounds produce the SAME edge set, checked
    // EXACTLY: equal counts plus an empty one-sided set difference
    // (both sets are distinct canonical (u,v) rows, so count equality +
    // empty except <=> set equality). A hash-signature probe would be
    // cheaper but admits a collision terminating the loop on a non-star
    // edge set — this operator backs an exact-oracle query, so the
    // convergence test must be exact too. Cost: the counts ride the
    // checkpoint fills (observed, zero extra jobs); the exact except()
    // anti-join only runs on count equality, i.e. ~once, at the
    // fixpoint itself.
    var rounds = 0
    var converged = prevCount == 0L
    while (!converged && rounds < maxRounds) {
      val prevE = e
      // LARGE-STAR: for every node u, connect each strictly-larger
      // neighbor to m(u) = min(N(u) ∪ {u}); emitted edges keep the
      // big→small orientation because v > u >= m
      val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = adj.join(hint(mins), "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
        .cut()
      // SMALL-STAR: all of u's neighbors are now < u; point each
      // non-min neighbor AND u itself at m = min(N(u)) — v > m holds
      // for every emitted edge, preserving the orientation invariant
      // r11: checkpointed — the join leg and the union leg below both
      // consume mins2, and without it each re-ran the aggregate over ls
      val mins2 = ls.groupBy("u").agg(min("v").as("m")).cut()
      val (e1, curCount) = ls.join(hint(mins2), "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .cutCounted()
      e = e1
      converged = curCount == prevCount && e.except(prevE).isEmpty
      prevCount = curCount
      rounds += 1
    }
    // An unconverged edge set is NOT a union of stars — a node can hold
    // several out-edges, so the label join below would emit duplicate
    // doc_id rows with inconsistent labels. For an operator backing an
    // exact-oracle query, that must be a loud failure, never an output.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds " +
          "(star CC needs ~log2(n); raise maxRounds or check the edge input)")
    // converged edge set is a union of stars: every non-root points
    // directly at its component min; roots label themselves
    val labels = nodes
      .join(e.select(col("u").as("doc_id"), col("v").as("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("group_rep"))
    (labels, rounds)
  }
}
