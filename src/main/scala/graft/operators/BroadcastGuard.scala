package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The size guard behind every data-sized broadcast hint (the Spark-native
  * re-expression of Cherry's shuffle avoidance): a join whose build side
  * is bounded by a dimension — nodes, a vocabulary, an increment's
  * digests — is broadcast so the big side never shuffles. That bound
  * holds at bench scale but not necessarily at 100 TB, so each hint is
  * decided at plan-build time by an early-terminating
  * `limit(cap + 1).count()` over a probe frame the caller picks, or on a
  * row count the caller already has (g06 observes it off a fill). Past the
  * cap the hint is dropped and the planner/AQE picks a shuffled join —
  * slower, but it completes instead of OOM-ing the driver — and the
  * fallback prints one `[graft]` line on stderr, never silently. The
  * probe stops after cap + 1 rows of its frame (a frame that aggregates,
  * such as a distinct, still computes its input first).
  */
object BroadcastGuard {

  /** Largest probe row count that is still broadcast (~an executor's
    * worth of build-side rows).
    */
  val MaxRows: Int = 5000000

  /** The probe: `probe`'s row count, counted up to cap + 1. */
  def rows(probe: DataFrame): Long =
    probe.limit(PlanPin.get.broadcastCap + 1).count()

  /** Broadcast hint for the joins whose build sides `probe` bounds:
    * `broadcast` while it has at most cap rows, else the identity plus
    * one stderr line naming the key and `what` outgrew the cap.
    */
  def hint(key: String, what: String, probe: DataFrame): DataFrame => DataFrame =
    hint(key, what, rows(probe))

  /** [[hint]] over a row count already taken with [[rows]] or observed
    * off a checkpoint fill (`Checkpoints.cutObserved`).
    */
  def hint(key: String, what: String, rows: Long): DataFrame => DataFrame = {
    val cap = PlanPin.get.broadcastCap
    if (rows <= cap) broadcast(_)
    else {
      System.err.println(
        s"[graft] $key: $what exceeds $cap rows - falling back to a shuffle join")
      identity
    }
  }
}

/** Pins graft's automatic plan choices so specs and probes can run both
  * sides of each: the broadcast cap ([[BroadcastGuard]]), the pair
  * aggregation route (`GraphOps.pairCounts`: Some(true) = shuffle-raw)
  * and g01's DECIMAL(38,0) rank accumulator. The default pin leaves every
  * choice automatic. JVM-wide, and read when a plan is built.
  */
private[graft] final case class PlanPin(
    broadcastCap: Int = BroadcastGuard.MaxRows,
    rawPairs: Option[Boolean] = None,
    decimalRanks: Option[Boolean] = None)

private[graft] object PlanPin {
  @volatile private var current = PlanPin()

  def get: PlanPin = current

  /** Run `body` under `pin`, restoring the previous pin afterwards. */
  def during[T](pin: PlanPin)(body: => T): T = {
    val prev = current
    current = pin
    try body finally current = prev
  }
}
