package graft.functions

import graft.plans.DsumAgg
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.functions._

/** Order-independent money sums. Parallel double summation is
  * order-dependent, so a round(sum(double), 2) can flip a half-cent
  * between engines (or between partition counts!). Fix: round each row to
  * 6 decimals (identical IEEE op on both engines), sum EXACTLY in
  * DECIMAL(30,6) (associative — order-free), round, cast back to double.
  * `sqlDsum` is the DuckDB twin — both engines then produce bit-identical
  * results at any parallelism.
  */
object AggFns {

  /** Exact decimal sum of a per-row-rounded expression (no final round):
    * the DECIMAL(38,6) value of `sum(CAST(e AS DECIMAL(30,6)))`, computed
    * by the native `graft_dsum` aggregate (`plans.DsumAgg`).
    *
    * The 6-dp rounding is done BY the decimal cast, not by an explicit
    * round(e, 6): Spark's double→DECIMAL(30,6) cast routes through
    * BigDecimal.valueOf (shortest decimal repr) + HALF_UP at scale 6 —
    * exactly round(e, 6)'s own path — so `cast` ≡ `round then cast` for
    * every double (NOTES_r9.md, "dsum fast path"). The DuckDB twin
    * (sqlDsumRaw) KEEPS its explicit round(x, 6): DuckDB's double→decimal
    * cast rounds the binary value, not the shortest repr, so dropping round
    * there could flip k.5-boundary rows — the engines meet at the rounded
    * VALUE, not at the same expression text.
    *
    * The kernel never calls the cast for a double with |x| < 2²³ whose
    * y = fl(x·10⁶) has a fraction more than 5·10⁻³ from ½: it takes
    * floor(y) or floor(y) + 1. Error budget: the shortest repr is within
    * ulp(x)/2 of x, ≤ 9.3·10⁻⁴ once scaled by 10⁶, and the product rounds
    * by ≤ 9.8·10⁻⁴; 1.91·10⁻³ < 5·10⁻³, so y sits on the same side of the
    * tie as the decimal the cast would round. Ties, larger values, NaN,
    * ±Inf and non-double inputs go through Spark's own cast, so NULL and
    * error behaviour under both ANSI settings is the cast's. The running
    * sum is a 128-bit integer of micros in two longs, 16 bytes against the
    * 32 of `Sum`'s buffer that the partial aggregate shuffles, with `Sum`'s
    * overflow report past DECIMAL(38,6).
    */
  def dsumRaw(e: Column): Column =
    GraftShim.column(DsumAgg(GraftShim.expression(e)).toAggregateExpression())

  /** Order-independent `round(sum(e), scale)` as a double. */
  def dsum(e: Column, scale: Int = 2): Column =
    round(dsumRaw(e), scale).cast("double")

  def sqlDsumRaw(expr: String): String =
    s"sum(CAST(round($expr, 6) AS DECIMAL(30,6)))"

  def sqlDsum(expr: String, scale: Int = 2): String =
    s"CAST(round(${sqlDsumRaw(expr)}, $scale) AS DOUBLE)"
}
