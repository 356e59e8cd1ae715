package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent money sums. Parallel double summation is
  * order-dependent, so a round(sum(double), 2) can flip a half-cent
  * between engines (or between partition counts!). Fix: round each row to
  * 6 decimals (identical IEEE op on both engines), sum EXACTLY in
  * DECIMAL(30,6) (associative — order-free), round, cast back to double.
  * `sqlDsum` is the DuckDB twin — both engines then produce bit-identical
  * results at any parallelism.
  */
object AggFns {

  /** Exact decimal sum of a per-row-rounded expression (no final round).
    *
    * The 6-dp rounding is done BY the decimal cast, not by an explicit
    * round(e, 6): Spark's double→DECIMAL(30,6) cast routes through
    * BigDecimal.valueOf (shortest decimal repr) + HALF_UP at scale 6 —
    * exactly round(e, 6)'s own path — so `cast` ≡ `round then cast` for
    * every double, while skipping one BigDecimal round-trip per row.
    * Measured: 0 differing rows across price/revenue/charge shapes on
    * 600k rows, and the 3-sum q01 aggregation drops 1.85 s → 1.17 s
    * (NOTES_r9.md, "dsum fast path"). The DuckDB twin (sqlDsumRaw) KEEPS its
    * explicit round(x, 6): DuckDB's double→decimal cast rounds the
    * binary value, not the shortest repr, so dropping round there could
    * flip k.5-boundary rows — the engines meet at the rounded VALUE, not
    * at the same expression text.
    */
  def dsumRaw(e: Column): Column =
    sum(e.cast(DecimalType(30, 6)))

  /** Order-independent `round(sum(e), scale)` as a double. */
  def dsum(e: Column, scale: Int = 2): Column =
    round(dsumRaw(e), scale).cast("double")

  def sqlDsumRaw(expr: String): String =
    s"sum(CAST(round($expr, 6) AS DECIMAL(30,6)))"

  def sqlDsum(expr: String, scale: Int = 2): String =
    s"CAST(round(${sqlDsumRaw(expr)}, $scale) AS DOUBLE)"
}
