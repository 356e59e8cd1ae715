package graft.operators

import graft.plans.TopKPerGroup
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, NullsFirst, NullsLast, SortOrder}

/** Public API for the custom per-group top-k operator (graft.plans.
  * TopKPerGroup): `TopK.perGroup(df, Seq("g"), Seq("x" -> false), 3)` =
  * "top 3 rows per g by x descending". Requires a session built with
  * GraftExtensions (all graft session builders register it).
  *
  * The sort order MUST be total within each group (append a unique key
  * as the last order column, e.g. `Seq("x" -> false, "id" -> true)`).
  * With ties at rank k the map-side partial heaps may retain different
  * rows than a single-stage sort would, so the result at the tie
  * boundary is otherwise nondeterministic (and differs from the
  * window/row_number formulation it is meant to match).
  */
object TopK {

  /** order: (columnName, ascending). */
  def perGroup(df: DataFrame, group: Seq[String],
               order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val lp = df.queryExecution.analyzed
    def attr(n: String) = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${lp.output.map(_.name)}"))
    val g = group.map(attr)
    val so = order.map { case (n, asc) =>
      if (asc) SortOrder(attr(n), Ascending, NullsFirst, Seq.empty)
      else SortOrder(attr(n), Descending, NullsLast, Seq.empty)
    }
    GraftShim.ofRows(df.sparkSession, TopKPerGroup(g, so, k, lp))
  }
}
