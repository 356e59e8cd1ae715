package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for wrapping a custom Catalyst Expression into a Column — the
  * classic converter is private[sql], so the shim lives in this package.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a custom logical plan (classic.Dataset.ofRows is
    * private[sql]).
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's native Bloom-filter aggregate (the machinery behind runtime
    * join pruning), exposed as a Column: builds a bits-sized sketch over
    * xxhash64 of `c`. Not SQL-registered in Spark 4, hence the shim.
    */
  def bloomFilterAgg(c: Column, estimatedNumItems: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(expression(c))), estimatedNumItems)
      .toAggregateExpression())

  /** Membership probe against a [[bloomFilterAgg]] sketch: true/maybe
    * semantics — false positives possible, false negatives impossible.
    * The analyzer requires the bloom side to be a constant or scalar
    * subquery — pass [[scalarSubquery]] of the 1-row aggregate, exactly
    * the shape InjectRuntimeFilter builds internally.
    */
  def mightContain(bloom: Column, c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom),
      new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(expression(c)))))

  /** A 1-row/1-column DataFrame as a scalar-subquery expression. */
  def scalarSubquery(df: DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed))

  /** Full session clone — shared SparkContext/catalog, COPIED runtime
    * SQLConf (newSession() would reset runtime overrides to builder
    * defaults). Used to scope a session-global flag to one query: set it
    * on the clone, build the plan against the clone, and the caller's
    * session never sees the flag even though lazy physical planning
    * happens long after the build returns. cloneSession() is
    * private[sql], hence the shim.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session's Hadoop conf, as file sources build it for a read
    * (SessionState.newHadoopConf: the context's conf plus session
    * overrides).
    */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
