package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` Column ⇄ Expression / Dataset ⇄
  * LogicalPlan converters — the standard mechanism for third-party
  * Catalyst extensions since the Spark 4 Column API became
  * backend-agnostic (no public `Column.expr` / `new Column(expr)` /
  * `Dataset.ofRows` anymore). Kept to these one-liners; everything
  * else in graft uses public API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a custom logical node (graft.plans). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over an already-materialized RDD[InternalRow]: the
    * `LogicalRDD` leaf (default statistics) that
    * [[graft.operators.Graph.cut]] returns and
    * [[graft.operators.Graph.release]] reads the RDD back from. It
    * keeps the cut in the Tungsten representation: `df.rdd` +
    * `createDataFrame` would decode every InternalRow to Row and
    * re-encode it on read, once per iterative round. */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** [[internalCreateDataFrame]], with `rows` — a row count the caller
    * knows exactly — as the leaf's statistics in place of the default
    * ones (the session's `defaultSizeInBytes`, no row count): the
    * `LocalRelation` size estimate for that many rows, so the planner
    * can broadcast the frame. */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType, rows: Long): DataFrame = {
    val output = catalyst.types.DataTypeUtils.toAttributes(schema)
    ofRows(spark, execution.LogicalRDD(output, rdd)(
      spark.asInstanceOf[classic.SparkSession],
      Some(catalyst.plans.logical.Statistics(
        sizeInBytes = catalyst.plans.logical.statsEstimation.EstimationUtils
          .getSizePerRow(output) * rows,
        rowCount = Some(BigInt(rows))))))
  }

  /** Idempotent per-session planner-strategy registration (the
    * cluster-wide path is GraftExtensions via spark.sql.extensions). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** An uncorrelated scalar subquery over `df`'s single-row result —
    * the mechanism Spark's own InjectRuntimeFilter uses to hand a
    * build-side aggregate (e.g. Bloom filter bytes) to a probe-side
    * Filter: the subquery plans and executes as its own stage before
    * the outer filter evaluates, and the probe stays a plain Filter on
    * the outer scan instead of a join Catalyst could reorder above the
    * very Exchange the filter exists to shrink (Skew.bloomSemiJoin). */
  def scalarSubquery(df: DataFrame): Expression =
    catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed)

  /** Idempotent per-session optimizer-rule registration (same dual path
    * as [[addStrategy]]). */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(r))
      exp.extraOptimizations = exp.extraOptimizations :+ r
  }
}
