package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._

/** Bridge into `private[sql]` plan construction: turning a custom
  * LogicalPlan into a DataFrame requires `Dataset.ofRows`, which Spark
  * keeps package-private. Same-package placement is the established
  * pattern for Spark extension libraries.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** `schema` with every field, nested ones too, nullable — what a
    * file relation's data schema is declared as (Spark keeps
    * `StructType.asNullable` package-private).
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** The materialized RDD behind a `localCheckpoint()`ed frame, if any.
    * `Dataset.unpersist` cannot release checkpoint storage (it only
    * clears CacheManager entries), so iterative algorithms need the
    * RDD handle to unpersist superseded rounds explicitly.
    */
  def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** A Column over a raw Catalyst expression — the doorway for graft's
    * native expressions whose model state (centroid/codebook matrices)
    * rides as constructor data rather than literal children, so they
    * cannot be registered as SQL functions.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (unresolved attributes
    * stay unresolved — intended for embedding into larger trees).
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** A 1-row/1-column frame as an uncorrelated scalar-subquery Column —
    * the form expressions like `might_contain` demand for their
    * constant-ish inputs (an attribute from a cross join is rejected at
    * analysis). The subquery executes once and its value ships with the
    * plan, like a broadcast of exactly one cell.
    */
  def scalarSubquery(df: DataFrame): Column =
    classic.ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(logicalPlan(df))
    )
}
