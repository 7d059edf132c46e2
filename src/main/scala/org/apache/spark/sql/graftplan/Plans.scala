package org.apache.spark.sql.graftplan

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/**
 * Logical plans in and out of DataFrames, for a cache that keeps plans
 * rather than DataFrames (`graft.cypher.Cypher`).
 *
 * Lives under `org.apache.spark.sql` to reach the `private[sql]`
 * `Dataset.ofRows` and `ExpressionUtils.column`; no Spark internals are
 * copied or modified.
 */
object Plans {
  /** The analyzed plan behind `df`. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A new DataFrame over `plan`, with its own `QueryExecution`: whatever
    * running it builds (executed plan, broadcasts) belongs to this
    * DataFrame alone. Under a root of its own: a Dataset adds its id to its
    * root's `DATASET_ID_TAG` set, which a cached root (and every copy of
    * it) would keep collecting, one id a request. The optimizer removes
    * the no-op `Project`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], Project(plan.output, plan))

  /** A Column over a Catalyst expression. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
