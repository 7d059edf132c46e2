package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** How many Datasets have recorded their id on `plan`'s root (Spark's
  * self-join detection tag, private to Spark). */
object DatasetIds {
  def on(plan: LogicalPlan): Int =
    plan.getTagValue(classic.Dataset.DATASET_ID_TAG).fold(0)(_.size)
}
