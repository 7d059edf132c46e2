package org.apache.spark.sql

/** Runs a DataFrame's analyzed plan in a session on the same SparkContext
  * that has none of graft's session extensions, so specs can compare a
  * plan's rows and physical plan with and without graft's planner rules.
  * The analyzed plan is reused as it is (random seeds included). */
object PlainSession {
  private var plain: classic.SparkSession = _

  def session(sc: org.apache.spark.SparkContext): SparkSession = synchronized {
    if (plain == null || (plain.sparkContext ne sc)) plain = new classic.SparkSession(sc)
    plain
  }

  def rerun(df: DataFrame): DataFrame = classic.Dataset.ofRows(
    session(df.sparkSession.sparkContext).asInstanceOf[classic.SparkSession],
    df.queryExecution.analyzed)
}
