package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The reference's count store (community/kernel-api/src/main/java/org/neo4j/
 * counts/CountsStore.java:64 `nodeCount(labelId)` and :82
 * `relationshipCount(startLabelId, typeId, endLabelId)`) re-expressed as two
 * tiny pre-aggregated DataFrames. These back:
 *   - NodeCountFromCountStore / RelationshipCountFromCountStore (O(1) counts)
 *   - the pattern-join orderer's cardinality estimates (SURVEY §4.2)
 *
 * At 100 TB these stay small (|labels| × |types| rows), are computed once
 * per graph snapshot (`PropertyGraph.stats`) as one pass each, and are
 * broadcast to the planner — the same shape as the reference's model,
 * distributed.
 */
final case class GraphStats(labelCounts: DataFrame, tripleCounts: DataFrame) {
  /** label -> node count, collected (tiny). */
  lazy val labelCountMap: Map[String, Long] =
    labelCounts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** (srcLabel, type, dstLabel) -> rel count, collected (tiny). */
  lazy val tripleCountMap: Map[(String, String, String), Long] =
    tripleCounts.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap

  def nodeCount(label: String): Long = labelCountMap.getOrElse(label, 0L)

  def relCount(srcLabel: String, tpe: String, dstLabel: String): Long =
    tripleCountMap.getOrElse((srcLabel, tpe, dstLabel), 0L)
}

object GraphStats {
  def compute(g: PropertyGraph): GraphStats = {
    val labelCounts = g.nodes
      .select(explode(col("labels")).as("label"))
      .groupBy("label").agg(count(lit(1)).as("cnt"))

    // primary label per node id (first label) — enough for planning estimates
    val nodeLabel = g.nodes.select(col("id"), element_at(col("labels"), 1).as("label"))
    val tripleCounts = g.rels.select("src", "dst", "type")
      .join(nodeLabel.withColumnRenamed("id", "src").withColumnRenamed("label", "srcLabel"), Seq("src"))
      .join(nodeLabel.withColumnRenamed("id", "dst").withColumnRenamed("label", "dstLabel"), Seq("dst"))
      .groupBy("srcLabel", "type", "dstLabel").agg(count(lit(1)).as("cnt"))

    GraphStats(labelCounts, tripleCounts)
  }
}
