package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Landmark distance sketch (Potamias et al. 2009, "Fast shortest path
 * distance estimation in large networks"): precompute exact shortest-path
 * distances between every node and a small landmark set, then answer
 * arbitrary pair queries with the triangle-inequality upper bound
 *
 *   d̂(u, v) = min over landmarks l of d(u → l) + d(l → v)
 *
 * — exact whenever some landmark lies on a shortest u→v path, an upper
 * bound otherwise. This is THE scale layout for distance queries on a
 * 100 TB graph: two |V|×|L| tables built once with multi-source frontier
 * relaxation replace a per-query BFS, and each query is two id-keyed
 * joins + a min — no traversal at read time. (No reference analog; the
 * reference's ShortestPath.java re-searches per call.)
 */
object Landmarks {

  /** Distance tables for the landmark set: `toL` rows (node, landmark,
    * dist node→landmark) from a reverse multi-source relaxation, `fromL`
    * rows (landmark, node, dist landmark→node) from a forward one — both
    * via the distance-only Bellman-Ford (narrow fixed-width rows). */
  def build(edges: DataFrame, landmarks: Seq[Long],
      maxIter: Int = 50): (DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ls = landmarks.toDF("source")
    // the small-graph fast path applies exactly as in the APSP surface;
    // past its bound both tables build distributed
    val fromL = WeightedPaths.allPairsDistances(edges, ls, maxIter)
      .select(col("source").as("landmark"), col("node"), col("dist"))
    val rev = edges.select(col("id"), col("dst").as("src"),
      col("src").as("dst"), col("weight"))
    val toL = WeightedPaths.allPairsDistances(rev, ls, maxIter)
      .select(col("node"), col("source").as("landmark"), col("dist"))
    (toL, fromL)
  }

  /** Estimate d(u, v) for every (u, v) with a landmark route: join u's
    * to-landmark row with v's from-landmark row per landmark, take the
    * min. Pairs with no common reachable landmark are absent (the sketch
    * cannot bound them). */
  def estimateAll(toL: DataFrame, fromL: DataFrame): DataFrame =
    toL.select(col("node").as("u"), col("landmark"), col("dist").as("__du"))
      .join(fromL.select(col("landmark"), col("node").as("v"),
        col("dist").as("__dv")), Seq("landmark"))
      .groupBy("u", "v")
      .agg(min(col("__du") + col("__dv")).as("estimate"))
}
