package graft

import graft.ops.Ckpt._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The peeling formulations of the core and truss decompositions: the
  * specs' cross-checks for the h-index fixpoint forms in
  * [[graft.ops.Centrality]], which they do not call.
  * Their driver-round counts are Σ_k peels_k, so they are references, not
  * production paths. */
object Peeling {

  /** The k-core's members by iterative peeling — drop nodes of undirected
    * degree below k, recompute degrees, repeat to fixpoint; self-loops
    * dropped. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    val canon = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    var e = canon
      .unionByName(canon.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    var edgeCnt = e.count()
    var stable = edgeCnt == 0
    var i = 0
    while (!stable && i < maxIter) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select(col("src").as("__n"))
      val next = e
        .join(keep, col("src") === col("__n"), "left_semi")
        .join(keep, col("dst") === col("__n"), "left_semi")
        .localCheckpoint(false)
      val nextCnt = next.count()
      stable = nextCnt == edgeCnt || nextCnt == 0
      e = next; edgeCnt = nextCnt; i += 1
    }
    require(stable, s"kCore did not converge in $maxIter peels")
    e.select(col("src").as("node")).distinct()
  }

  /** Coreness by phases k = 2 upward, each phase a full [[kCore]] peel of
    * the previous survivors; a node removed in phase k carries coreness
    * k − 1. */
  def coreDecompositionPeeling(edges: DataFrame, maxK: Int = 100): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .freshCkpt()
    var cur = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct()
      .freshCkpt()
    val out = Seq.newBuilder[DataFrame]
    var k = 2
    var curCnt = cur.count()
    while (curCnt > 0 && k <= maxK) {
      // restrict edges to surviving nodes, then peel at k
      val next = kCore(
        e0.join(cur.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(cur.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"),
        k).freshCkpt()
      out += cur.join(next, Seq("node"), "left_anti")
        .withColumn("coreness", lit(k - 1))
      cur = next
      curCnt = cur.count()
      k += 1
    }
    require(curCnt == 0, s"coreDecompositionPeeling exceeded maxK=$maxK")
    out.result().reduce(_ unionByName _)
  }

  /** The k-truss's edges by iterative peeling — count each edge's
    * triangles among the surviving edges, drop the edges of fewer than
    * k − 2, repeat to fixpoint. `edges` are (u, v) with u < v, a pair
    * once. */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    var e = edges.select(col("u"), col("v")).localCheckpoint(false)
    var edgeCnt = e.count()
    var stable = edgeCnt == 0
    var i = 0
    while (!stable && i < maxIter) {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      // support(u, v) = |N(u) ∩ N(v)|: the w adjacent to both ends
      val next = e.join(sym.withColumnRenamed("v", "w"), "u")
        .join(sym.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
        .groupBy("u", "v").agg(count(lit(1)).as("__support"))
        .filter(col("__support") >= k - 2).select(col("u"), col("v"))
        .localCheckpoint(false)
      val nextCnt = next.count()
      stable = nextCnt == edgeCnt
      e = next; edgeCnt = nextCnt; i += 1
    }
    require(stable, s"kTruss did not converge in $maxIter peels")
    e
  }

  /** Trussness by phases k = 3 upward, each a full [[kTruss]] peel of the
    * previous survivors; an edge removed in phase k carries trussness
    * k − 1. */
  def trussDecompositionPeeling(edges: DataFrame, maxK: Int = 30): DataFrame = {
    var cur = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct().freshCkpt()
    val out = Seq.newBuilder[DataFrame]
    var k = 3
    var curCnt = cur.count()
    while (curCnt > 0 && k <= maxK) {
      val next = kTruss(cur, k).freshCkpt()
      out += cur.join(next, Seq("u", "v"), "left_anti")
        .withColumn("trussness", lit(k - 1))
      cur = next
      curCnt = cur.count()
      k += 1
    }
    require(curCnt == 0, s"trussDecompositionPeeling exceeded maxK=$maxK")
    out.result().reduce(_ unionByName _)
  }
}
