package graft

/** Exhaustive driver-side trail enumeration — the truth the trail
  * operators are checked against on small graphs. */
object TrailOracle {

  /** Every relationship-unique walk from `source` over `edges`
    * (id, src, dst) with at most `maxDepth` rels, the zero-length walk
    * included, as (end, hops, rel ids, node ids). */
  def trails(edges: Seq[(Long, Long, Long)], source: Long, maxDepth: Int)
      : Seq[(Long, Int, Vector[Long], Vector[Long])] = {
    val adj = edges.groupBy(_._2) // src -> edges
    val out = Seq.newBuilder[(Long, Int, Vector[Long], Vector[Long])]
    def dfs(node: Long, used: Vector[Long], nodes: Vector[Long]): Unit = {
      out += ((node, used.length, used, nodes))
      if (used.length < maxDepth)
        adj.getOrElse(node, Seq.empty).foreach { case (id, _, dst) =>
          if (!used.contains(id)) dfs(dst, used :+ id, nodes :+ dst)
        }
    }
    dfs(source, Vector.empty, Vector(source))
    out.result()
  }

  /** A random small cyclic multigraph drawn from `rnd`: 4..7 nodes and
    * enough edges (ids from 100) to force cycles, as (nodes, edges). */
  def cyclicMultigraph(rnd: scala.util.Random): (Int, Seq[(Long, Long, Long)]) = {
    val n = 4 + rnd.nextInt(4) // 4..7 nodes
    val m = n + 2 + rnd.nextInt(2 * n) // enough edges to force cycles
    (n, (0 until m).map(i =>
      (100L + i, rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
  }
}
