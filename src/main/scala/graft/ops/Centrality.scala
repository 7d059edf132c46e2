package graft.ops

import graft.ops.Ckpt._
import graft.ops.Wedges.round4

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Centrality and node-similarity algorithms — the remainder of the
 * reference's graph-algo family (community/graph-algo/.../CentralityService
 * and the path-finder infrastructure it feeds) next to PageRank / triangle
 * counting / label propagation in [[Ranking]].
 *
 * Scale rules shared by every algorithm here:
 *  - state is per node or per (source, node) pair of 8-byte ids —
 *    properties never enter the loops;
 *  - coreness, k-core, trussness and k-truss are one vertex program on
 *    [[Rounds.step]] (one shuffle of node state a round, the update in the
 *    task; truss's vertices are the edges, its triangles from the wedge
 *    kernel [[Wedges]], which node similarity runs too); the other loops
 *    are DataFrame rounds of one join + one aggregate, both
 *    hash-partitioned on node ids, frontiers lazily checkpointed so one
 *    action materializes a round;
 *  - exact all-pairs forms are O(|V|·|E|) by nature, so the entry points
 *    take an explicit `sources` relation: pass every node for exact
 *    results on bounded graphs, or a sampled pivot set for the standard
 *    unbiased estimate at 100 TB (Riondato & Kornaropoulos-style pivot
 *    sampling — estimates scale by |V|/|pivots| downstream).
 */
object Centrality {

  /**
   * Closeness + harmonic centrality from per-source BFS distances
   * (reference: community/graph-algo closeness; harmonic per Boldi &
   * Vigna, "Axioms for Centrality", 2014).
   *
   *   closeness(s) = reached(s) / Σ_t d(s,t)   (0 when nothing reached)
   *   harmonic(s)  = Σ_t 1/d(s,t)
   *
   * Distances are OUT-distances over the `edges` orientation; symmetrize
   * upstream for the undirected form. One frontier BFS batched across all
   * sources ([[Bfs.distances]]), one aggregate — at cluster scale the
   * frontier shuffles (source, node) pairs only.
   *
   * @return (node, reached LONG, closeness DOUBLE 4dp, harmonic DOUBLE 4dp)
   */
  def closenessHarmonic(edges: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = {
    for ((adj, srcs) <- smallGraph(edges, sources)) {
      // driver-local BFS per source: a diameter-D exact sweep costs 2·D
      // driver rounds distributed — on a small graph that is all job
      // overhead
      val spark = edges.sparkSession
      import spark.implicits._
      return srcs.map { s =>
        val dist = localBfs(adj, s, maxDepth)
        val reached = dist.size - 1 // minus self
        val sumD = dist.valuesIterator.sum.toDouble
        val harm = dist.valuesIterator.filter(_ > 0).map(1.0 / _).sum
        (s, reached.toLong,
          if (reached == 0) 0.0 else round4(reached / sumD), round4(harm))
      }.filter(_._2 > 0)
        .toDF("node", "reached", "closeness", "harmonic")
    }
    val d = Bfs.distances(edges, sources, maxDepth)
      .filter(col("dist") > 0)
    d.groupBy(col("source").as("node"))
      .agg(count(lit(1)).as("reached"),
        round(count(lit(1)).cast("double") / sum(col("dist")), 4)
          .as("closeness"),
        round(sum(lit(1.0) / col("dist")), 4).as("harmonic"))
  }

  /** Some((adj, distinct sources)) when BOTH the edge list and the source
    * set fit [[Placement.Walk]]. */
  private def smallGraph(edges: DataFrame, sources: DataFrame):
      Option[(Map[Long, Array[Long]], Seq[Long])] =
    for {
      es <- Placement.local(
        edges.select(col("src").cast("long"), col("dst").cast("long")),
        Placement.Walk)
      ss <- Placement.local(sources.select(col("source").cast("long")),
        Placement.Walk)
    } yield {
      val pairs = es.map(r => (r.getLong(0), r.getLong(1))).distinct
      (pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap,
        ss.map(_.getLong(0)).distinct.toSeq)
    }

  /** single-source BFS over a driver-local adjacency; returns dist map
    * (source included at 0) */
  private def localBfs(adj: Map[Long, Array[Long]], s: Long,
      maxDepth: Int): scala.collection.mutable.LongMap[Int] = {
    val dist = scala.collection.mutable.LongMap[Int](s -> 0)
    var frontier = List(s)
    var d = 0
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .filter(w => !dist.contains(w))
        .distinct
      frontier.foreach(w => dist(w) = d)
    }
    dist
  }

  /**
   * Betweenness centrality, Brandes' algorithm (Brandes 2001, "A Faster
   * Algorithm for Betweenness Centrality") in its synchronous-frontier
   * form:
   *
   *  forward — batched BFS carrying σ (shortest-path counts): all paths
   *  reaching a node at round k arrive from predecessors at k-1, so
   *  σ(source, w) = Σ_{v∈pred(w)} σ(source, v) is one groupBy per round;
   *
   *  backward — dependency accumulation by descending depth:
   *  δ(v) = Σ_{w: d(w)=d(v)+1, v→w} σ(v)/σ(w) · (1 + δ(w)), one
   *  join + aggregate per level;
   *
   *  betweenness(v) = Σ_{s≠v} δ_s(v).
   *
   * Exact when `sources` is all nodes; with sampled pivots multiply by
   * |V|/|pivots| for the unbiased estimate (Riondato & Kornaropoulos).
   * Rounds = 2·diameter, each shuffling (source, node) id pairs only.
   *
   * @param edges (src, dst) — directed; symmetrize for undirected
   * @return (node, betweenness DOUBLE 4dp) — nodes with zero dependency
   *         are absent
   */
  def betweenness(edges: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = {
    for ((adj, srcs) <- smallGraph(edges, sources)) {
      // textbook per-source Brandes on the driver — 2·diameter·|pivots|
      // distributed rounds collapse to 2 jobs on a small graph
      val spark = edges.sparkSession
      import spark.implicits._
      val acc = scala.collection.mutable.LongMap.empty[Double]
      srcs.foreach { s =>
        val dist = scala.collection.mutable.LongMap[Int](s -> 0)
        val sigma = scala.collection.mutable.LongMap[Double](s -> 1.0)
        val order = scala.collection.mutable.ArrayBuffer.empty[Long]
        var frontier = List(s)
        var d = 0
        while (frontier.nonEmpty && d < maxDepth) {
          d += 1
          val next = scala.collection.mutable.LinkedHashSet.empty[Long]
          frontier.foreach { v =>
            adj.getOrElse(v, Array.empty[Long]).foreach { w =>
              if (!dist.contains(w)) next += w
            }
          }
          frontier.foreach { v =>
            adj.getOrElse(v, Array.empty[Long]).foreach { w =>
              if (next.contains(w))
                sigma(w) = sigma.getOrElse(w, 0.0) + sigma(v)
            }
          }
          next.foreach { w => dist(w) = d; order += w }
          frontier = next.toList
        }
        // successor-accumulation Brandes: process nodes by descending
        // dist (reverse BFS order), pulling into each node from its
        // out-neighbors one level deeper
        val delta = scala.collection.mutable.LongMap.empty[Double]
        (order.reverseIterator ++ Iterator.single(s)).foreach { v =>
          val dv = dist(v)
          var sum = 0.0
          adj.getOrElse(v, Array.empty[Long]).foreach { w =>
            if (dist.get(w).contains(dv + 1))
              sum += sigma(v) / sigma(w) * (1.0 + delta.getOrElse(w, 0.0))
          }
          delta(v) = sum
          if (v != s) acc(v) = acc.getOrElse(v, 0.0) + sum
        }
      }
      return acc.toSeq.map { case (n, b) => (n, round4(b)) }
        .filter(_._2 > 0).toDF("node", "betweenness")
    }
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)

    // forward sweep: visited = (source, node, dist, sigma)
    var frontier = sources.select(col("source"),
        col("source").as("node"), lit(0).as("dist"), lit(1L).as("sigma"))
      .freshCkpt()
    var visited = frontier
    var d = 0
    var more = true
    while (more && d < maxDepth) {
      val next = frontier.join(e, col("node") === col("src"))
        .groupBy(col("source"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited.select(col("source"), col("node").as("dst")),
          Seq("source", "dst"), "left_anti")
        .select(col("source"), col("dst").as("node"),
          lit(d + 1).as("dist"), col("sigma"))
        .localCheckpoint(false)
      more = next.count() > 0
      if (more) {
        visited = visited.unionByName(next).localCheckpoint(false)
        frontier = next
        d += 1
      }
    }

    // backward sweep, deepest level first; delta rows carry sigma so the
    // next level joins one table
    var level = d
    var upper = visited.filter(col("dist") === level)
      .select(col("source"), col("node"), col("sigma"),
        lit(0.0).as("delta"))
    var acc = upper
    while (level > 0) {
      level -= 1
      val cur = visited.filter(col("dist") === level)
      val up = upper.select(col("source").as("__us"),
        col("node").as("__w"), col("sigma").as("__sw"),
        col("delta").as("__dw"))
      val contrib = cur
        .join(e, col("node") === col("src"))
        .join(up, col("dst") === col("__w") && col("source") === col("__us"))
        .groupBy(col("source"), col("node"))
        .agg(sum(col("sigma").cast("double") / col("__sw") *
          (lit(1.0) + col("__dw"))).as("__delta"))
      upper = cur.join(contrib, Seq("source", "node"), "left_outer")
        .select(col("source"), col("node"), col("sigma"),
          coalesce(col("__delta"), lit(0.0)).as("delta"))
        .localCheckpoint(false)
      acc = acc.unionByName(upper)
    }
    acc.filter(col("node") =!= col("source"))
      .groupBy("node").agg(round(sum(col("delta")), 4).as("betweenness"))
      .filter(col("betweenness") > 0)
  }

  /**
   * k-core: the maximal subgraph in which every node has (undirected)
   * degree ≥ k — the nodes whose coreness ([[coreDecomposition]]) is at
   * least k. Within [[Placement.Walk]] the driver-local peel's coreness
   * is filtered; past it, the vertex program of [[coreDecomposition]] with
   * each estimate capped at k and one below k dropped to 0: a node keeps
   * k while at least k of its neighbours do. That is the parallel peel
   * for k alone, so the round count is its peel depth, not the coreness
   * convergence depth (one round on a chain for k = 1 or k = 3).
   *
   * @param edges (src, dst) — direction ignored, self-loops dropped; ids
   *              read as LONG ([[Rounds.longId]])
   * @return (node LONG) — members of the k-core
   */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    coreness(edges, maxIter = 200, "kCore", Some(k))
      .filter(col("coreness") >= k).select(col("node"))
  }

  /**
   * Full core decomposition: per-node CORENESS — the largest k for which
   * the node survives the k-core ([[kCore]]) — by distributed h-index
   * propagation (Montresor, De Pellegrini & Miorandi, "Distributed
   * k-Core Decomposition", 2011; Lü et al. 2016 h-index formulation):
   * initialize c(v) = deg(v), then iterate
   *   c(v) ← H({c(u) : u ~ v})
   * to fixpoint, where H is the h-index (largest h such that ≥ h
   * neighbors currently have estimate ≥ h). Estimates decrease
   * monotonically and converge exactly to coreness.
   *
   * Edge lists within [[Placement.Walk]] peel on the driver
   * (Batagelj–Zaveršnik). Past it, a vertex program on [[Rounds.step]]
   * over symmetric adjacency blocks: a round ships each node's estimate
   * (one Int) to the partitions whose blocks reference it and takes each
   * node's h-index of its neighbours' estimates in the task; its one job
   * materializes the round and tells whether any estimate moved. The
   * round count is the convergence depth (empirically tens, independent
   * of k_max), not the Σ_k peels_k of a peeling cascade.
   *
   * @param edges (src, dst) — direction ignored, self-loops dropped; ids
   *              read as LONG ([[Rounds.longId]]), rows with a null
   *              endpoint dropped
   * @return (node, coreness INT) — floor 1 (isolated nodes only appear
   *         through edges)
   */
  def coreDecomposition(edges: DataFrame, maxIter: Int = 200): DataFrame =
    coreness(edges, maxIter, "coreDecomposition", None)

  /** Per-node coreness; with `k`, past [[Placement.Walk]], only k for the
    * nodes of the k-core and 0 for the rest. */
  private def coreness(edges: DataFrame, maxIter: Int, op: String,
      k: Option[Int]): DataFrame = {
    val spark = edges.sparkSession
    val raw = Rounds.endpoints(edges, op)
    for (rows <- Placement.local(raw, Placement.Walk))
      return localCoreness(spark, rows)
    val in = raw.rdd.map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2)
    val rounds = Rounds(spark, in.getNumPartitions)
    val adj = rounds.adjacency(in.flatMap(e => Iterator(e, e.swap)), dedupe = true)
    val (vs, cur) = decompose(rounds, adj, width = 1, maxIter, op, k)
    Rounds.toDf(spark, Rounds.byNode(vs, cur), "node", "coreness")
  }

  /** The one decomposition loop, of coreness, kCore, trussness and kTruss,
    * over blocks whose runs list each node's items `width` entries apiece:
    * a neighbour (coreness) or a triangle's two partner edges (trussness),
    * an item worth the least estimate among its entries. Each estimate
    * starts at the node's item count (an item references each of its
    * entries once, so that is `Vertices.weight / width`) and moves to the
    * h-index of its items ([[hIndex]]); with `cap`, it is capped at `cap`
    * and one below `cap` drops to 0 ([[stays]]). One [[Rounds.step]] a
    * round; the round's one job materializes it and tells whether any
    * estimate moved. Returns the layout and the fixpoint, both held. */
  private def decompose(rounds: Rounds, adj: RDD[Adjacency], width: Int, maxIter: Int,
      op: String, cap: Option[Int]): (RDD[Vertices], RDD[Array[Int]]) = {
    val vs = rounds.vertices(adj, None)
    val start = (w: Double) => {
      val d = (w / width).toInt
      cap.fold(d)(c => if (d >= c) c else 0)
    }
    val update = cap.fold(hIndex(width) _)(stays(width, _) _)
    var cur = rounds.persist(vs.map(_.weight.map(start)))
    var (converged, i) = (false, 0)
    while (!converged && i < maxIter) {
      i += 1
      val next = rounds.persist(rounds.step(adj, vs, cur)((_, c, j) => c(j))(update))
      converged = next.zipPartitions(cur)((n, c) =>
        Iterator.single(java.util.Arrays.equals(n.next(), c.next()))).collect().forall(identity)
      rounds.unpersist(cur)
      cur = next
    }
    rounds.release(if (converged) Seq(vs, cur) else Nil)
    require(converged, s"$op did not converge in $maxIter rounds")
    (vs, cur)
  }

  /** The item of `width` entries from block position `e`: the least of
    * their estimates `in`. */
  private def item(v: Vertices, in: Array[Int], e: Int, width: Int): Int = {
    var (m, j) = (in(v.refAt(e)), 1)
    while (j < width) { m = math.min(m, in(v.refAt(e + j))); j += 1 }
    m
  }

  /** Each source's h-index of its items: the largest h such that at least
    * h of them are worth ≥ h. Every node of the blocks is one of their
    * sources. */
  private def hIndex(width: Int)(a: Adjacency, v: Vertices, in: Array[Int]): Array[Int] = {
    val next = new Array[Int](v.ids.length)
    var atLeast = new Array[Int](1) // atLeast(h): items at min(worth, item count) = h
    for (k <- a.src.indices) {
      val (from, to) = (a.offset(k), a.offset(k + 1))
      val d = (to - from) / width
      if (atLeast.length <= d) atLeast = new Array[Int](d + 1)
      else java.util.Arrays.fill(atLeast, 0, d + 1, 0)
      for (e <- from until to by width) atLeast(math.min(item(v, in, e, width), d)) += 1
      var h = d
      var n = atLeast(d)
      while (n < h) { h -= 1; n += atLeast(h) }
      next(v.srcAt(k)) = h
    }
    next
  }

  /** A capped round (kCore, kTruss): a node keeps `cap` while at least
    * `cap` of its items are worth `cap` (the h-index of estimates capped
    * at `cap`, 0 below it). */
  private def stays(width: Int, cap: Int)(a: Adjacency, v: Vertices, in: Array[Int]): Array[Int] = {
    val next = new Array[Int](v.ids.length)
    for (s <- a.src.indices) {
      var n = 0
      for (e <- a.offset(s) until a.offset(s + 1) by width) if (item(v, in, e, width) == cap) n += 1
      if (n >= cap) next(v.srcAt(s)) = cap
    }
    next
  }

  /** Driver-local coreness: Batagelj–Zaveršnik bucket peeling over a
    * collected adjacency (min-heap with lazy deletion; O(E log V));
    * self-loops dropped. */
  private def localCoreness(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val pairs = rows.collect { case r if r.getLong(0) != r.getLong(1) =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b))
    }.distinct
    val adj = scala.collection.mutable.LongMap[List[Long]]()
    pairs.foreach { case (u, v) =>
      adj(u) = v :: adj.getOrElse(u, Nil)
      adj(v) = u :: adj.getOrElse(v, Nil)
    }
    val deg = scala.collection.mutable.LongMap[Int]()
    adj.foreach { case (n, ns) => deg(n) = ns.size }
    val heap = scala.collection.mutable.PriorityQueue[(Int, Long)]()(
      Ordering.by[(Int, Long), Int](_._1).reverse)
    deg.foreach { case (n, d) => heap.enqueue((d, n)) }
    val core = scala.collection.mutable.LongMap[Int]()
    var k = 0
    while (heap.nonEmpty) {
      val (d, n) = heap.dequeue()
      if (!core.contains(n) && d == deg(n)) { // skip stale heap entries
        k = math.max(k, d)
        core(n) = k
        adj(n).foreach { m =>
          if (!core.contains(m)) {
            val nd = deg(m) - 1
            deg(m) = nd
            heap.enqueue((nd, m))
          }
        }
      }
    }
    core.toSeq.map { case (n, c) => (n, c) }.toDF("node", "coreness")
      .select(col("node"), col("coreness").cast("int"))
  }

  /**
   * Strongly connected components — trim + forward-backward reachability
   * (Hong, Rodia & Olukotun, "On Fast Parallel Detection of Strongly
   * Connected Components", SC'13; the standard distributed SCC recipe):
   *
   *  trim — nodes missing an in- or out-edge in the remaining graph are
   *  singleton SCCs; peel to fixpoint (kills the DAG skeleton fast);
   *
   *  pivot — the minimum remaining id; its SCC = forward-reachable ∩
   *  backward-reachable ([[Bfs.distances]] both orientations); remove,
   *  repeat.
   *
   * Each trim round is two aggregates + two semi-joins; each pivot round
   * two frontier BFS runs. Like [[Bfs.connectedComponents]], small pair
   * graphs run a driver-local iterative Tarjan instead.
   *
   * @param edges (src, dst) directed; self-loops ignored
   * @return (node, component) — component = min node id of the SCC
   */
  def stronglyConnectedComponents(edges: DataFrame, maxIter: Int = 50,
      maxDepth: Int = 1024): DataFrame = {
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    for (rows <- Placement.local(raw, Placement.Walk))
      return localScc(edges.sparkSession, rows)
    var e = raw.distinct().localCheckpoint(false)
    val done = Seq.newBuilder[DataFrame]
    var remaining = e.count()
    var i = 0
    while (remaining > 0 && i < maxIter) {
      i += 1
      // trim to fixpoint: a node without BOTH an in- and an out-edge in
      // the remaining graph cannot sit on a cycle
      var trimmed = true
      while (trimmed && remaining > 0) {
        val keep = e.select(col("src").as("node"))
          .intersect(e.select(col("dst").as("node")))
        val next = e
          .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .localCheckpoint(false)
        val cnt = next.count()
        trimmed = cnt < remaining
        e = next; remaining = cnt
      }
      if (remaining > 0) {
        val pivot = e.agg(least(min(col("src")), min(col("dst")))).first().getLong(0)
        val spark = e.sparkSession
        import spark.implicits._
        val pv = Seq(pivot).toDF("source")
        val fwd = Bfs.distances(e, pv, maxDepth).select(col("node"))
        val bwd = Bfs.distances(
          e.select(col("dst").as("src"), col("src").as("dst")), pv, maxDepth)
          .select(col("node"))
        val scc = fwd.intersect(bwd).freshCkpt() // includes the pivot
        // pivot = min remaining id and pivot ∈ scc ⇒ min(scc) = pivot
        done += scc.select(col("node"), lit(pivot).as("component"))
        e = e.join(scc.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
          .join(scc.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
          .localCheckpoint(false)
        remaining = e.count()
      }
    }
    require(remaining == 0,
      s"SCC did not converge in $maxIter pivot rounds")
    val spark = edges.sparkSession
    val nontrivial = done.result()
      .reduceOption(_ unionByName _)
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("node", "component")
      }
    // everything never assigned to a nontrivial SCC is its own singleton
    val allNodes = raw.select(col("src").as("node"))
      .unionByName(raw.select(col("dst").as("node"))).distinct()
    allNodes.join(nontrivial, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** iterative (explicit-stack) Tarjan over a collected bounded edge list;
    * component = min id of the SCC, matching the distributed form */
  private def localScc(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).distinct
    val adj = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      // explicit work stack of (node, next-neighbor-offset)
      val work = scala.collection.mutable.ArrayBuffer((root, 0))
      while (work.nonEmpty) {
        val (v, off) = work.last
        if (off == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack += v; onStack += v
        }
        val ns = adj.getOrElse(v, Array.empty[Long])
        var k = off
        var descended = false
        while (k < ns.length && !descended) {
          val w = ns(k)
          if (!index.contains(w)) {
            work(work.length - 1) = (v, k + 1)
            work += ((w, 0))
            descended = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            k += 1
          }
        }
        if (!descended) {
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = -1L
            while (w != v) {
              w = stack.remove(stack.length - 1); onStack -= w; members += w
            }
            val cid = members.min
            members.foreach(m => comp(m) = cid)
          }
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    import spark.implicits._
    nodes.toSeq.map(n => (n, comp(n))).toDF("node", "component")
  }

  /**
   * HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
   * Centralities with HyperBall", 2013): the approximate neighborhood
   * function N(t) = Σ_v |{w : d(v,w) ≤ t}| via per-node HyperLogLog
   * counters max-merged along edges each round — THE way to compute
   * distance statistics (effective diameter, average distance) on graphs
   * where exact all-pairs BFS is hopeless. State is |V| fixed-size
   * register arrays (m = 2^log2m ints); a round is one join + one
   * grouped merge, both hash-partitioned on node id; the only driver
   * value per round is one double (that round's estimate).
   *
   * Registers use the standard HLL split of one 64-bit hash: low log2m
   * bits pick the register, ρ = trailing-zero count of the high bits + 1.
   * Estimation is the HLL-with-linear-counting form (αm·m²/Σ2^-reg;
   * |zeros| linear counting below 2.5m). Everything — init, merge,
   * estimate — is codegen'd higher-order array functions; no UDF.
   *
   * @param edges (src, dst) — balls grow along OUT-edges
   * @return (t INT, nf DOUBLE): estimated N(t) for t = 0..convergence
   *         (N stops growing) or maxT, whichever first
   */
  def hyperBall(edges: DataFrame, maxT: Int, log2m: Int = 8,
      portable: Boolean = false): DataFrame = {
    require(log2m >= 4 && log2m <= 12, s"log2m out of range: $log2m")
    graft.functions.expressions.IntArrayMaxAgg.ensureRegistered(edges.sparkSession)
    val m = 1 << log2m
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    // one 64-bit hash per node: low bits index the register, the ρ of the
    // high bits is the register value. ρ via the isolate-lowest-set-bit
    // trick (h & -h is a power of two, so log2 of it is exact).
    // `portable` swaps in the md5-derived 60-bit hash (Dedup
    // .portableHash64 convention), so the register INIT — and therefore
    // every max-merged register state and the whole curve — replays
    // exactly in any engine with md5 (the DuckDB oracle recomputes it)
    val h =
      if (portable) graft.functions.Dedup.portableHash64(
        concat(col("node").cast("string"), lit(":hyperball")))
      else xxhash64(col("node"), lit("hyperball"))
    val hi = shiftrightunsigned(h, log2m)
    val rho = when(hi === 0, lit(64 - log2m + 1)).otherwise(
      (log2(hi.bitwiseAND(-hi).cast("double")) + 1).cast("int"))
    val idx = pmod(h, lit(m.toLong)).cast("int")
    var counters = nodes
      .withColumn("__c", transform(sequence(lit(0), lit(m - 1)),
        i => when(i === idx, rho).otherwise(lit(0))))
      .localCheckpoint(false)
    // HLL estimate of one counter array, codegen'd HOFs end to end
    def estimate(c: Column): Column = {
      val invSum = aggregate(c, lit(0.0),
        (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
      val zeros = size(filter(c, r => r === 0)).cast("double")
      val raw = lit(alpha * m * m) / invSum
      when(raw <= 2.5 * m && zeros > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros)).otherwise(raw)
    }
    def total(c: DataFrame): Double =
      c.agg(sum(estimate(col("__c")))).first().getDouble(0)
    val curve = Seq.newBuilder[(Int, Double)]
    var prev = total(counters) // materializes the round's checkpoint
    curve += ((0, prev))
    var t = 0
    var grown = true
    while (grown && t < maxT) {
      t += 1
      // ball(v) ∪= ball(u) for v→u: pull each successor's counter to its
      // predecessors, max-merge per node. int_array_max (a native
      // TypedImperativeAggregate) folds registers as rows stream through —
      // constant memory per node and map-side partials, so hub in-degree
      // never buffers d × m ints the way collect_list would.
      val pulled = e.join(counters.withColumnRenamed("node", "dst")
          .withColumnRenamed("__c", "__cn"), Seq("dst"))
        .select(col("src").as("node"), col("__cn"))
      val merged = counters.unionByName(
          pulled.withColumnRenamed("__cn", "__c"))
        .groupBy("node")
        .agg(call_function("int_array_max", col("__c")).as("__c"))
        .localCheckpoint(false)
      val cur = total(merged)
      counters = merged
      // monotone by construction; strict growth below a relative epsilon
      // means the balls stopped expanding (convergence = diameter reached)
      grown = cur > prev * (1 + 1e-12)
      if (grown) { curve += ((t, cur)); prev = cur }
    }
    val spark = edges.sparkSession
    import spark.implicits._
    curve.result().toDF("t", "nf")
  }

  /**
   * Node similarity over out-neighborhoods (the gds.nodeSimilarity
   * shape): Jaccard = |N(a)∩N(b)| / |N(a)∪N(b)| for node pairs sharing
   * at least one neighbor, top-k pairs per node.
   *
   * Scale shape: the one wedge kernel ([[Wedges.similarity]]) — each node's
   * in-list carries its sources' out-degrees, each partition fetches the
   * in-lists of the neighbours its nodes point to and counts shared
   * neighbours per candidate in the task, so no candidate pair or wedge
   * row is shuffled and the call is one job. Cost Σ_w fan(w)², so
   * high-fanout hub neighbors are excluded from pair GENERATION by
   * `fanoutCap` (degrees for the denominator still count them; the
   * standard degree-cap approximation, exact whenever no neighbor exceeds
   * the cap).
   *
   * @param edges (src, dst) — similarity between src nodes; ids cast to
   *              LONG, rows with a null endpoint dropped
   * @return (n1, n2, similarity DOUBLE 4dp, rank 1..k per n1) with n1 < n2,
   *         ranked by similarity, then n2 ascending
   */
  def nodeSimilarity(edges: DataFrame, topK: Int,
      fanoutCap: Int = 100000): DataFrame = {
    val (rounds, e) = Wedges.pairs(edges, "nodeSimilarity")
    Rounds.toDf(edges.sparkSession, Wedges.similarity(rounds, e, topK, fanoutCap),
      "n1", "n2", "similarity", "rank")
  }

  /**
   * k-truss (Cohen 2008; the cohesive-subgraph sibling of [[kCore]] in the
   * graph-data-science family): the maximal subgraph in which every edge
   * closes at least k−2 triangles — the edges whose trussness
   * ([[trussDecomposition]]) is at least k. The vertex program of
   * [[trussDecomposition]] with each estimate capped at k−2 and one below
   * k−2 dropped to 0: an edge keeps k−2 while at least k−2 of its
   * triangles have both partner edges holding it. That is the parallel
   * support peel for k alone, so the round count is its peel depth for k,
   * not the trussness convergence depth.
   *
   * @param edges (src, dst) — direction ignored, self-loops dropped; ids
   *              read as LONG ([[Rounds.longId]]), rows with a null
   *              endpoint dropped
   * @return surviving undirected edges (u, v) with u < v
   */
  def kTruss(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    trussness(edges, maxIter = 200, "kTruss", Some(k - 2))
      .filter(col("trussness") === k).select(col("u"), col("v"))
  }

  /**
   * Full truss decomposition: per-edge TRUSSNESS — the largest k for which
   * the edge survives the k-truss ([[kTruss]]) — by the h-index fixpoint of
   * [[coreDecomposition]] with the edges as vertices (Sariyüce, Seshadhri &
   * Pinar, VLDB 2018 — local nucleus decomposition): σ(e) starts at e's
   * triangle support and iterates
   *   σ(e) ← H({min(σ(e1), σ(e2)) : e, e1, e2 close a triangle})
   * to fixpoint; trussness = σ∞ + 2, and 2 for an edge of no triangle.
   *
   * The wedge kernel numbers each undirected edge and enumerates the
   * triangles once ([[Wedges.numberedTriangles]]); each triangle gives each
   * of its edges one item, its two partner edges side by side in the edge's
   * block run. The rounds are the [[Rounds.step]] loop of
   * [[coreDecomposition]], one job each, and their count is the
   * convergence depth, not the Σ_k peels_k of a peeling cascade.
   *
   * @param edges (src, dst) — direction ignored, self-loops dropped; ids
   *              read as LONG ([[Rounds.longId]]), rows with a null
   *              endpoint dropped
   * @return (u, v, trussness INT) for every undirected edge, u < v
   */
  def trussDecomposition(edges: DataFrame, maxIter: Int = 200): DataFrame =
    trussness(edges, maxIter, "trussDecomposition", None)

  /** Per-edge trussness; with `cap`, only cap + 2 for the edges of the
    * (cap + 2)-truss and 2 for the rest. */
  private def trussness(edges: DataFrame, maxIter: Int, op: String,
      cap: Option[Int]): DataFrame = {
    val (rounds, e) = Wedges.pairs(edges, op)
    val (numbered, tri) = Wedges.numberedTriangles(rounds, e)
    // each edge's run: the partner pair of each of its triangles, side by side
    val adj = rounds.persist(rounds.blocks(tri.flatMap { case (x, y, z) =>
      Iterator((x, (y, z)), (y, (x, z)), (z, (x, y))) })(it => Adjacency.ordered(
        it.flatMap { case (x, (y, z)) => Iterator((x, y, 0.0), (x, z, 0.0)) }, weighted = false)))
    val (vs, cur) = decompose(rounds, adj, width = 2, maxIter, op, cap)
    Rounds.toDf(edges.sparkSession, numbered.partitionBy(rounds.part)
      .zipPartitions(Rounds.byNode(vs, cur)) { (es, st) =>
        val at = scala.collection.mutable.LongMap.from(st)
        es.map { case (id, (u, v)) => (u, v, at.getOrElse(id, 0) + 2) }
      }, "u", "v", "trussness")
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999; the reference ecosystem
   * ships it in its graph-data-science centrality family). Synchronous
   * power iteration with L2 normalization after each half-step:
   *   a ← normalize(Aᵀ h),  h ← normalize(A a)
   * starting from h = 1. Deterministic: fixed iteration count, no
   * convergence race. Each half-step is one join + one partial-aggregable
   * sum hash-partitioned on node ids, plus a one-row norm broadcast — the
   * shape scales like PageRank (state = (node, value) pairs).
   *
   * @param edges (src, dst) directed
   * @return (node, hub DOUBLE 6dp, authority DOUBLE 6dp)
   */
  def hits(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"bad iterations: $iterations")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().freshCkpt()
    def normalized(df: DataFrame, c: String): DataFrame = {
      val norm = df.agg(sqrt(sum(pow(col(c), 2))).as("__n"))
      df.crossJoin(broadcast(norm))
        .select(col("node"), (col(c) / col("__n")).as(c))
    }
    var h = nodes.withColumn("hub", lit(1.0))
    var a = nodes.withColumn("authority", lit(0.0))
    var i = 0
    while (i < iterations) {
      val a0 = e.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum("hub").as("authority"))
      a = normalized(nodes.join(a0, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("authority"), lit(0.0)).as("authority")),
        "authority").localCheckpoint(false)
      val h0 = e.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum("authority").as("hub"))
      h = normalized(nodes.join(h0, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub")),
        "hub").localCheckpoint(false)
      i += 1
    }
    h.join(a, "node")
      .select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("authority"), 6).as("authority"))
  }

  /**
   * Eigenvector centrality (Bonacich 1987; reference ecosystem
   * gds.eigenvector): power iteration x ← normalize(Aᵀ x) from a uniform
   * start, fixed iteration budget (deterministic — the standard stop rule
   * for a distributed formulation, like [[Ranking.labelPropagation]]).
   * Directed: a node's score sums its in-neighbors'; symmetrize upstream
   * for the undirected form. Same per-round shape as PageRank minus the
   * teleport.
   *
   * @return (node, score DOUBLE 6dp)
   */
  def eigenvector(edges: DataFrame, iterations: Int = 10): DataFrame = {
    require(iterations >= 1, s"bad iterations: $iterations")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().freshCkpt()
    var x = nodes.withColumn("score", lit(1.0))
    var i = 0
    while (i < iterations) {
      val x0 = e.join(x.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum("score").as("score"))
      val merged = nodes.join(x0, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("score"), lit(0.0)).as("score"))
      val norm = merged.agg(sqrt(sum(pow(col("score"), 2))).as("__n")).first()
        .getDouble(0)
      require(norm > 0,
        "eigenvector centrality washed out to zero — the graph has no " +
          "cycle feeding mass back; use pageRank (teleport) on DAGs")
      x = merged.select(col("node"), (col("score") / norm).as("score"))
        .localCheckpoint(false)
      i += 1
    }
    x.select(col("node"), round(col("score"), 6).as("score"))
  }
}
