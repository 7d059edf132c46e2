package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Centrality and node-similarity algorithms — the remainder of the
 * reference's graph-algo family (community/graph-algo/.../CentralityService
 * and the path-finder infrastructure it feeds) next to PageRank / triangle
 * counting / label propagation in [[Ranking]].
 *
 * Scale rules shared by every algorithm here:
 *  - state rows are (source, node) pairs of 8-byte ids — properties never
 *    enter the loops;
 *  - each round is one join + one aggregate, both hash-partitioned on node
 *    ids, frontiers lazily checkpointed so one action materializes a round;
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

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

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
   * degree ≥ k, by iterative peeling — drop nodes under the threshold,
   * recompute degrees, repeat to fixpoint. Each round is one aggregate +
   * two semi-joins over the shrinking edge set; round count is the peel
   * depth (≤ graph degeneracy), independent of |V|. The standard
   * distributed formulation — no per-node driver state.
   *
   * @param edges (src, dst) — direction ignored, self-loops dropped
   * @return (node LONG) — members of the k-core
   */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
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
   * Scale shape: ONE iterative job whose round count is the convergence
   * depth (empirically tens, independent of k_max) — unlike the k-phase
   * peeling cascade whose driver-round count is Σ_k peels_k. Each round
   * is an edge×estimate hash join plus a per-node h-index, computed
   * without collecting neighbor lists: group neighbor estimates to
   * (node, value, cnt), take a descending running count per node, and
   * h = max(min(value, running)). All shuffles are key-partitioned on
   * node id; state is one long per node. The peeling formulation is
   * kept as [[coreDecompositionPeeling]] and cross-checked by spec.
   *
   * @return (node, coreness) — floor 1 (isolated nodes only appear
   *         through edges)
   */
  def coreDecomposition(edges: DataFrame, maxIter: Int = 200): DataFrame = {
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    // graphs whose edge list fits the driver peel locally
    // (Batagelj–Zaveršnik)
    for (rows <- Placement.local(raw, Placement.Walk))
      return localCoreness(edges.sparkSession, rows)
    val canon = raw
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val und = canon
      .unionByName(canon.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    var cur = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false)
    var checksum = if (cur.isEmpty) 0L else cur.agg(sum("c")).head().getLong(0)
    var converged = checksum == 0
    var i = 0
    val byNode = Window.partitionBy("node").orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    while (!converged && i < maxIter) {
      // neighbor estimates → h-index per node, via grouped counts + a
      // descending running total (no per-node list materialization)
      val next = und
        .join(cur.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("c"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__rt", sum(col("__cnt")).over(byNode))
        .groupBy("node")
        .agg(max(least(col("c"), col("__rt"))).as("c"))
        .localCheckpoint(false)
      val nextSum = if (next.isEmpty) 0L else next.agg(sum("c")).head().getLong(0)
      converged = nextSum == checksum
      cur = next; checksum = nextSum; i += 1
    }
    require(converged, s"coreDecomposition did not converge in $maxIter rounds")
    cur.select(col("node"), col("c").cast("int").as("coreness"))
  }

  /** Driver-local coreness: Batagelj–Zaveršnik bucket peeling over a
    * collected adjacency (min-heap with lazy deletion; O(E log V)). */
  private def localCoreness(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val pairs = rows.map { r =>
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
   * Peeling formulation of [[coreDecomposition]] (phases k = 2 upward,
   * each phase a full [[kCore]] peel of the previous survivors; a node
   * removed in phase k carries coreness k−1). Driver-round count is
   * Σ_k peels_k — quadratic-ish in degeneracy, so this is the spec
   * cross-check for the h-index form, not the production path.
   */
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
   * Scale shape: candidate pairs are generated by the shared-neighbor
   * self-join — cost Σ_w fan(w)², so high-fanout hub neighbors are
   * excluded from pair GENERATION by `fanoutCap` (degrees for the
   * denominator still count them; the standard degree-cap approximation,
   * exact whenever no neighbor exceeds the cap). Pairs shuffle as id
   * triples; neighborhoods are never collected.
   *
   * @param edges (src, dst) — similarity between src nodes
   * @return (n1, n2, similarity DOUBLE 4dp, rank 1..k per n1) with n1 < n2
   */
  def nodeSimilarity(edges: DataFrame, topK: Int,
      fanoutCap: Int = 100000): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val smallFan = e.groupBy(col("dst")).agg(count(lit(1)).as("__fan"))
      .filter(col("__fan") <= fanoutCap).select(col("dst"))
    // explicit dst-partitioning at the session's configured width: the
    // wedge self-join EXPLODES its input 10-100x (Σ fan² vs |E|), but AQE
    // coalesces on the join's INPUT bytes — a KB-sized edge shuffle would
    // be squeezed into a handful of partitions that each pay the squared
    // work (measured r16: advisory 8m ran this 2.8x slower than 2m).
    // A user repartition is exempt from AQE coalescing, both join sides
    // share the one exchange, and the width follows the session conf
    // rather than a local constant.
    val nPart = e.sparkSession.sessionState.conf.numShufflePartitions
    val pruned = e.join(smallFan, Seq("dst"), "left_semi")
      .repartition(nPart, col("dst"))
    val inter = pruned.select(col("dst"), col("src").as("n1"))
      .join(pruned.select(col("dst"), col("src").as("n2")), Seq("dst"))
      .filter(col("n1") < col("n2"))
      .groupBy(col("n1"), col("n2")).agg(count(lit(1)).as("__i"))
    val sim = inter
      .join(deg.select(col("src").as("n1"), col("__deg").as("__d1")), Seq("n1"))
      .join(deg.select(col("src").as("n2"), col("__deg").as("__d2")), Seq("n2"))
      .withColumn("similarity", round(col("__i").cast("double") /
        (col("__d1") + col("__d2") - col("__i")), 4))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("n1"))
      .orderBy(col("similarity").desc, col("n2").asc)
    sim.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("n1"), col("n2"), col("similarity"), col("rank"))
  }

  /**
   * k-truss decomposition (Cohen 2008; the cohesive-subgraph sibling of
   * [[kCore]] in the graph-data-science family): the maximal subgraph in
   * which every edge closes at least k−2 triangles. Iterative support
   * peeling — each round recounts per-edge triangle support on the
   * surviving edge set (canonical-orientation wedge join, the
   * [[Ranking.triangles]] shape) and drops under-supported edges;
   * deletions cascade, so rounds repeat to fixpoint (bounded: each round
   * either deletes or terminates). Edge-support counting is two
   * partial-aggregable joins on node ids; nothing scans past the
   * surviving |E| per round.
   *
   * @param edges (src, dst) — direction ignored
   * @return surviving undirected edges (u, v) with u < v
   */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var e = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .freshCkpt()
    var dropped = 1L
    var it = 0
    while (dropped > 0 && it < maxIter) {
      it += 1
      val tri = Ranking.triangles(e.select(col("u").as("src"), col("v").as("dst")))
      // each triangle (a < b < c) supports edges (a,b), (b,c), (a,c)
      val support = tri.select(col("a").as("u"), col("b").as("v"))
        .unionByName(tri.select(col("b").as("u"), col("c").as("v")))
        .unionByName(tri.select(col("a").as("u"), col("c").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("__sup"))
      val kept = e.join(support, Seq("u", "v"), "left_outer")
        .filter(coalesce(col("__sup"), lit(0L)) >= k - 2)
        .drop("__sup")
        .freshCkpt()
      dropped = e.count() - kept.count()
      e = kept
    }
    require(dropped == 0, s"kTruss did not converge within $maxIter rounds")
    e
  }

  /**
   * Full truss decomposition: per-edge TRUSSNESS — the largest k for
   * which the edge survives the k-truss ([[kTruss]]). Phases peel k = 3
   * upward, each phase starting from the previous phase's survivors
   * (edge sets only shrink, so no phase rescans removed edges); an edge
   * removed in phase k carries trussness k−1, and edges outside any
   * triangle carry the floor value 2.
   *
   * @return (u, v, trussness) for every undirected input edge
   */
  def trussDecomposition(edges: DataFrame, maxIter: Int = 200): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    // Triangles computed ONCE (the peeling cascade recomputed them every
    // peel of every phase); melt each triangle (a<b<c) into its three
    // (edge, other-edge-1, other-edge-2) incidences.
    val tri = Ranking.triangles(und.select(col("u").as("src"), col("v").as("dst")))
    def inc(e: (Column, Column), o1: (Column, Column), o2: (Column, Column)) =
      tri.select(e._1.as("u"), e._2.as("v"), o1._1.as("p1"), o1._2.as("q1"),
        o2._1.as("p2"), o2._2.as("q2"))
    val ab = (col("a"), col("b")); val bc = (col("b"), col("c"))
    val ac = (col("a"), col("c"))
    val incidences = inc(ab, bc, ac).unionByName(inc(bc, ab, ac))
      .unionByName(inc(ac, ab, bc)).localCheckpoint(false)
    // σ(e) init = support; iterate σ(e) ← H({min(σ(e1), σ(e2))}) to
    // fixpoint (Sariyüce, Seshadhri & Pinar, VLDB 2018 — local nucleus
    // decomposition); trussness = σ∞ + 2. Same grouped-count h-index as
    // [[coreDecomposition]]; round count = convergence depth, not Σ peels.
    var cur = incidences.groupBy("u", "v").agg(count(lit(1)).as("s"))
      .localCheckpoint(false)
    var checksum = if (cur.isEmpty) 0L else cur.agg(sum("s")).head().getLong(0)
    var converged = checksum == 0
    var i = 0
    val byEdge = Window.partitionBy("u", "v").orderBy(col("m").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    while (!converged && i < maxIter) {
      val next = incidences
        .join(cur.select(col("u").as("p1"), col("v").as("q1"),
          col("s").as("s1")), Seq("p1", "q1"))
        .join(cur.select(col("u").as("p2"), col("v").as("q2"),
          col("s").as("s2")), Seq("p2", "q2"))
        .select(col("u"), col("v"), least(col("s1"), col("s2")).as("m"))
        .groupBy("u", "v", "m").agg(count(lit(1)).as("__cnt"))
        .withColumn("__rt", sum(col("__cnt")).over(byEdge))
        .groupBy("u", "v")
        .agg(max(least(col("m"), col("__rt"))).as("s"))
        .localCheckpoint(false)
      val nextSum = if (next.isEmpty) 0L else next.agg(sum("s")).head().getLong(0)
      converged = nextSum == checksum
      cur = next; checksum = nextSum; i += 1
    }
    require(converged, s"trussDecomposition did not converge in $maxIter rounds")
    und.join(cur, Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"),
        (coalesce(col("s"), lit(0L)) + 2).cast("int").as("trussness"))
  }

  /**
   * Peeling formulation of [[trussDecomposition]] (phases k = 3 upward,
   * each a full [[kTruss]] of the previous survivors) — kept as the spec
   * cross-check for the h-index fixpoint form.
   */
  def trussDecompositionPeeling(edges: DataFrame, maxK: Int = 30): DataFrame = {
    var cur = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .freshCkpt()
    val out = Seq.newBuilder[DataFrame]
    var k = 3
    var curCnt = cur.count()
    while (curCnt > 0 && k <= maxK) {
      val next = kTruss(cur.select(col("u").as("src"), col("v").as("dst")), k)
        .freshCkpt()
      out += cur.join(next, Seq("u", "v"), "left_anti")
        .withColumn("trussness", lit(k - 1))
      cur = next
      curCnt = cur.count()
      k += 1
    }
    require(curCnt == 0, s"trussDecompositionPeeling exceeded maxK=$maxK")
    out.result().reduce(_ unionByName _)
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
