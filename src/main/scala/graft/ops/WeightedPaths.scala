package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Weighted shortest paths — the Spark counterpart of the reference's
 * Dijkstra/AStar family (community/graph-algo/src/main/java/org/neo4j/
 * graphalgo/impl/path/Dijkstra.java, DijkstraBidirectional.java;
 * ShortestPath.java returns Path objects, so paths — not just lengths —
 * are part of the contract).
 *
 * A priority queue doesn't distribute, so the scale formulation is
 * frontier-parallel relaxation (distributed Bellman-Ford, i.e. Pregel SSSP
 * — delta-stepping without the bucket ordering): each round relaxes every
 * out-edge of the nodes whose tentative distance improved last round, then
 * keeps the per-(source, node) minimum. Rounds are bounded by the hop count
 * of the longest shortest path, and every round is two shuffles (join +
 * min-aggregate) over (source, node) — at cluster scale both hash-partition
 * on the same key and AQE coalesces the tail.
 *
 * Ties are broken by the lexicographically smallest edge-id path
 * (min over STRUCT(dist, path)), making results deterministic — required
 * for the oracle gate.
 */
object WeightedPaths {

  /**
   * Multi-source weighted shortest paths with path reconstruction.
   * @param edges   (id LONG, src LONG, dst LONG, weight DOUBLE ≥ 0)
   * @param sources (source LONG) — batched like the reference runs one
   *                Dijkstra per start node, but in one shared frontier
   * @param maxIter round cap = max hops of any shortest path; throws if
   *                exhausted before convergence rather than returning
   *                silently-wrong distances
   * @return (source, node, dist, path ARRAY<LONG> of edge ids,
   *         nodes ARRAY<LONG> of visited node ids incl. both endpoints)
   */
  def shortestPaths(edges: DataFrame, sources: DataFrame, maxIter: Int = 50,
      capIsPrune: Boolean = false): DataFrame = {
    val e = edges.select(col("src").as("__s"), col("dst").as("__d"),
      col("weight").as("__w"), col("id").as("__e"))
      .localCheckpoint(false)

    // a NULL source (e.g. a failed OPTIONAL MATCH binding) matches no
    // path — and must not seed the frontier: the improvement join below is
    // null-unsafe, so a null-keyed row would never converge out of it
    var best = sources.filter(col("source").isNotNull)
      .select(col("source"), col("source").as("node"),
        lit(0.0).as("dist"), array().cast("array<long>").as("path"),
        array(col("source")).as("nodes"))
      .freshCkpt()
    var frontier = best
    var fCnt = frontier.count()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      // small frontiers broadcast: relaxation probes edges map-side instead
      // of shuffling the full edge table (checkpointed RDDs have no stats)
      val f = if (fCnt <= Rounds.BroadcastFrontierRows) broadcast(frontier) else frontier
      val relaxed = f.join(e, col("node") === col("__s"))
        .select(col("source"), col("__d").as("node"),
          (col("dist") + col("__w")).as("dist"),
          concat(col("path"), array(col("__e"))).as("path"),
          concat(col("nodes"), array(col("__d"))).as("nodes"))
      // per-(source,node) minimum over old best ∪ newly relaxed; struct
      // ordering = (dist, path) so equal-distance ties resolve
      // deterministically to the smallest edge-id sequence (the node array
      // is functionally determined by the edge path, so trailing it in the
      // struct never affects the ordering)
      val merged = best.unionByName(relaxed)
        .groupBy("source", "node")
        .agg(min(struct(col("dist"), col("path"), col("nodes"))).as("__m"))
        .select(col("source"), col("node"),
          col("__m.dist").as("dist"), col("__m.path").as("path"),
          col("__m.nodes").as("nodes"))
        .freshCkpt()
      // next frontier: strictly improved entries only
      frontier = merged.join(
          best.select(col("source"), col("node"), col("dist").as("__old")),
          Seq("source", "node"), "left_outer")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .drop("__old")
        .freshCkpt()
      best = merged
      fCnt = frontier.count()
      done = fCnt == 0
    }
    // capIsPrune (unit-weight BFS under a user length limit `[*..d]`):
    // round k finalizes every distance ≤ k, so entries in `best` at the cap
    // are exact and longer paths are simply NOT matches (reference
    // shortestPath: a limit that prunes all candidates yields no row)
    require(done || capIsPrune,
      s"shortestPaths did not converge within $maxIter rounds " +
        "(negative cycle or maxIter too small)")
    best
  }

  /**
   * All-pairs shortest path COSTS (reference graph-algo FloydWarshall.java
   * — O(V³)/O(V²), documented for small dense graphs). Two shapes behind
   * one surface:
   *  - bounded inputs ([[Placement.RoundDp]]): the reference's own
   *    regime — per-source binary-heap Dijkstra on the driver, microseconds
   *    each; paying ~hop-count distributed rounds of driver-loop latency
   *    for a graph that fits in one task would be a constant-factor loss
   *    with zero scale benefit.
   *  - past the threshold: distance-ONLY multi-source Bellman-Ford — the
   *    [[shortestPaths]] loop minus the path/nodes arrays, so every
   *    shuffled row is a fixed-width (source, node, dist) triple. APSP
   *    output is costs, so carrying paths would multiply the shuffle
   *    payload for nothing.
   * @return (source, node, dist) incl. the zero-cost diagonal
   */
  def allPairsDistances(edges: DataFrame, sources: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src"), col("dst"), col("weight").cast("double"))
    for (eRows <- Placement.local(e0, Placement.RoundDp);
         sRows <- Placement.local(sources.select(col("source").cast("long")),
           Placement.RoundDp)) {
      val es = eRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // Dijkstra's settled-node argument needs non-negative weights; the
      // distributed relaxation below has no such precondition
      if (es.forall(_._3 >= 0)) {
        // one search per distinct source, like the distributed min-merge
        val srcs = sRows.map(_.getLong(0)).distinct
        val adj = es.groupBy(_._1).map { case (s, xs) =>
          s -> xs.map(x => (x._2, x._3)) }
        val out = Seq.newBuilder[(Long, Long, Double)]
        for (src <- srcs) {
          val dist = scala.collection.mutable.HashMap.empty[Long, Double]
          val pq = scala.collection.mutable.PriorityQueue
            .empty[(Double, Long)](Ordering.by(x => -x._1))
          pq.enqueue((0.0, src))
          while (pq.nonEmpty) {
            val (d, u) = pq.dequeue()
            if (!dist.contains(u)) {
              dist(u) = d
              out += ((src, u, d))
              adj.getOrElse(u, Array.empty[(Long, Double)]).foreach {
                case (v, w) => if (!dist.contains(v)) pq.enqueue((d + w, v))
              }
            }
          }
        }
        return out.result().toDF("source", "node", "dist")
      }
    }
    val e = e0.select(col("src").as("__s"), col("dst").as("__d"),
      col("weight").as("__w")).localCheckpoint(false)
    var best = sources.select(col("source"), col("source").as("node"),
      lit(0.0).as("dist")).freshCkpt()
    var frontier = best
    var fCnt = frontier.count()
    var iter = 0
    while (fCnt > 0 && iter < maxIter) {
      iter += 1
      val f = if (fCnt <= 1000000) broadcast(frontier) else frontier
      val relaxed = f.join(e, col("node") === col("__s"))
        .select(col("source"), col("__d").as("node"),
          (col("dist") + col("__w")).as("dist"))
      val merged = best.unionByName(relaxed)
        .groupBy("source", "node").agg(min(col("dist")).as("dist"))
        .freshCkpt()
      frontier = merged.join(
          best.select(col("source"), col("node"), col("dist").as("__old")),
          Seq("source", "node"), "left_outer")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .drop("__old")
        .freshCkpt()
      best = merged
      fCnt = frontier.count()
    }
    require(fCnt == 0, s"allPairsDistances did not converge within " +
      s"$maxIter rounds (negative cycle or maxIter too small)")
    best
  }

  /**
   * K cheapest paths per (source, target) under relationship-uniqueness
   * (trail semantics, like every Cypher MATCH) with a hop cap — the
   * batched generalization of the reference Dijkstra PathFinder's
   * findAllPaths (community/graph-algo/.../impl/path/Dijkstra.java
   * returns ALL equal-cost cheapest paths; k beyond the tie set extends
   * that surface to ranked k-cheapest output, the shape Yen's algorithm
   * produces on a single machine).
   *
   * Depth-synchronized frontier rounds, the weighted sibling of
   * [[graft.ops.Trail.shortestK]]: round r holds every surviving partial
   * with exactly r hops, and per (source, node) only the k best
   * (dist, path) partials OF THAT ROUND survive. Hop-synchronized
   * pruning is what makes the budget exact on acyclic search spaces: a
   * final top-k path's r-hop prefix must rank top-k at its node among
   * r-hop partials, because k cheaper same-hop partials would extend by
   * the same suffix into k cheaper full paths. Work per round is bounded
   * by |reached| × k, never by the path count — the priority queue the
   * single-machine formulation needs is replaced by one per-state top-k
   * a round. The rounds, and the final per-pair rank, are the path-search
   * family's ([[TrailRdd.search]] under its [[TrailRdd.KCheapest]]
   * policy), on the driver or distributed by input size.
   *
   * @param edges (id LONG, src LONG, dst LONG, weight DOUBLE >= 0)
   * @param pairs (source, target)
   * @return (source, target, dist, hops, path ARRAY<LONG>, rank 1..k)
   */
  def kCheapest(edges: DataFrame, pairs: DataFrame, k: Int,
      maxDepth: Int): DataFrame = {
    require(k >= 1 && maxDepth >= 1 && maxDepth <= 30,
      s"kCheapest bounds out of range: k=$k maxDepth=$maxDepth")
    TrailRdd.search(
      Seq(Trail.PathSegment(TrailRdd.legEdges(edges, col("weight")), 0, maxDepth,
        composite = true)),
      pairs, TrailRdd.KCheapest(k), keepAll = true)
  }

  /** Shortest path lengths+paths restricted to requested (source, target)
    * pairs. */
  def shortestPathsTo(edges: DataFrame, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val all = shortestPaths(edges, pairs.select("source").distinct(), maxIter)
    pairs.join(all.withColumnRenamed("node", "target"), Seq("source", "target"))
  }

  /**
   * Bidirectional single-pair search (reference graph-algo
   * DijkstraBidirectional.java): Dijkstra-ordered bucket expansion from the
   * source over forward edges and from the target over reversed edges,
   * expanding the smaller frontier each round. Each round settles the
   * minimum-distance bucket (every label < the bucket head is final under
   * non-negative weights — Dijkstra's invariant, frontier-parallel over
   * ties), so the classic termination bound applies: stop when
   * topF + topB >= mu (best meeting distance so far; one side exhausted =
   * +inf). On branching graphs this touches O(b^(d/2)) states per side
   * where the forward-only search touches O(b^d).
   *
   * @return (one-row DataFrame (source, target, dist, path, nodes) — empty
   *         if unreachable, touched = total frontier rows expanded)
   */
  def bidirectionalWithStats(edges: DataFrame, source: Long, target: Long,
      maxIter: Int = 200): (DataFrame, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val eps = 1e-9
    val fwd = edges.select(col("src").as("__s"), col("dst").as("__d"),
      col("weight").as("__w"), col("id").as("__e")).localCheckpoint(false)
    val bwd = edges.select(col("dst").as("__s"), col("src").as("__d"),
      col("weight").as("__w"), col("id").as("__e")).localCheckpoint(false)

    // per side: best labels + open (labeled, not yet expanded)
    case class Side(e: DataFrame, var best: DataFrame, var open: DataFrame,
        var top: Double, var openCnt: Long)
    def init(root: Long, e: DataFrame): Side = {
      val s0 = Seq(root).toDF("node")
        .select(col("node"), lit(0.0).as("dist"),
          array().cast("array<long>").as("path"), array(col("node")).as("nodes"))
        .freshCkpt()
      Side(e, s0, s0, 0.0, 1L)
    }
    val f = init(source, fwd)
    val b = init(target, bwd)

    var mu = Double.PositiveInfinity
    var touched = 0L
    var iter = 0
    def topOr(s: Side): Double = if (s.openCnt == 0) Double.PositiveInfinity else s.top
    while (topOr(f) + topOr(b) < mu && iter < maxIter) {
      iter += 1
      val s = if (f.openCnt > 0 && (b.openCnt == 0 || f.openCnt <= b.openCnt)) f else b
      val bucket = s.open.filter(col("dist") <= s.top + eps).localCheckpoint(false)
      val bucketCnt = bucket.count()
      touched += bucketCnt
      val relaxed = broadcast(bucket).join(s.e, col("node") === col("__s"))
        .select(col("__d").as("node"), (col("dist") + col("__w")).as("dist"),
          concat(col("path"), array(col("__e"))).as("path"),
          concat(col("nodes"), array(col("__d"))).as("nodes"))
      val merged = s.best.unionByName(relaxed)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("path"), col("nodes"))).as("__m"))
        .select(col("node"), col("__m.dist").as("dist"),
          col("__m.path").as("path"), col("__m.nodes").as("nodes"))
        .freshCkpt()
      val improved = relaxed.groupBy("node")
        .agg(min(struct(col("dist"), col("path"), col("nodes"))).as("__m"))
        .select(col("node"), col("__m.dist").as("dist"))
        .join(s.best.select(col("node"), col("dist").as("__old")),
          Seq("node"), "left_outer")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select("node")
      val newOpen = s.open.filter(col("dist") > s.top + eps)
        .select("node")
        .unionByName(improved)
        .distinct()
        .join(merged, Seq("node"))
        .freshCkpt()
      s.best = merged
      s.open = newOpen
      s.openCnt = newOpen.count()
      if (s.openCnt > 0)
        s.top = newOpen.agg(min(col("dist"))).first().getDouble(0)
      // meeting check: min over nodes labeled by BOTH sides
      val meet = f.best.select(col("node"), col("dist").as("__fd"))
        .join(b.best.select(col("node"), col("dist").as("__bd")), Seq("node"))
        .agg(min(col("__fd") + col("__bd")).as("m")).first()
      if (!meet.isNullAt(0)) mu = math.min(mu, meet.getDouble(0))
    }
    require(topOr(f) + topOr(b) >= mu,
      s"bidirectional search did not converge within $maxIter rounds")
    if (mu.isInfinity)
      return (f.best.filter(lit(false))
        .select(lit(source).as("source"), lit(target).as("target"),
          col("dist"), col("path"), col("nodes")), touched)
    // stitch: forward best + reversed backward best at the best meeting
    // node; backward path/nodes were collected target-outward, so reverse
    val joined = f.best.select(col("node"), col("dist").as("__fd"),
        col("path").as("__fp"), col("nodes").as("__fn"))
      .join(b.best.select(col("node"), col("dist").as("__bd"),
        col("path").as("__bp"), col("nodes").as("__bn")), Seq("node"))
      .select((col("__fd") + col("__bd")).as("dist"),
        concat(col("__fp"), reverse(col("__bp"))).as("path"),
        concat(col("__fn"), reverse(slice(col("__bn"), lit(1),
          greatest(size(col("__bn")) - 1, lit(0))))).as("nodes"))
      .orderBy(col("dist").asc, col("path").asc).limit(1)
    (joined.select(lit(source).as("source"), lit(target).as("target"),
      col("dist"), col("path"), col("nodes")), touched)
  }

  def bidirectional(edges: DataFrame, source: Long, target: Long,
      maxIter: Int = 200): DataFrame =
    bidirectionalWithStats(edges, source, target, maxIter)._1

  /**
   * A* single-pair search (reference graph-algo AStar.java with its
   * EstimateEvaluator): frontier-parallel relaxation where every frontier
   * row carries f = dist + h(node) and rows with f > mu (the best known
   * complete distance) are pruned. With an ADMISSIBLE heuristic
   * (h(v) <= true remaining cost — the caller guarantees edge weights >=
   * scale x coordinate distance) no prefix of an optimal path is ever
   * pruned, so the result is exact; the heuristic only shrinks the
   * explored state space toward the goal.
   *
   * @param coords (id, x DOUBLE, y DOUBLE) node coordinates; h = euclidean
   *               distance to the target's coords x scale
   */
  def astar(edges: DataFrame, coords: DataFrame, source: Long, target: Long,
      scale: Double = 1.0, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Small-graph fast path: the reference's AStar.java IS one priority
    // queue on one machine — matching its single-pair throughput on a tiny
    // edge set means not paying ~20 distributed rounds of driver-loop
    // latency for a graph that fits in one task. Past the bound the
    // frontier-parallel loop below is the only shape that survives 100 TB.
    for (rows <- localPairEdges(edges))
      return localDijkstraPair(spark, rows, source, target)
    val e = edges.select(col("src").as("__s"), col("dst").as("__d"),
      col("weight").as("__w"), col("id").as("__e")).localCheckpoint(false)
    val cs = coords.select(col("id").as("node"), col("x").cast("double"),
      col("y").cast("double"))
    val t = cs.filter(col("node") === target).select("x", "y").first()
    val (tx, ty) = (t.getDouble(0), t.getDouble(1))
    val h = sqrt(pow(col("x") - tx, 2) + pow(col("y") - ty, 2)) * scale

    var best = Seq(source).toDF("node")
      .select(col("node"), lit(0.0).as("dist"),
        array().cast("array<long>").as("path"), array(col("node")).as("nodes"))
      .freshCkpt()
    var frontier = best
    var mu = Double.PositiveInfinity
    var iter = 0
    var improvedCnt = 1L
    // two jobs per round: the merged checkpoint (the real work) and ONE
    // stats pass that folds the improved-count and target-distance probes
    // together; the pruned frontier stays LAZY — it re-derives from the
    // checkpointed merged next round, so no third materialization job
    while (improvedCnt > 0 && iter < maxIter) {
      iter += 1
      val relaxed = broadcast(frontier).join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), (col("dist") + col("__w")).as("dist"),
          concat(col("path"), array(col("__e"))).as("path"),
          concat(col("nodes"), array(col("__d"))).as("nodes"))
      val merged = best.unionByName(relaxed)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("path"), col("nodes"))).as("__m"))
        .select(col("node"), col("__m.dist").as("dist"),
          col("__m.path").as("path"), col("__m.nodes").as("nodes"))
        .freshCkpt()
      val improved = merged.join(
          best.select(col("node"), col("dist").as("__old")),
          Seq("node"), "left_outer")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .drop("__old")
      val st = improved.agg(count(lit(1)),
        min(when(col("node") === target, col("dist")))).first()
      improvedCnt = st.getLong(0)
      if (!st.isNullAt(1)) mu = math.min(mu, st.getDouble(1))
      frontier = improved
        .join(cs, Seq("node"), "left_outer")
        // goal-directed pruning: a frontier row whose optimistic total
        // dist + h already exceeds the best complete path cannot improve;
        // a fully-pruned frontier just costs one extra (empty) round
        .filter(col("x").isNull || col("dist") + h <= lit(mu))
        .drop("x", "y")
      best = merged
    }
    require(improvedCnt == 0, s"astar did not converge within $maxIter rounds")
    best.filter(col("node") === target)
      .select(lit(source).as("source"), col("node").as("target"),
        col("dist"), col("path"), col("nodes"))
  }

  /**
   * ALT single-pair search — A* with Landmark lower bounds via the
   * Triangle inequality (Goldberg & Harrelson, SODA 2005): for any
   * landmark l, both d(v→l) − d(t→l) and d(l→t) − d(l→v) lower-bound
   * d(v, t), so h(v) = max over landmarks of those differences is
   * admissible and the goal-directed pruning is exact. Unlike
   * [[astar]]'s geometric heuristic this needs NO coordinates — the
   * precomputed [[Landmarks]] tables serve any graph, which is the whole
   * point at 100 TB: the h-table build is |V|×|L| joins against the
   * target's |L| broadcast rows, done once per query, and every round
   * prunes frontier rows whose dist + h exceeds the best known complete
   * path. Nodes missing from the tables take h = 0 (still admissible).
   *
   * @param toL   (node, landmark, dist) — d(node → landmark)
   * @param fromL (landmark, node, dist) — d(landmark → node)
   */
  def astarAlt(edges: DataFrame, toL: DataFrame, fromL: DataFrame,
      source: Long, target: Long, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    for (rows <- localPairEdges(edges))
      return localDijkstraPair(spark, rows, source, target)
    val e = edges.select(col("src").as("__s"), col("dst").as("__d"),
      col("weight").as("__w"), col("id").as("__e")).localCheckpoint(false)
    val tTo = toL.filter(col("node") === target)
      .select(col("landmark"), col("dist").as("__tt"))
    val tFrom = fromL.filter(col("node") === target)
      .select(col("landmark"), col("dist").as("__tf"))
    val hTab = toL.select(col("node"), col("landmark"), col("dist").as("__vt"))
      .join(broadcast(tTo), Seq("landmark"))
      .select(col("node"), (col("__vt") - col("__tt")).as("__lb"))
      .unionByName(
        fromL.select(col("landmark"), col("node"), col("dist").as("__vf"))
          .join(broadcast(tFrom), Seq("landmark"))
          .select(col("node"), (col("__tf") - col("__vf")).as("__lb")))
      .groupBy("node").agg(greatest(max("__lb"), lit(0.0)).as("__h"))
      .freshCkpt()
    var best = Seq(source).toDF("node")
      .select(col("node"), lit(0.0).as("dist"),
        array().cast("array<long>").as("path"), array(col("node")).as("nodes"))
      .freshCkpt()
    var frontier = best
    var mu = Double.PositiveInfinity
    var iter = 0
    var improvedCnt = 1L
    while (improvedCnt > 0 && iter < maxIter) {
      iter += 1
      val relaxed = broadcast(frontier).join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), (col("dist") + col("__w")).as("dist"),
          concat(col("path"), array(col("__e"))).as("path"),
          concat(col("nodes"), array(col("__d"))).as("nodes"))
      val merged = best.unionByName(relaxed)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("path"), col("nodes"))).as("__m"))
        .select(col("node"), col("__m.dist").as("dist"),
          col("__m.path").as("path"), col("__m.nodes").as("nodes"))
        .freshCkpt()
      val improved = merged.join(
          best.select(col("node"), col("dist").as("__old")),
          Seq("node"), "left_outer")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .drop("__old")
      val st = improved.agg(count(lit(1)),
        min(when(col("node") === target, col("dist")))).first()
      improvedCnt = st.getLong(0)
      if (!st.isNullAt(1)) mu = math.min(mu, st.getDouble(1))
      frontier = improved
        .join(hTab, Seq("node"), "left_outer")
        .filter(col("__h").isNull || col("dist") + col("__h") <= lit(mu))
        .drop("__h")
      best = merged
    }
    require(improvedCnt == 0, s"astarAlt did not converge within $maxIter rounds")
    best.filter(col("node") === target)
      .select(lit(source).as("source"), col("node").as("target"),
        col("dist"), col("path"), col("nodes"))
  }

  /** The (src, dst, weight, id) edges of a single-pair search when they fit
    * [[Placement.RoundDp]] and every weight is positive: zero-weight edges
    * break [[localDijkstraPair]]'s tie-break argument (a prefix can cost
    * the same as its extension), so those inputs take the distributed
    * min-struct formulation, which handles them. */
  private def localPairEdges(edges: DataFrame):
      Option[Array[(Long, Long, Double, Long)]] =
    Placement.local(edges.select(col("src"), col("dst"), col("weight"),
        col("id")), Placement.RoundDp)
      .map(_.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))))
      .filter(_.forall(_._3 > 0))

  /** Driver-local single-pair Dijkstra over a collected (bounded) edge set,
    * producing EXACTLY the distributed formulation's output: labels are
    * ordered by (dist, path-lexicographic), the same total order as
    * min(STRUCT(dist, path, nodes)), so the returned path is the identical
    * deterministic tie-break. With all weights > 0 equal-distance labels
    * are never prefix-related, so appending a suffix preserves their order
    * and the settled-node discard is safe. The heuristic is pointless at
    * this size (the whole search is microseconds) and is skipped. */
  private def localDijkstraPair(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long, Double, Long)], source: Long,
      target: Long): DataFrame = {
    import spark.implicits._
    def lexLess(a: Vector[Long], b: Vector[Long]): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        if (a(i) != b(i)) return a(i) < b(i)
        i += 1
      }
      a.length < b.length
    }
    val adj = edges.groupBy(_._1)
    type Lbl = (Double, Vector[Long], Long, Vector[Long]) // dist, path, node, nodes
    val ord = new Ordering[Lbl] {
      def compare(x: Lbl, y: Lbl): Int = {
        val c = java.lang.Double.compare(x._1, y._1)
        if (c != 0) c
        else if (x._2 == y._2) 0
        else if (lexLess(x._2, y._2)) -1 else 1
      }
    }
    val pq = scala.collection.mutable.PriorityQueue.empty[Lbl](ord.reverse)
    pq.enqueue((0.0, Vector.empty, source, Vector(source)))
    val settled = scala.collection.mutable.HashSet.empty[Long]
    var found: Option[Lbl] = None
    while (found.isEmpty && pq.nonEmpty) {
      val lbl @ (d, p, n, ns) = pq.dequeue()
      if (n == target) found = Some(lbl)
      else if (settled.add(n)) {
        adj.getOrElse(n, Array.empty[(Long, Long, Double, Long)]).foreach {
          case (_, dst, w, eid) =>
            if (!settled.contains(dst)) pq.enqueue((d + w, p :+ eid, dst, ns :+ dst))
        }
      }
    }
    found.map { case (d, p, _, ns) => (source, target, d, p, ns) }
      .toSeq.toDF("source", "target", "dist", "path", "nodes")
  }
}
