package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Frontier-based BFS over an edge DataFrame — the scale path for
 * PruningVarLengthExpandPipe (distinct end nodes only, reference
 * pipes/PruningVarLengthExpandPipe.scala), BFSPruningVarExpand
 * (LogicalPlan.scala:2119) and FindShortestPaths (graph-algo
 * ShortestPath.java:81's BFS, distributed).
 *
 * Design (SURVEY §7.4 hard-part #5): never self-join-to-fixpoint over full
 * path sets — instead iterate a *frontier* (node, source) set, anti-joined
 * against the visited set. The rounds run over RDDs through [[Rounds]]:
 * edges are hash-partitioned by src once, each round is one narrow
 * co-partitioned join plus ONE shuffle of the expanded rows onto their
 * nodes, and the dedupe and visited anti-join run partition-locally. Each
 * round's frontier is persisted and materialized by that round's single
 * bookkeeping action — the same asymptotics as Pregel. The visited set is
 * the narrow union of the persisted frontier deltas (never re-materialized
 * wholesale — at depth D that would cost O(V·D) redundant I/O).
 */
object Bfs {

  /** Long-id contract cast for the RDD/local fast paths: a non-null id
    * that does not cast to LONG fails loudly, naming the operator, instead
    * of becoming NULL and silently dropping the edge (the generic-typed
    * DataFrame joins these paths replaced would have matched string ids).
    * `try_cast` keeps the named error under ANSI mode too. */
  private def longId(c: org.apache.spark.sql.Column, op: String):
      org.apache.spark.sql.Column =
    when(c.isNotNull && c.try_cast("long").isNull,
      raise_error(concat(lit(s"$op: id not castable to LONG: "),
        c.cast("string"))).cast("long"))
      .otherwise(c.try_cast("long"))

  /**
   * Multi-source BFS distances.
   * @param edges  (src LONG, dst LONG) — pre-orient/symmetrize upstream
   * @param sources (source LONG) — one BFS per distinct source, batched
   *                together in the same frontier (source is part of the key)
   * @return (source, node, dist) with dist in [0, maxDepth], minimal hops
   */
  def distances(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      edgesDeduped: Boolean = false): DataFrame =
    distancesImpl(edges, sources, maxDepth, None, edgesDeduped)

  /**
   * BFS with target early-exit: stops as soon as every (source, target)
   * pair in `targetPairs` has been reached (the reference's ShortestPath
   * stops per-pair the same way), instead of always exhausting maxDepth.
   * The per-round bookkeeping is a decrement by the frontier's target hits —
   * counted on the already-materialized frontier, no extra materialization.
   */
  def distancesImpl(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      targetPairs: Option[DataFrame],
      edgesDeduped: Boolean = false): DataFrame = {
    // RDD rounds under ONE shared HashPartitioner (the listRanks /
    // TrailRdd treatment, r16): the DataFrame loop paid up to three wide
    // stages per round (frontier⋈edges sort-merge once the frontier
    // outgrew the broadcast cap, a distinct exchange, a visited
    // anti-join exchange) plus a per-round Catalyst pass. Here edges are
    // partitioned by src ONCE; each round the co-partitioned join is
    // narrow, the expanded rows pay exactly ONE shuffle into the shared
    // partitioning, and the (source, node) dedupe + visited anti-join +
    // target-hit count all run partition-locally because every row of a
    // node lives in that node's partition.
    val spark = edges.sparkSession
    // reachability only sees distinct (src, dst): parallel edges would be
    // rescanned every round otherwise. Callers holding a pre-deduped pair
    // set (PropertyGraph.topologyPairs) pass edgesDeduped = true.
    // ids go through the longId contract: a non-null id that does not cast
    // fails loudly; a null endpoint or source never matched a join either
    val eRaw = edges.select(longId(col("src"), "distances"),
        longId(col("dst"), "distances"))
      .na.drop("any")
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val rounds = Rounds(spark, eRaw.getNumPartitions)
    val part = rounds.part
    val e = rounds.persist((if (edgesDeduped) eRaw
      else eRaw.distinct(part.numPartitions)).partitionBy(part))
    // frontier/visited/target rows keyed by NODE so the dedupe, the
    // anti-join and the hit count are partition-local
    val targets = targetPairs.map(tp => rounds.persist(
      tp.select(longId(col("target"), "distances"),
          longId(col("source"), "distances"))
        .na.drop("any")
        .distinct()
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
        .partitionBy(part)))
    val tCnt = targets.map(_.count())
    // one job per round: zipping the (persisted) frontier with the target
    // partition yields (rows, hits) and materializes the round
    def stats(f: org.apache.spark.rdd.RDD[(Long, Long)]): (Long, Long) =
      targets match {
        case Some(t) =>
          f.zipPartitions(t, preservesPartitioning = false) { (fIt, tIt) =>
            val tset = scala.collection.mutable.HashSet.from(tIt)
            var n = 0L; var h = 0L
            fIt.foreach { p => n += 1; if (tset(p)) h += 1 }
            Iterator.single((n, h))
          }.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) =>
            (a + x, b + y) }
        case None => (f.count(), 0L)
      }
    var frontier = rounds.persist(
      sources.select(longId(col("source"), "distances"))
        .na.drop("any")
        .rdd.map { r => val s = r.getLong(0); (s, s) }
        .partitionBy(part))
    val pieces = Seq.newBuilder[(Int, org.apache.spark.rdd.RDD[(Long, Long)])]
    pieces += ((0, frontier))
    var visitedUnion = frontier
    val s0 = stats(frontier)
    var fCnt = s0._1
    var remaining = tCnt.map(_ - s0._2)
    var depth = 0
    while (depth < maxDepth && remaining.forall(_ > 0) && fCnt > 0) {
      depth += 1
      val expanded = frontier.join(e, part) // narrow: both sides on `part`
        .map { case (_, (s, d)) => (d, s) }
        .partitionBy(part) // the round's one shuffle
      val vis = visitedUnion
      frontier = rounds.persist(expanded
        .zipPartitions(vis, preservesPartitioning = true) { (expIt, visIt) =>
          val seen = scala.collection.mutable.HashSet.from(visIt)
          expIt.filter(p => seen.add(p)) // dedupe + visited anti-join
        })
      val s = stats(frontier) // materializes the round
      fCnt = s._1
      pieces += ((depth, frontier))
      visitedUnion = visitedUnion.union(frontier) // narrow: same partitioner
      remaining = remaining.map(_ - s._2)
    }
    val rs = pieces.result()
    rounds.release(rs.map(_._2))
    Rounds.toDf(spark, spark.sparkContext.union(rs.map { case (d, rdd) =>
      rdd.map { case (n, s) => (s, n, d) } }), "source", "node", "dist")
  }

  /** PruningVarExpand: distinct nodes with SOME trail of length in
    * [minHops, maxHops] — endpoints only, no path enumeration (the whole
    * point of the pruning variant: frontier size is bounded by |V|, not by
    * path count). Exact for minHops <= 1: BFS distance covers every node
    * except the source itself, which for minHops = 1 is reachable iff some
    * in-neighbor u of the source sits at dist <= maxHops-1 (the shortest
    * path to u is node-simple, so appending u→source is a valid trail).
    * minHops >= 2 would need trail semantics — callers keep VarExpand.
    * maxHops = Int.MaxValue walks to an empty frontier (unbounded `*`). */
  def pruningExpand(edges: DataFrame, sources: DataFrame, minHops: Int,
      maxHops: Int, edgesDeduped: Boolean = false): DataFrame = {
    require(minHops <= 1,
      s"pruningExpand is exact only for minHops <= 1, got $minHops")
    val d = distances(edges, sources, maxHops, edgesDeduped)
    val base = d.filter(col("dist") >= minHops && col("dist") <= maxHops)
      .select("source", "node", "dist")
    if (minHops == 0) base
    else {
      // only edges pointing BACK INTO a source can close a self-cycle —
      // semi-join first (sources are broadcast-small) so the correction
      // never shuffles the full edge table
      val back = edges
        .join(sources.select(col("source").as("dst")), Seq("dst"), "left_semi")
        .select(col("src").as("node"), col("dst").as("__t"))
      val selfCycles = d
        .join(back, "node")
        .filter(col("__t") === col("source") && col("dist") <= maxHops - 1)
        .groupBy(col("source"))
        .agg((min(col("dist")) + 1).cast("int").as("dist"))
        .select(col("source"), col("source").as("node"), col("dist"))
      base.unionByName(selfCycles)
    }
  }

  /**
   * Single-pair shortest path length (FindShortestPaths :2178). Returns
   * (source, target, dist) for reached pairs. Multi-source forward BFS with
   * early exit once every requested pair is reached.
   */
  def shortestPathLengths(edges: DataFrame, pairs: DataFrame, maxDepth: Int,
      edgesDeduped: Boolean = false): DataFrame = {
    val d = distancesImpl(edges, pairs.select("source").distinct(), maxDepth,
      Some(pairs), edgesDeduped)
    pairs.join(d.withColumnRenamed("node", "target"), Seq("source", "target"))
  }

  /**
   * allShortestPaths (reference graph-algo AllPaths/ShortestPath with
   * all-ties semantics, Cypher `allShortestPaths()`): every minimal-hop
   * path, not just one. These are TrailRdd's depth-synchronized rounds
   * under an arrival budget of one: a (source, node) state keeps every
   * tie of the round it is first reached in, later arrivals are dropped
   * and never expand, and the trail check never fires (a repeated rel
   * would repeat a node). Path count can be exponential on dense graphs
   * (inherent to the semantics — the reference enumerates the same set
   * serially); maxDepth bounds the walk.
   *
   * @param edges (id, src, dst) pre-oriented/filtered
   * @param sources (source)
   * @return (source, node, dist, path ARRAY<LONG> of rel ids,
   *         nodes ARRAY<LONG> of node ids incl. both endpoints) — one row
   *         per distinct shortest path
   */
  def allShortestPaths(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    val out = TrailRdd.search(Seq(TrailRdd.legEdges(edges)), Seq(None),
      sources.select("source").na.drop(), Array(0), Array(maxDepth),
      TrailRdd.ArrivalBudget(1), keepAll = true, maxRounds = maxDepth)
    Rounds.toDf(edges.sparkSession, out.result)
      .select(col("source"), col("end").as("node"), col("hops").as("dist"),
        col("path"), col("nodes"))
  }

  /**
   * List ranking by pointer doubling (Wyllie's algorithm) — the scale path
   * for BFS over CHAIN-shaped graphs (successor relations with in/out
   * degree ≤ 1, e.g. the reference's per-node relationship linked lists,
   * record/RelationshipRecord.java:29-37, or per-customer order succession).
   * Frontier BFS needs O(L) sequential rounds on a length-L chain — at 40+
   * rounds the per-job overhead dominates; pointer doubling finishes in
   * ⌈log₂ L⌉ rounds, each one V-sized self-join on the jump table.
   *
   * Inputs within [[Placement.Walk]] edge rows walk their chains on the
   * driver instead.
   *
   * @param edges (src, dst) successor edges, in/out degree ≤ 1 (lists)
   * @return (node, head, rank): head = start of the node's chain,
   *         rank = distance from the head (head itself has rank 0)
   */
  def listRanks(edges: DataFrame, maxLength: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    val raw = edges.select(longId(col("src"), "listRanks").as("src"),
        longId(col("dst"), "listRanks").as("dst"))
      .na.drop("any")
    val roundsCap = (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxLength))) + 1
    for (rows <- Placement.local(raw, Placement.Walk))
      return localListRanks(spark, rows.map(r => (r.getLong(0), r.getLong(1))),
        maxLength, roundsCap)
    // RDD rounds under ONE shared HashPartitioner (the Ranking.iterateRanks
    // treatment): the DataFrame loop re-ran Catalyst + a localCheckpoint +
    // an anti-join-vs-heads count job every round — ~5 stages of fixed
    // latency per doubling round; here every round is one co-partitioned
    // join whose materializing count() doubles as the convergence check.
    // Head-ness of the CURRENT pointer rides along as a boolean (the jump
    // copies the jumped-to row's flag), so no anti-join is ever needed.
    // persist the edge pairs: pred and the two legs of the node-id union
    // all read them — without this the caller's (possibly expensive)
    // edge-producing subtree re-executes three times at init
    val eRdd = raw.rdd.map(r => (r.getLong(0), r.getLong(1)))
    val rounds = Rounds(spark, eRdd.getNumPartitions)
    val part = rounds.part
    val eIn = rounds.persist(eRdd)
    // (node, predecessor) — in/out degree ≤ 1 by contract
    val pred = rounds.persist(eIn.map { case (s, d) => (d, s) }.partitionBy(part))
    val nodes = eIn.map(_._1).union(eIn.map(_._2)).distinct(part.numPartitions)
      .map((_, ())).partitionBy(part)
    // jump table row: node → (p = 2^k-th predecessor-or-head, r = hops to
    // p, pIsHead); heads self-point with r = 0 and act as fixpoints.
    // pIsHead is seeded from "my predecessor has no predecessor" and then
    // maintained by the jump (new p = b.p, new flag = b's flag).
    var ptr = rounds.persist(nodes.leftOuterJoin(pred, part)
      .map { case (n, (_, po)) => (po.getOrElse(n), (n, po.isDefined)) }
      .leftOuterJoin(pred, part) // does the pointed-to node have a pred?
      .map { case (p, ((n, hasPred), pPred)) =>
        if (!hasPred) (n, (n, 0L, true))
        else (n, (p, 1L, pPred.isEmpty))
      }
      .partitionBy(part))
    var remaining = ptr.filter(!_._2._3).count() // materializes ptr too
    var i = 0
    while (remaining > 0 && i < roundsCap) {
      i += 1
      val prev = ptr
      ptr = rounds.persist(prev
        .map { case (n, (p, r, _)) => (p, (n, r)) }
        .join(prev, part)
        .map { case (_, ((n, rA), (p2, rB, pHead2))) => (n, (p2, rA + rB, pHead2)) }
        .partitionBy(part))
      // converged when every pointer rests on a chain head (fixpoint);
      // this count is the one action that materializes the round
      remaining = ptr.filter(!_._2._3).count()
      rounds.unpersist(prev)
    }
    rounds.release(Seq(ptr))
    require(remaining == 0,
      s"listRanks did not converge in $roundsCap rounds — chain longer than $maxLength or a cycle")
    Rounds.toDf(spark, ptr.map { case (n, (p, r, _)) => (n, p, r) },
      "node", "head", "rank")
  }

  /** Driver-local chain walk over a collected (bounded) successor list —
    * same output, same convergence contract as the distributed doubling
    * loop: a chain converges within roundsCap doubling rounds iff its max
    * rank ≤ 2^roundsCap, and a cycle (no head) never converges. */
  private def localListRanks(spark: org.apache.spark.sql.SparkSession,
      pairs: Array[(Long, Long)], maxLength: Long, roundsCap: Int): DataFrame = {
    val succ = new scala.collection.mutable.HashMap[Long, Long]()
    val hasPred = new scala.collection.mutable.HashSet[Long]()
    val nodes = new scala.collection.mutable.LinkedHashSet[Long]()
    pairs.foreach { case (s, d) =>
      succ(s) = d; hasPred += d; nodes += s; nodes += d
    }
    val rows = Seq.newBuilder[(Long, Long, Long)]
    var assigned = 0L
    var maxRank = 0L
    nodes.foreach { h =>
      if (!hasPred.contains(h)) {
        var cur = h; var r = 0L
        rows += ((h, h, 0L)); assigned += 1
        while (succ.contains(cur)) {
          cur = succ(cur); r += 1
          rows += ((cur, h, r)); assigned += 1
        }
        if (r > maxRank) maxRank = r
      }
    }
    // unreached nodes sit on a cycle; over-long chains would not have
    // converged in the distributed loop's roundsCap doubling rounds
    require(assigned == nodes.size && maxRank <= (1L << roundsCap),
      s"listRanks did not converge in $roundsCap rounds — chain longer than $maxLength or a cycle")
    import spark.implicits._
    rows.result().toDF("node", "head", "rank")
  }

  /**
   * Connected components by alternating large-star / small-star contraction
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14) — O(log n) rounds, vs O(diameter) for naive neighbor-min
   * propagation. Each round:
   *   large-star: every node links its larger neighbors to its minimum
   *               neighborhood member;
   *   small-star: every node links its smaller-or-equal neighbors (and
   *               itself) to that minimum.
   * The edge set monotonically contracts toward per-component stars rooted
   * at the component's min id. Convergence is detected by an (edge-count,
   * hash-sum) fingerprint of the checkpointed edge set — one action per
   * round, no extra materialization. Throws if maxIter is exhausted before
   * convergence rather than silently returning wrong components.
   *
   * @return (node, component) where component = min node id in the component
   *
   * A small pair graph — the common case when the input is a
   * near-duplicate pair list, tiny relative to the corpus that produced it
   * — runs union-find on the driver instead ([[Placement]]; the probe reads
   * the RAW edge stream, pre-distinct, so it never pays a shuffle). The
   * bound is `localEdgeThreshold` raw edge rows, [[Placement.Walk]] by
   * default.
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      localEdgeThreshold: Int = Placement.Walk): DataFrame = {
    val raw = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    Placement.local(raw, localEdgeThreshold) match {
      case Some(rows) => localComponents(edges.sparkSession, rows)
      case None => connectedComponentsDistributed(edges, maxIter)
    }
  }

  /** union-find over a collected (bounded) edge list; component = min id */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).distinct
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      // union under the smaller root: the representative stays the set's
      // minimum id, matching the distributed contraction's component ids
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
    import spark.implicits._
    nodes.toSeq.map(n => (n, find(n))).toDF("node", "component")
  }

  private def connectedComponentsDistributed(edges: DataFrame, maxIter: Int): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      val nbr = dir.join(m, Seq("u")).select(col("v").as("u"), col("m").as("v"))
      val self = m.select(col("u"), col("m").as("v"))
      nbr.unionByName(self).filter(col("u") =!= col("v")).distinct()
    }

    var e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct().freshCkpt()
    val allNodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node"))).distinct().freshCkpt()

    def fingerprint(d: DataFrame): (Long, Long) = {
      // xor-fold of per-edge hashes: commutative, duplicate-free input,
      // and — unlike sum — can't overflow under ANSI mode
      val r = d.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var prev = fingerprint(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      // lazy: fingerprint() below materializes the checkpoint in one job
      e = smallStar(largeStar(e)).localCheckpoint(false)
      val cur = fingerprint(e)
      converged = cur == prev
      prev = cur
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds")
    // converged edge set is a union of stars (v → component root); roots and
    // isolated nodes map to themselves
    val assigned = e.select(col("u").as("node"), col("v").as("component"))
    allNodes.join(assigned, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /**
   * All SIMPLE paths source → target with length ≤ maxDepth (reference
   * graph-algo AllSimplePaths.java / AllPaths.java): node-uniqueness, the
   * stricter-than-trail rule — no node may repeat, so a path that touches
   * the target ends there. Bounded unrolled expansion; enumeration is
   * inherently exponential in depth, hence the hard bound (the reference
   * walks the same set serially with its traversal framework).
   *
   * @param edges (id, src, dst) pre-oriented/filtered
   * @return (hops INT, path ARRAY<LONG> rel ids, nodes ARRAY<LONG> node
   *         ids incl. both endpoints) — one row per distinct simple path
   */
  def allSimplePaths(edges: DataFrame, source: Long, target: Long,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 15,
      s"allSimplePaths depth out of range: $maxDepth (max 15)")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("id").as("__er"), col("src").as("__es"),
      col("dst").as("__ed")).localCheckpoint(false)
    var level = Seq(source).toDF("end")
      .select(col("end"), array(col("end")).as("nodes"),
        array().cast("array<long>").as("path"))
    val out = Seq.newBuilder[DataFrame]
    var k = 1
    while (k <= maxDepth) {
      // prefixes at the target are complete (node-uniqueness means they
      // can never return) — only extend the rest
      level = level.filter(col("end") =!= target)
        .join(e, col("end") === col("__es") &&
          !array_contains(col("nodes"), col("__ed")))
        .select(col("__ed").as("end"),
          concat(col("nodes"), array(col("__ed"))).as("nodes"),
          concat(col("path"), array(col("__er"))).as("path"))
      out += level.filter(col("end") === target)
        .select(lit(k).as("hops"), col("path"), col("nodes"))
      k += 1
    }
    out.result().reduce(_ unionByName _)
  }

  /**
   * TEMPORAL earliest-arrival paths (time-respecting reachability — Wu et
   * al., VLDB 2014 "Path problems in temporal graphs"): a path may take
   * edge (u, v, t) only if it arrives at u no later than t, and the
   * answer per node is the earliest achievable arrival. The keep-the-min
   * DP is exact because an earlier arrival admits a superset of outgoing
   * edges (the continuation condition is arrival <= edge time), so
   * dominated (later) arrivals never enable anything the kept one
   * cannot. Each round is one join + one min-aggregate on (source, node)
   * — the BFS-family shuffle shape, with an 8-byte time instead of a
   * path payload.
   *
   * @param edges   (src, dst, ts LONG) — edge available at instant ts
   * @param sources (source LONG[, t0 LONG]) — start instant, default 0
   * @return (source, node, arrival LONG) including (s, s, t0)
   */
  def earliestArrival(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 50): DataFrame = {
    // source is cast (with the loud-failure guard) alongside the edge
    // columns: the local path reads it with getLong, and the distributed
    // join compares it against cast edge ids — an un-cast IntegerType
    // source would ClassCastException locally and type-mismatch remotely
    val s0 = if (sources.columns.contains("t0"))
      sources.select(longId(col("source"), "earliestArrival").as("source"),
        col("t0").cast("long").as("arrival"))
    else sources.select(longId(col("source"), "earliestArrival").as("source"),
      lit(0L).as("arrival"))
    // a bounded temporal-edge list runs the SAME keep-the-min round DP on
    // the driver — 2 jobs total instead of ~3 per relaxation round
    val eLocal = edges.select(longId(col("src"), "earliestArrival"),
        longId(col("dst"), "earliestArrival"), col("ts").cast("long"))
      .na.drop("any") // a null edge field never matches the join either
    for (es <- Placement.local(eLocal, Placement.Walk);
         ss <- Placement.local(s0, Placement.Walk))
      return localEarliestArrival(edges.sparkSession,
        es.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
        ss.map(r => (r.getLong(0), r.getLong(1))), maxHops)
    val e = edges.select(col("src").as("__s"), col("dst").as("__d"),
      col("ts").cast("long").as("__t")).localCheckpoint(false)
    var best = s0.select(col("source"), col("source").as("node"),
      col("arrival")).freshCkpt()
    var frontier = best
    var fCnt = frontier.count()
    var it = 0
    while (fCnt > 0 && it < maxHops) {
      it += 1
      val f = if (fCnt <= Rounds.BroadcastFrontierRows) broadcast(frontier) else frontier
      val relaxed = f.join(e,
          col("node") === col("__s") && col("arrival") <= col("__t"))
        .select(col("source"), col("__d").as("node"), col("__t").as("arrival"))
      val merged = best.unionByName(relaxed)
        .groupBy("source", "node").agg(min("arrival").as("arrival"))
        .freshCkpt()
      frontier = merged.join(
          best.select(col("source"), col("node"), col("arrival").as("__old")),
          Seq("source", "node"), "left_outer")
        .filter(col("__old").isNull || col("arrival") < col("__old"))
        .drop("__old")
        .freshCkpt()
      best = merged
      fCnt = frontier.count()
    }
    require(fCnt == 0,
      s"earliestArrival did not converge within $maxHops rounds")
    best
  }

  /** Driver-local mirror of the distributed keep-the-min rounds: identical
    * DP, identical round structure and maxHops convergence contract. */
  private def localEarliestArrival(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long, Long)], sources: Array[(Long, Long)],
      maxHops: Int): DataFrame = {
    val out = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => (e._2, e._3))
    }
    val best = new scala.collection.mutable.HashMap[(Long, Long), Long]()
    var frontier: Seq[(Long, Long, Long)] =
      sources.map { case (s, t0) => (s, s, t0) }.toSeq
    frontier.foreach { case (s, n, a) =>
      val k = (s, n)
      if (best.get(k).forall(_ > a)) best(k) = a
    }
    // the seed pass above mirrors the distributed min-merge of duplicate
    // sources; rounds relax exactly like the DataFrame loop
    frontier = best.iterator.collect { case ((s, n), a) => (s, n, a) }.toSeq
    var it = 0
    while (frontier.nonEmpty && it < maxHops) {
      it += 1
      val improved = Seq.newBuilder[(Long, Long, Long)]
      frontier.foreach { case (s, n, a) =>
        out.getOrElse(n, Array.empty[(Long, Long)]).foreach { case (d, t) =>
          if (a <= t && best.get((s, d)).forall(_ > t)) {
            best((s, d)) = t
            improved += ((s, d, t))
          }
        }
      }
      frontier = improved.result()
    }
    require(frontier.isEmpty,
      s"earliestArrival did not converge within $maxHops rounds")
    import spark.implicits._
    best.iterator.map { case ((s, n), a) => (s, n, a) }.toSeq
      .toDF("source", "node", "arrival")
  }
}
