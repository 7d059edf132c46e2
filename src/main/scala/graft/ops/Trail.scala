package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Trail — the one variable-length expansion: `(a)-[:T*min..max]->(b)`
 * (reference VarLengthExpandPipe.scala:83-123) and quantified path
 * patterns `((a)-[r:T]->(b)){min,max}` with GROUP VARIABLES (reference
 * pipes/TrailPipe.scala:65, logical Trail LogicalPlan.scala:3977) both
 * compile to [[Trail.trail]]: repeat a one-hop join between min and max
 * times, collecting the per-iteration relationships (and, when a path or
 * group variable reads them, nodes) into arrays, under Cypher's
 * relationship-uniqueness rule (a rel may appear at most once per path —
 * "trail" semantics, front-end AddUniquenessPredicates.scala), enforced by
 * rejecting rels already in the accumulated array (`array_contains`).
 *
 * Each iteration is one equi-join on the frontier node; arrays hold
 * 8-byte ids only, so the shuffle payload stays narrow — property
 * hydration of group elements is a post-join against the nodes table,
 * outside the loop. The per-level relation grows multiplicatively on
 * hub-heavy graphs; that is inherent to enumerating paths, so when only
 * endpoints matter the planner uses Bfs.pruningExpand instead. The
 * SHORTEST family below searches the same trails with per-state budgets.
 */
object Trail {

  /** Extra distinct-arrival-depth budget for the SHORTEST k GROUPS family
    * beyond the k+min−1 a clean suffix-extension argument needs: under
    * trail semantics an earlier prefix can consume a suffix edge, making
    * an arrival depth "dead" yet budget-consuming (see the
    * [[shortestGroups]] exactness note) — each unit of slack tolerates
    * one such dead depth per (source, node). */
  val GroupsBudgetSlack = 2

  /** Fired when an UNBOUNDED quantifier's search (`-->+` / `-->*` /
    * `*2..`) still had live paths at its depth cap: a SHORTEST match
    * longer than the cap would be MISSED, so "no result" is then
    * indistinguishable from "horizon exceeded" without this signal
    * (documented divergence — the reference's NFA runs unbounded).
    * Default logs a warning; specs swap it in to observe. */
  @volatile var onHorizon: (String, Int) => Unit = (what, cap) =>
    org.slf4j.LoggerFactory.getLogger("graft.ops.Trail").warn(
      s"$what: unbounded-quantifier search still had live paths at its " +
        s"$cap-hop cap; a longer match would be missed")

  /** Runaway guard of an unbounded trail: relationship uniqueness ends
    * every trail within |rels| hops, but a clique enumerates factorially
    * many trails long before this many rounds — not a semantic bound. */
  private val UnboundedRoundCap = 1000

  /**
   * @param edges (id LONG, src LONG, dst LONG) — pre-oriented/filtered
   *              ([[graft.graph.PropertyGraph.orientTyped]])
   * @param input rows with bound start-node column `fromCol`
   * @param max   `Some(max)`: a lazy plan unrolled to `max` hops (at most
   *              30); `None`: iterate to an EMPTY frontier, the way the
   *              reference terminates an unbounded VarLengthExpand — the
   *              plan cannot encode an unknown depth, so each round is
   *              checkpointed and counted on the driver
   * @param nodesAlias the node sequence column, or None to carry only the
   *              rel array (a var-length rel whose nodes nothing reads)
   * @param checkpointEvery bounded form only: deep unrolls (8+ self-joins)
   *              spend more time in analysis/codegen than in rows, so an
   *              occasional lazy lineage reset keeps the plan the optimizer
   *              sees shallow; 0 = never (short unrolls fuse better)
   * @return input + `endAlias` LONG, `nodesAlias` ARRAY<LONG> (length
   *         hops+1, starts with the start node), `relsAlias` ARRAY<LONG>,
   *         `hopsAlias` INT — one row per distinct trail of length in
   *         [min, max]
   */
  def trail(edges: DataFrame, input: DataFrame, fromCol: String,
      min: Int, max: Option[Int],
      endAlias: String = "end", relsAlias: String = "trail_rels",
      nodesAlias: Option[String] = Some("trail_nodes"), hopsAlias: String = "hops",
      checkpointEvery: Int = 0): DataFrame = {
    require(min >= 0 && max.forall(m => m >= min && m <= 30),
      s"trail bounds out of range: $min..${max.getOrElse("")}")
    val e0 = edges.select(col("src").as("__es"), col("dst").as("__ed"),
      col("id").as("__er"))
    val e = if (max.isEmpty) e0.localCheckpoint(false) else e0
    val start = input.withColumn(endAlias, col(fromCol))
    val level0 = nodesAlias.fold(start)(n => start.withColumn(n, array(col(fromCol))))
      .withColumn(relsAlias, array().cast("array<long>"))
    // the one hop step: extend every trail by an edge it has not used
    def hop(level: DataFrame): DataFrame = {
      val step = level
        .join(e, col(endAlias) === col("__es") &&
          !array_contains(col(relsAlias), col("__er")))
        .withColumn(relsAlias, concat(col(relsAlias), array(col("__er"))))
      nodesAlias.fold(step)(n => step.withColumn(n, concat(col(n), array(col("__ed")))))
        .withColumn(endAlias, col("__ed"))
        .drop("__es", "__ed", "__er")
    }

    var level = if (max.isEmpty) level0.freshCkpt() else level0
    var alive = max.isDefined || level.count() > 0
    val out = Seq.newBuilder[DataFrame]
    if (min == 0) out += level.withColumn(hopsAlias, lit(0))
    var k = 1
    while (alive && k <= max.getOrElse(UnboundedRoundCap)) {
      level = hop(level)
      max match {
        case Some(m) =>
          if (checkpointEvery > 0 && k % checkpointEvery == 0 && k < m)
            level = level.localCheckpoint(false)
        case None =>
          level = level.freshCkpt()
          alive = level.count() > 0
      }
      if (alive && k >= min) out += level.withColumn(hopsAlias, lit(k))
      k += 1
    }
    require(!alive || max.isDefined,
      s"unbounded trail still expanding after $UnboundedRoundCap rounds — " +
        "bound the pattern explicitly")
    // zero-row fallback with the output schema: an empty input frontier,
    // or a `[*n..]` on a graph whose longest trail is < n, returns no rows
    out.result().reduceOption(_ unionByName _)
      .getOrElse(level0.filter(lit(false)).withColumn(hopsAlias, lit(0)))
  }

  /**
   * SHORTEST k paths (GQL / reference StatefulShortestPath,
   * LogicalPlan.scala:2290 + NFA.scala): for each (source, target) pair the
   * k shortest TRAILS by hop count, ties broken by the lexicographically
   * smallest rel-id sequence — deterministic.
   *
   * Depth-synchronized frontier search, the Spark analog of the reference's
   * product-graph BFS: each round expands the frontier one hop and keeps
   * only the k best `(hops, path)` partial trails per (source, node). Work
   * per round is bounded by |reached nodes| × k — NOT by the number of
   * trails, which is exponential in depth on dense graphs. Because shorter
   * partials always outrank longer ones, rows kept in earlier rounds are
   * never evicted, so the per-node budget is maintained with an incremental
   * (source, node) → count table instead of re-ranking history each round.
   *
   * @param edges (id, src, dst) oriented/filtered
   * @param pairs (source, target)
   * @return (source, target, hops, path ARRAY<LONG>, rank 1..k)
   */
  def shortestK(edges: DataFrame, pairs: DataFrame, k: Int, maxDepth: Int): DataFrame = {
    require(k >= 1 && maxDepth >= 0 && maxDepth <= 30,
      s"shortestK bounds out of range: k=$k maxDepth=$maxDepth")
    // RDD rounds (TrailRdd.search, KTotal policy): one shuffle per round
    // under one shared HashPartitioner, replacing the per-round
    // window + counts-table join + two localCheckpoints. The per-
    // (source, end) k-total budget with path-ascending in-round selection
    // is the decision-for-decision twin of the replaced counts relation
    // (candidates within one round share a hop count — rank on path only).
    val out = TrailRdd.search(Seq(TrailRdd.legEdges(edges)), Seq(None),
      pairs.select("source").distinct(), Array(0), Array(maxDepth),
      TrailRdd.KTotal(k), keepAll = true, maxRounds = maxDepth)
    val kept = Rounds.toDf(edges.sparkSession, out.result)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "target").orderBy(col("hops").asc, col("path").asc)
    kept.join(pairs, Seq("source")).filter(col("end") === col("target"))
      .select(col("source"), col("target"), col("hops"), col("path"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * SHORTEST k GROUPS (GQL group selector; reference StatefulShortestPath
   * .Selector.ShortestGroups, LogicalPlan.scala:2290): for each
   * (source, target) pair, EVERY trail whose hop count falls within the k
   * smallest distinct lengths — path groups share a length, and whole
   * groups are kept or dropped together.
   *
   * Depth-synchronized frontier rounds like [[shortestK]], but the
   * per-(source, node) budget counts DISTINCT ARRIVAL ROUNDS, not paths:
   * a node stays expandable for its first `k + min − 1 + slack` arrival
   * depths and every trail of those depths survives. Budget rationale: if
   * a final path of length L ranks within the k smallest valid lengths of
   * its target, its prefix at interior v arrives at some depth r; when
   * earlier arrivals at v extend by the same EDGE-DISJOINT suffix, they
   * produce k+min−1 distinct lengths < L of which at most min−1 fall
   * below the validity floor — so r lands within the budget. Trail
   * semantics does NOT guarantee the suffix is edge-disjoint from every
   * earlier prefix (a prefix may already have consumed a suffix edge), so
   * on cyclic graphs a group can in principle arrive only via prefixes
   * beyond the budget: the result is EXACT on DAGs and on graphs whose
   * shortest trails extend edge-disjointly (like [[kCheapest]]'s
   * DAG-only exactness note), and the `GroupsBudgetSlack` over-provision
   * absorbs the common cyclic shapes (e.g. a back-edge consuming one
   * arrival depth). Work per round is bounded by the group sizes
   * themselves (the operator's output is the groups).
   *
   * @return (source, target, hops, path, nodes, group 1..k) — group is
   *         the dense rank of the path's length for its pair
   */
  /** Unbound-target SHORTEST k GROUPS: search from the sources and rank
    * length-groups per (source, reached end), optionally restricted to
    * `targetNodes` (column `id`) — source-driven like
    * [[shortestKSegmentsTo]], so no sources × candidates pair set is ever
    * built. */
  def shortestGroupsTo(edges: DataFrame, sources: DataFrame,
      targetNodes: Option[DataFrame], k: Int, min: Int, maxDepth: Int,
      capIsHorizon: Boolean = false): DataFrame =
    shortestGroupsImpl(edges, sources.select("source").distinct(), k, min,
      maxDepth, capIsHorizon = capIsHorizon, accept = fin => {
        val t = fin.withColumn("target", col("end"))
        targetNodes.fold(t)(tn => t.join(
          tn.select(col("id").as("target")).distinct(),
          Seq("target"), "left_semi"))
      })

  def shortestGroups(edges: DataFrame, pairs: DataFrame, k: Int,
      min: Int, maxDepth: Int, capIsHorizon: Boolean = false): DataFrame =
    shortestGroupsImpl(edges, pairs.select("source").distinct(), k, min,
      maxDepth, capIsHorizon = capIsHorizon, accept =
      fin => fin.join(pairs, Seq("source")).filter(col("end") === col("target")))

  private def shortestGroupsImpl(edges: DataFrame, sources: DataFrame, k: Int,
      min: Int, maxDepth: Int,
      accept: DataFrame => DataFrame, capIsHorizon: Boolean = false): DataFrame = {
    require(k >= 1 && min >= 0 && maxDepth >= math.max(min, 1) && maxDepth <= 30,
      s"shortestGroups bounds out of range: k=$k min=$min maxDepth=$maxDepth")
    val budget = (k + math.max(0, min - 1) + GroupsBudgetSlack).toLong
    // Small-input fast path (the astar/kCheapest pattern): replicate the
    // EXACT round DP on the driver — per-round trail expansion gated by
    // the same distinct-arrival-round budget — so results are identical
    // while the ~maxDepth driver jobs of scheduling latency disappear.
    val local = for {
      es <- Placement.local(edges.select(col("id"), col("src"), col("dst")),
        Placement.RoundDp)
      ss <- Placement.local(sources.select(col("source")), Placement.RoundDp)
    } yield localKeptRows(edges.sparkSession,
      es.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
      ss.map(_.getLong(0)), maxDepth, budget.toInt, capIsHorizon)
    val kept: DataFrame = local.getOrElse {
      // RDD rounds (TrailRdd.search, ArrivalBudget policy): one shuffle
      // per round under one shared HashPartitioner, replacing the
      // per-round counts join + two localCheckpoints; the distinct-
      // arrival-round budget is the decision-for-decision twin of the
      // replaced counts relation.
      val out = TrailRdd.search(Seq(TrailRdd.legEdges(edges)), Seq(None),
        sources, Array(0), Array(maxDepth), TrailRdd.ArrivalBudget(budget.toInt),
        keepAll = true, maxRounds = maxDepth)
      // mirror the local fast path: an alive frontier at an
      // unbounded-quantifier cap means longer SHORTEST matches are missed
      if (capIsHorizon && out.finalFrontier.take(1).nonEmpty)
        onHorizon("SHORTEST", maxDepth)
      Rounds.toDf(edges.sparkSession, out.result)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "target").orderBy(col("hops").asc)
    accept(kept)
      .filter(col("hops") >= min)
      .select(col("source"), col("target"), col("hops"), col("path"), col("nodes"))
      .withColumn("group", dense_rank().over(w))
      .filter(col("group") <= k)
  }

  /** Driver-local replica of [[shortestGroups]]'s round DP over collected
    * (bounded) inputs: identical budget, trail constraint and final
    * dense-rank, so the output matches the distributed rounds row for
    * row. */
  private def localKeptRows(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long, Long)], sources: Array[Long],
      maxDepth: Int, budget: Int, capIsHorizon: Boolean = false): DataFrame = {
    import spark.implicits._
    val adj = edges.groupBy(_._2) // src -> [(id, src, dst)]
    // (source, end) -> partials of the current round
    var level: Map[(Long, Long), Seq[(Vector[Long], Vector[Long])]] =
      sources.map(s => (s, s) -> Seq((Vector.empty[Long], Vector(s)))).toMap
    val rounds = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    level.keys.foreach(key => rounds(key) = 1)
    val kept = Seq.newBuilder[(Long, Long, Int, Vector[Long], Vector[Long])]
    level.foreach { case ((s, e), ps) =>
      ps.foreach { case (p, ns) => kept += ((s, e, 0, p, ns)) } }
    var d = 0
    while (d < maxDepth && level.nonEmpty) {
      d += 1
      val next = scala.collection.mutable.HashMap
        .empty[(Long, Long), scala.collection.mutable.ArrayBuffer[(Vector[Long], Vector[Long])]]
      level.foreach { case ((src, end), ps) =>
        ps.foreach { case (path, nodes) =>
          adj.getOrElse(end, Array.empty[(Long, Long, Long)]).foreach {
            case (eid, _, dst) =>
              if (!path.contains(eid) && rounds.getOrElse((src, dst), 0) < budget)
                next.getOrElseUpdate((src, dst),
                  scala.collection.mutable.ArrayBuffer.empty) +=
                  ((path :+ eid, nodes :+ dst))
          }
        }
      }
      level = next.iterator.map { case (key, buf) => key -> buf.toSeq }.toMap
      level.keys.foreach(key => rounds(key) = rounds.getOrElse(key, 0) + 1)
      level.foreach { case ((s, e), ps) =>
        ps.foreach { case (p, ns) => kept += ((s, e, d, p, ns)) } }
    }
    if (capIsHorizon && level.nonEmpty) onHorizon("SHORTEST", maxDepth)
    kept.result().toDF("source", "end", "hops", "path", "nodes")
  }

  /** One linear-NFA segment: a var-length leg `-[:T*min..max]->` with its
    * own (oriented, filtered) edge set. `boundary` is the optional
    * node-id set (column `id`) the segment must END on — the per-state
    * node predicate of the reference's NFA (NFA.scala:157): labels, label
    * alternations and property maps on the interior node between this leg
    * and the next. None = unconstrained (and always None on the last
    * segment, whose end is the target). */
  final case class PathSegment(edges: DataFrame, min: Int, max: Int,
      boundary: Option[DataFrame] = None,
      // composite = edges are whole sub-path traversals (alternation
      // branches): (__es, __ed, __ers ARRAY<LONG>, __ens ARRAY<LONG>,
      // __elen INT) instead of single rels (id, src, dst). The segment's
      // min/max then count branch traversals, not rels.
      composite: Boolean = false,
      // the source quantifier was UNBOUNDED (`+`/`*`/`*n..`): `max` is a
      // search cap, not a semantic bound — an alive frontier at the cap
      // fires [[onHorizon]]
      unbounded: Boolean = false)

  /**
   * SHORTEST k over a CONCATENATION of var-length segments — the general
   * linear-NFA form of the reference's StatefulShortestPath
   * (LogicalPlan.scala:2290 + NFA.scala:157): `(a)-[:X*1..3]->()-[:Y*..2]->(b)`
   * compiles to segments; the search runs on the product graph whose state
   * is (node, segment, hopsInSegment).
   *
   * Depth-synchronized rounds: each round expands every active state one
   * edge within its segment, then takes the epsilon closure (advance to the
   * next segment once the current one's minimum is met, resetting the
   * in-segment hop count — applied to fixpoint so min-0 segments can be
   * skipped). Per (source, node, segment, hopsInSegment) state only the k
   * best (hops, path) rows survive a round, so work per round is bounded by
   * |reached states| × k, not by the trail count. Relationship uniqueness
   * (trail semantics) holds across the WHOLE path, like a Cypher MATCH.
   *
   * @param pairs (source, target)
   * @return (source, target, hops, path ARRAY<LONG>, nodes ARRAY<LONG>,
   *         rank 1..k)
   */
  def shortestKSegments(segments: Seq[PathSegment], pairs: DataFrame,
      k: Int, partBnds: Seq[Int] = Nil): DataFrame =
    shortestKImpl(segments, pairs.select("source").distinct(), k,
      fin => fin.join(pairs, Seq("source")).filter(col("end") === col("target")),
      partBnds)

  /**
   * Unbound-target SHORTEST k: search from the distinct `sources` and
   * accept EVERY reached end node (optionally restricted to the node-id
   * set `targetNodes`, e.g. a label scan). The search is source-driven, so
   * no sources × candidate-targets cartesian is ever materialized — with
   * |sources| = 10⁶ and |V| = 10⁹ the pair-seeded form would shuffle a
   * 10¹⁵-row relation before the first BFS round; this form's accept step
   * is one semi-join on the (far smaller) reached set.
   */
  def shortestKSegmentsTo(segments: Seq[PathSegment], sources: DataFrame,
      targetNodes: Option[DataFrame], k: Int,
      partBnds: Seq[Int] = Nil): DataFrame =
    shortestKImpl(segments, sources.select("source").distinct(), k, fin => {
      val t = fin.withColumn("target", col("end"))
      targetNodes.fold(t)(tn =>
        t.join(tn.select("target").distinct(), Seq("target"), "left_semi"))
    }, partBnds)

  private def shortestKImpl(segments: Seq[PathSegment], sources: DataFrame,
      k: Int, accept: DataFrame => DataFrame,
      // segment indices whose boundary-crossing node PARTITIONS the
      // selection (a pre-bound interior variable is part of the match,
      // reference StatefulShortestPath solution prefix): both the
      // per-state prune and the final rank key on those nodes, so a
      // shorter path through a DIFFERENT bound value never displaces the
      // k-selection of another partition
      partBnds: Seq[Int] = Nil): DataFrame = {
    def bndCols = partBnds.map(i => try_element_at(col("bnds"), lit(i + 1)))
    // per state only the k best (hops, path) rows survive a round, so work
    // per round is bounded by |reached states| × k, not by the trail count
    // (local twin: same k-best by (hops, path) — Spark orders array<long>
    // element-wise with shorter-prefix-first, exactly seqOrdering)
    val pathOrd = scala.math.Ordering.Implicits.seqOrdering[Vector, Long]
    val localPrune: Seq[LRow] => Seq[LRow] = rows =>
      rows.groupBy(r => (r.source, r.end, r.seg, r.segHops,
          partBnds.map(i => r.bnds.lift(i))))
        .valuesIterator.flatMap(rs =>
          rs.sortBy(r => (r.hops, r.path))(
            scala.math.Ordering.Tuple2(scala.math.Ordering.Int, pathOrd))
            .take(k))
        .toSeq
    val finished = segmentSearch(segments, sources, k,
      TrailRdd.KBestPerState(k, partBnds), Some(localPrune))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source") +: col("target") +: bndCols: _*)
      .orderBy(col("hops").asc, col("path").asc)
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "target", "path").orderBy(col("bnds").asc)
    accept(finished)
      .select(col("source"), col("target"), col("hops"), col("path"),
        col("nodes"), col("bnds"))
      // identical paths can reach acceptance via different epsilon timings
      // AND different segment splits (bnds) — keep the bnds-smallest row so
      // the pick is deterministic across local/distributed execution
      .withColumn("__dd", row_number().over(wDedup))
      .filter(col("__dd") === 1).drop("__dd")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** SHORTEST k GROUPS over a segment concatenation — the general form
    * (alternation branches, interior node predicates) of
    * [[shortestGroups]]. Same product-graph search as [[shortestKSegments]]
    * but with group semantics: per state, whole length-cohorts survive up
    * to the distinct-arrival-length budget (k + Σmin + slack), and the
    * final rank is a dense rank over path length so ties share a group.
    * Like the single-leg form, the budget makes this EXACT when shortest
    * trails extend by edge-disjoint suffixes (all DAGs); on cyclic graphs
    * a group can in principle arrive only via prefixes beyond the budget
    * (see [[shortestGroups]]'s note) — the slack absorbs the common cases. */
  def shortestGroupsSegments(segments: Seq[PathSegment], pairs: DataFrame,
      k: Int, partBnds: Seq[Int] = Nil): DataFrame =
    shortestGroupsSegImpl(segments, pairs.select("source").distinct(), k,
      fin => fin.join(pairs, Seq("source")).filter(col("end") === col("target")),
      partBnds)

  /** Unbound-target [[shortestGroupsSegments]] (source-driven accept). */
  def shortestGroupsSegmentsTo(segments: Seq[PathSegment], sources: DataFrame,
      targetNodes: Option[DataFrame], k: Int,
      partBnds: Seq[Int] = Nil): DataFrame =
    shortestGroupsSegImpl(segments, sources.select("source").distinct(), k,
      fin => {
        val t = fin.withColumn("target", col("end"))
        targetNodes.fold(t)(tn =>
          t.join(tn.select("target").distinct(), Seq("target"), "left_semi"))
      }, partBnds)

  private def shortestGroupsSegImpl(segments: Seq[PathSegment],
      sources: DataFrame, k: Int, accept: DataFrame => DataFrame,
      partBnds: Seq[Int] = Nil): DataFrame = {
    val budget = k + segments.map(_.min).sum + GroupsBudgetSlack
    // Two prunes compose per round: (a) length-cohort budget WITHIN a
    // state — only bites where lengths diverge inside one round, i.e.
    // composite/alternation segments; (b) the distinct-ARRIVAL-ROUND
    // budget per product-graph state (source, end, seg) — the bound that
    // keeps plain multi-leg patterns from enumerating every trail to
    // maxTotal (see [[shortestGroups]]'s budget rationale; per-seg keying
    // matches that per-state rationale — a shared (source, end) budget
    // would let arrivals via one segment starve a prefix another
    // segment's length-group still needs). Both run in
    // TrailRdd.GroupsLedger: the arrival counter rides IN the frontier as
    // ledger rows (segHops = -1, count in `hops`, one per state), inert in
    // the search (never active, never advanced, filtered from acceptance).
    // local twin of the two prunes: smallest-`budget` distinct hop cohorts
    // per (source, end, seg, segHops), then the per-(source, end, seg)
    // distinct-arrival-round budget (checked before this round's arrivals
    // increment it — the same timing as the ledger join above)
    val rounds = scala.collection.mutable.HashMap.empty[(Long, Long, Int), Int]
    val localPrune: Seq[LRow] => Seq[LRow] = { rows =>
      val cohortKept = rows.groupBy(r => (r.source, r.end, r.seg, r.segHops))
        .valuesIterator.flatMap { rs =>
          val ok = rs.map(_.hops).distinct.sorted.take(budget).toSet
          rs.filter(r => ok(r.hops))
        }
      val kept = cohortKept.filter(r =>
        rounds.getOrElse((r.source, r.end, r.seg), 0) < budget).toSeq
      kept.iterator.map(r => (r.source, r.end, r.seg)).toSet
        .foreach((s: (Long, Long, Int)) =>
          rounds(s) = rounds.getOrElse(s, 0) + 1)
      kept
    }
    val finished = segmentSearch(segments, sources, k,
      TrailRdd.GroupsLedger(budget), Some(localPrune))
    // a pre-bound interior variable partitions the LENGTH-GROUP rank too
    // (the budget slack absorbs the cross-partition pruning interplay)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source") +: col("target") +:
        partBnds.map(i => try_element_at(col("bnds"), lit(i + 1))): _*)
      .orderBy(col("hops").asc)
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "target", "path").orderBy(col("bnds").asc)
    accept(finished)
      .select(col("source"), col("target"), col("hops"), col("path"),
        col("nodes"), col("bnds"))
      .withColumn("__dd", row_number().over(wDedup))
      .filter(col("__dd") === 1).drop("__dd")
      .withColumn("group", dense_rank().over(w))
      .filter(col("group") <= k)
  }

  /** A product-graph search row on the driver-local fast path. */
  private[ops] final case class LRow(source: Long, end: Long, seg: Int,
      segHops: Int, hops: Int, path: Vector[Long], nodes: Vector[Long],
      bnds: Vector[Long] = Vector.empty)
  private final case class LEdge(dst: Long, rels: Array[Long],
      ns: Array[Long], len: Int)

  /** Driver-local replica of [[segmentSearch]]'s round DP over the rows its
    * probes collected — identical closure/advance/boundary/expansion
    * semantics, with the caller's prune policy supplied as a local
    * function, so results match the distributed rounds row for row while
    * the ~maxTotal Spark jobs of scheduling latency disappear (the
    * astar/kCheapest/localKeptRows pattern; the NFA-family queries run on
    * sub-threshold fixtures and were round-latency-bound). */
  private def localSegmentSearch(spark: org.apache.spark.sql.SparkSession,
      segments: Seq[PathSegment], sources: Array[Row],
      normEdges: Seq[Array[Row]], normBounds: Seq[Option[Array[Row]]],
      prune: Seq[LRow] => Seq[LRow]): DataFrame = {
    import spark.implicits._
    val nSeg = segments.size
    val mins = segments.map(_.min).toIndexedSeq
    val maxs = segments.map(_.max).toIndexedSeq
    val maxTotal = maxs.sum
    val adj: IndexedSeq[Map[Long, Array[LEdge]]] = normEdges.map { e =>
      e.map(r => (r.getLong(0), LEdge(r.getLong(1),
        r.getSeq[Long](2).toArray, r.getSeq[Long](3).toArray, r.getInt(4))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    }.toIndexedSeq
    val bounds: IndexedSeq[Option[Set[Long]]] = normBounds.map(
      _.map(_.map(_.getLong(0)).toSet)).toIndexedSeq
    val srcs = sources.map(_.getLong(0)).distinct
    def closure(rows: Seq[LRow]): Seq[LRow] = {
      val out = Seq.newBuilder[LRow]
      out ++= rows
      var carry: Seq[LRow] = Nil
      var i = 0
      while (i < nSeg) {
        val cand = rows.filter(_.seg == i) ++ carry
        val advanced = cand
          .filter(r => r.segHops >= mins(i) &&
            bounds(i).forall(_.contains(r.end)))
          .map(r => LRow(r.source, r.end, i + 1, 0, r.hops, r.path, r.nodes,
            r.bnds :+ r.end))
        out ++= advanced
        carry = advanced
        i += 1
      }
      out.result()
    }
    def active(r: LRow): Boolean = r.seg < nSeg && r.segHops < maxs(r.seg)
    var frontier = prune(closure(srcs.toSeq.map(s =>
      LRow(s, s, 0, 0, 0, Vector.empty, Vector(s)))))
    val finished = Seq.newBuilder[LRow]
    finished ++= frontier.filter(_.seg == nSeg)
    var depth = 0
    while (depth < maxTotal && frontier.exists(active)) {
      val expanded = frontier.filter(active).flatMap { r =>
        adj(r.seg).getOrElse(r.end, Array.empty[LEdge]).iterator
          .filter(e => !e.rels.exists(r.path.contains))
          .map(e => LRow(r.source, e.dst, r.seg, r.segHops + 1,
            r.hops + e.len, r.path ++ e.rels, r.nodes ++ e.ns, r.bnds))
      }
      frontier = prune(closure(expanded))
      finished ++= frontier.filter(_.seg == nSeg)
      depth += 1
    }
    // horizon: a surviving row sitting AT an unbounded segment's cap means
    // the search was cut, not exhausted (rows at the cap are no longer
    // "active", so the loop guard alone cannot distinguish the two)
    if (segments.exists(_.unbounded) && frontier.exists(r =>
        r.segHops >= 0 && r.seg < nSeg && segments(r.seg).unbounded &&
          r.segHops >= maxs(r.seg)))
      onHorizon("SHORTEST", maxTotal)
    finished.result()
      .map(r => (r.source, r.end, r.seg, r.segHops, r.hops, r.path, r.nodes,
        r.bnds))
      .toDF("source", "end", "seg", "segHops", "hops", "path", "nodes", "bnds")
  }

  /** Shared product-graph search of the SHORTEST k family: runs the
    * depth-synchronized segment rounds and returns every accepted
    * (seg == nSeg) row; `pruneStates` bounds per-state growth (k-best rows
    * for per-path selectors, length-cohort budgets for GROUPS) and
    * receives the previous CHECKPOINTED frontier (null on the first call)
    * so it may carry per-state bookkeeping rows across rounds (GROUPS'
    * segHops = -1 arrival ledger). When every input relation passes the
    * [[Placement.RoundDp]] bound, the search instead runs driver-local
    * through [[localSegmentSearch]] with the caller's `localPrune` policy —
    * identical rows, none of the per-round job latency. */
  private def segmentSearch(segments: Seq[PathSegment], sources: DataFrame,
      k: Int, policy: TrailRdd.Policy,
      localPrune: Option[Seq[LRow] => Seq[LRow]] = None): DataFrame = {
    require(segments.nonEmpty && k >= 1, "need segments and k >= 1")
    segments.foreach(s => require(s.min >= 0 && s.max >= s.min && s.max <= 30,
      s"segment bounds out of range: ${s.min}..${s.max}"))
    val maxTotal = segments.map(_.max).sum
    require(maxTotal <= 60, s"total path bound too large: $maxTotal")
    import graft.ops.Ckpt._
    val cap = org.apache.spark.sql.graftstats.FreshStats.capStats _
    // every segment in composite form: one "expansion step" = one rel for
    // a plain var-length leg, one whole branch traversal for an
    // alternation segment — the state machinery is identical either way.
    // Checkpointed (lazily) FIRST so the probe (whose rows the local
    // search runs on) and every search round reuse ONE compiled plan: a
    // probe over the raw edge trees paid a second full Catalyst pass over
    // the (often join-heavy composite) edges — about a third of
    // q_shortest_nfa_alt's warm driver time.
    val eBySeg = segments.map { s =>
      val c =
        if (s.composite) s.edges
          .select(col("__es"), col("__ed"), col("__ers"), col("__ens"),
            col("__elen"))
        else TrailRdd.legEdges(s.edges)
      cap(c.localCheckpoint(false))
    }
    val bBySeg: Seq[Option[DataFrame]] = segments.map(_.boundary.map(b =>
      cap(b.select(col("id")).distinct().localCheckpoint(false))))
    // probed in order, stopping at the first relation past the bound
    def localRows(dfs: Seq[DataFrame]): Option[Seq[Array[Row]]] =
      dfs.foldLeft(Option(Seq.empty[Array[Row]])) { (acc, df) =>
        acc.flatMap(rs => Placement.local(df, Placement.RoundDp).map(rs :+ _))
      }
    for {
      prune <- localPrune
      srcRows <- Placement.local(sources.select(col("source")), Placement.RoundDp)
      eRows <- localRows(eBySeg)
      bRows <- localRows(bBySeg.flatten)
    } {
      val bIt = bRows.iterator
      return localSegmentSearch(sources.sparkSession, segments, srcRows,
        eRows, bBySeg.map(_.map(_ => bIt.next())), prune)
    }
    // RDD rounds (TrailRdd.search): one compiled loop under one shared
    // HashPartitioner — ONE shuffle per round instead of a per-round
    // Catalyst-planned join+window+checkpoint stack. Epsilon closure,
    // boundary predicates, per-state prune and the cross-round budgets are
    // the decision-for-decision twins of the r15 DataFrame formulation
    // (see TrailRdd policies); accepted rows and the horizon check read
    // the same frontier state.
    val minsArr = segments.map(_.min).toArray
    val maxsArr = segments.map(_.max).toArray
    val out = TrailRdd.search(eBySeg, bBySeg, sources.select("source"),
      minsArr, maxsArr, policy, keepAll = false, maxRounds = maxTotal)
    // horizon: surviving rows AT an unbounded segment's cap mean the
    // search was cut, not exhausted; one tiny job, only for searches that
    // had an unbounded quantifier
    locally {
      val unbIdx = segments.zipWithIndex.collect {
        case (s, i) if s.unbounded => i }.toSet
      if (unbIdx.nonEmpty) {
        val atCap = out.finalFrontier.filter(r =>
          r.segHops >= 0 && unbIdx(r.seg) && r.segHops >= maxsArr(r.seg))
          .take(1).length
        if (atCap > 0) onHorizon("SHORTEST", maxTotal)
      }
    }
    Rounds.toDf(sources.sparkSession, out.result)
  }
}
