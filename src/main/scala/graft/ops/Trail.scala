package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.DataFrame
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
    // the per-(source, end) k-total budget with path-ascending in-round
    // selection (candidates within one round share a hop count)
    val kept = TrailRdd.search(Seq(PathSegment(edges, 0, maxDepth)), pairs,
      TrailRdd.KTotal(k), keepAll = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "target").orderBy(col("hops").asc, col("path").asc)
    kept.join(pairs, Seq("source")).filter(col("end") === col("target"))
      .select(col("source"), col("target"), col("hops"), col("path"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Unbound-target SHORTEST k GROUPS: search from the sources and rank
    * length-groups per (source, reached end), optionally restricted to
    * `targetNodes` (column `id`) — source-driven like
    * [[shortestKSegmentsTo]], so no sources × candidates pair set is ever
    * built. */
  def shortestGroupsTo(edges: DataFrame, sources: DataFrame,
      targetNodes: Option[DataFrame], k: Int, min: Int, maxDepth: Int,
      capIsHorizon: Boolean = false): DataFrame =
    shortestGroupsImpl(edges, sources, k, min,
      maxDepth, capIsHorizon = capIsHorizon, accept = fin => {
        val t = fin.withColumn("target", col("end"))
        targetNodes.fold(t)(tn => t.join(
          tn.select(col("id").as("target")).distinct(),
          Seq("target"), "left_semi"))
      })

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
   * themselves (the operator's output is the groups). The rounds are
   * [[TrailRdd.search]]'s, on the driver or distributed by input size.
   *
   * @return (source, target, hops, path, nodes, group 1..k) — group is
   *         the dense rank of the path's length for its pair
   */
  def shortestGroups(edges: DataFrame, pairs: DataFrame, k: Int,
      min: Int, maxDepth: Int, capIsHorizon: Boolean = false): DataFrame =
    shortestGroupsImpl(edges, pairs, k, min,
      maxDepth, capIsHorizon = capIsHorizon, accept =
      fin => fin.join(pairs, Seq("source")).filter(col("end") === col("target")))

  private def shortestGroupsImpl(edges: DataFrame, sources: DataFrame, k: Int,
      min: Int, maxDepth: Int,
      accept: DataFrame => DataFrame, capIsHorizon: Boolean = false): DataFrame = {
    require(k >= 1 && min >= 0 && maxDepth >= math.max(min, 1) && maxDepth <= 30,
      s"shortestGroups bounds out of range: k=$k min=$min maxDepth=$maxDepth")
    val budget = k + math.max(0, min - 1) + GroupsBudgetSlack
    // an alive frontier at an unbounded-quantifier cap means longer
    // SHORTEST matches are missed
    val kept = TrailRdd.search(
      Seq(PathSegment(edges, 0, maxDepth, unbounded = capIsHorizon)), sources,
      TrailRdd.ArrivalBudget(budget), keepAll = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "target").orderBy(col("hops").asc)
    accept(kept)
      .filter(col("hops") >= min)
      .select(col("source"), col("target"), col("hops"), col("path"), col("nodes"))
      .withColumn("group", dense_rank().over(w))
      .filter(col("group") <= k)
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
      // __elen INT[, __ew DOUBLE step cost]) instead of single rels
      // (id, src, dst). The segment's min/max then count branch
      // traversals, not rels.
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
    shortestKImpl(segments, pairs, k,
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
    shortestKImpl(segments, sources, k, fin => {
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
    val finished = segmentSearch(segments, sources, k,
      TrailRdd.KBestPerState(k, partBnds))
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
      // the pick is deterministic
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
    shortestGroupsSegImpl(segments, pairs, k,
      fin => fin.join(pairs, Seq("source")).filter(col("end") === col("target")),
      partBnds)

  /** Unbound-target [[shortestGroupsSegments]] (source-driven accept). */
  def shortestGroupsSegmentsTo(segments: Seq[PathSegment], sources: DataFrame,
      targetNodes: Option[DataFrame], k: Int,
      partBnds: Seq[Int] = Nil): DataFrame =
    shortestGroupsSegImpl(segments, sources, k,
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
    val finished = segmentSearch(segments, sources, k,
      TrailRdd.GroupsLedger(budget))
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

  /** Shared product-graph search of the SHORTEST k family: the
    * depth-synchronized segment rounds of [[TrailRdd.search]] under the
    * caller's prune `policy` (k-best rows for per-path selectors,
    * length-cohort budgets for GROUPS), on the driver or distributed by
    * input size; returns every accepted (past the last segment) row. */
  private def segmentSearch(segments: Seq[PathSegment], sources: DataFrame,
      k: Int, policy: TrailRdd.Policy): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    segments.foreach(s => require(s.min >= 0 && s.max >= s.min && s.max <= 30,
      s"segment bounds out of range: ${s.min}..${s.max}"))
    require(segments.map(_.max).sum <= 60,
      s"total path bound too large: ${segments.map(_.max).sum}")
    TrailRdd.search(segments, sources, policy, keepAll = false)
  }
}
