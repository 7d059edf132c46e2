package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{array, col, lit}

/**
 * The round DP of the path-search family — SHORTEST k / GROUPS over a
 * linear NFA of segments, shortestK, allShortestPaths and kCheapest: ONE
 * step (epsilon closure, expansion by one edge, per-[[Policy]] prune with
 * its ledger rows) as functions over [[RRow]]s, run by one of two
 * executors. [[search]] picks the executor with one [[Placement.RoundDp]]
 * decision: when the sources, every segment's edges and every boundary set
 * fit the bound, a driver loop runs the rounds over the collected rows;
 * otherwise RDD rounds under one shared HashPartitioner run them, one
 * shuffle a round (the expanded rows moving to their new end nodes). The
 * prune is partition-local there because every row of a state shares its
 * `end` key, and cross-round budgets (k-total, distinct arrival rounds)
 * ride in-band as ledger rows. Both executors apply the same step to the
 * same rows, so they return the same rows.
 */
private[ops] object TrailRdd {

  /** One expansion step: a rel (or whole alternation branch) from a node,
    * costing `weight` (kCheapest; 0 elsewhere). dstMask bit i = the
    * destination node satisfies segment i's boundary predicate (always set
    * for segments with no boundary), so the epsilon closure after an
    * expansion needs no lookup. */
  final case class REdge(dst: Long, rels: Array[Long], ns: Array[Long],
      len: Int, weight: Double, dstMask: Int)

  /** A search row; segHops = -1 marks a budget-ledger row (count in
    * `hops`, keyed by (source, end[, seg])) — inert in the search. */
  final case class RRow(source: Long, end: Long, seg: Int, segHops: Int,
      hops: Int, cost: Double, path: Array[Long], nodes: Array[Long],
      bnds: Array[Long])

  /** A [[KCheapest]] result row: one of the k cheapest paths of a
    * (source, target) pair, rank 1..k. */
  final case class Ranked(source: Long, target: Long, dist: Double, hops: Int,
      path: Array[Long], rank: Int)

  /** Per-state prune policy. */
  sealed trait Policy
  /** shortestKSegments: k best (hops, path) rows per
    * (source, end, seg, segHops, bnds@partBnds). */
  final case class KBestPerState(k: Int, partBnds: Seq[Int]) extends Policy
  /** kCheapest: over its one weighted segment a state is a (source, node)
    * of one round, which keeps its k cheapest (cost, path) partials; the
    * search's result is then the k cheapest rows per (source, target)
    * pair over all rounds, [[Ranked]]. */
  final case class KCheapest(k: Int) extends Policy
  /** shortestGroupsSegments: length-cohort budget within
    * (source, end, seg, segHops) + distinct-arrival-round budget per
    * (source, end, seg), ledger-carried. */
  final case class GroupsLedger(budget: Int) extends Policy
  /** shortestK: at most k kept rows per (source, end) ACROSS rounds,
    * candidates ranked path-ascending within their round. */
  final case class KTotal(k: Int) extends Policy
  /** shortestGroups / allShortestPaths: a state stays expandable for its
    * first `budget` distinct arrival rounds; every row of those rounds
    * survives. */
  final case class ArrivalBudget(budget: Int) extends Policy

  /** Element-wise Array[Long] ordering, shorter-prefix-first — identical
    * to Spark's array<long> ascending sort used by the callers' ranks. */
  val arrOrd: Ordering[Array[Long]] = new Ordering[Array[Long]] {
    def compare(a: Array[Long], b: Array[Long]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Long.compare(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
  }

  /** The per-round pieces of one search, shared by both executors. */
  private final class Step(mins: Array[Int], maxs: Array[Int],
      unbounded: Array[Boolean], policy: Policy, keepAll: Boolean)
      extends Serializable {
    private val nSeg = mins.length

    def isLedger(r: RRow): Boolean = r.segHops == -1
    def isActive(r: RRow): Boolean = r.segHops >= 0 && r.seg < nSeg &&
      r.segHops < maxs(r.seg)
    def isAccepted(r: RRow): Boolean =
      r.segHops >= 0 && (keepAll || r.seg == nSeg)
    /** A row AT an unbounded segment's cap: the search was cut, not
      * exhausted (such rows are no longer active, so the loop guard alone
      * cannot tell the two apart). */
    def atHorizon(r: RRow): Boolean = r.segHops >= 0 && r.seg < nSeg &&
      unbounded(r.seg) && r.segHops >= maxs(r.seg)
    val hasUnbounded: Boolean = unbounded.contains(true)

    def seed(s: Long, mask: Int): Seq[RRow] =
      closure(RRow(s, s, 0, 0, 0, 0.0, Array.empty, Array(s), Array.empty), mask)

    // epsilon closure after arriving at `end` with boundary mask `mask`:
    // advance while the current segment's minimum is met and the node
    // satisfies its boundary — every intermediate advance is kept. The
    // single-leg keepAll families have NO epsilon semantics: every kept
    // row already IS a result, so closure is a no-op there (an advance
    // would mint a seg-1 twin of every row).
    def closure(row: RRow, mask: Int): Seq[RRow] =
      if (keepAll) Seq(row)
      else {
        val out = Seq.newBuilder[RRow]
        out += row
        var cur = row
        var i = row.seg
        while (i < nSeg && cur.segHops >= mins(i) && ((mask >> i) & 1) == 1) {
          cur = cur.copy(seg = i + 1, segHops = 0, bnds = cur.bnds :+ cur.end)
          out += cur
          i += 1
        }
        out.result()
      }

    /** `r` extended by `e` (an edge of r's segment), closured; nothing when
      * the step reuses a rel of the path (trail semantics). */
    def expandOne(r: RRow, e: REdge): Seq[RRow] =
      if (e.rels.exists(id => r.path.contains(id))) Nil
      else closure(RRow(r.source, e.dst, r.seg, r.segHops + 1,
        r.hops + e.len, r.cost + e.weight, r.path ++ e.rels, r.nodes ++ e.ns,
        r.bnds), e.dstMask)

    // unweighted searches carry cost 0, so cost only orders kCheapest
    private val rowOrd: Ordering[RRow] = (a: RRow, b: RRow) => {
      var c = java.lang.Double.compare(a.cost, b.cost)
      if (c == 0) c = Integer.compare(a.hops, b.hops)
      if (c == 0) c = arrOrd.compare(a.path, b.path)
      if (c == 0) c = arrOrd.compare(a.bnds, b.bnds)
      c
    }

    /** One round's candidates plus the ledger rows carried in, pruned
      * under the policy, with the updated ledger rows. Every policy keys
      * its groups on `end`, so pruning any end-closed subset (one RDD
      * partition) gives that subset's share of the whole. */
    def prune(all: Array[RRow]): Seq[RRow] = {
      val (ledgers, cands) = all.partition(isLedger)
      val out = Seq.newBuilder[RRow]
      def ledger(s: Long, e: Long, g: Int, n: Int) =
        RRow(s, e, g, -1, n, 0.0, Array.empty, Array.empty, Array.empty)
      def kBest(k: Int, partBnds: Seq[Int]): Unit =
        cands.groupBy(r => (r.source, r.end, r.seg, r.segHops,
            partBnds.map(i => r.bnds.lift(i))))
          .valuesIterator.foreach { rs =>
            out ++= rs.sorted(rowOrd).take(k) }
      policy match {
        case KBestPerState(k, partBnds) => kBest(k, partBnds)
        case KCheapest(k) => kBest(k, Nil)
        case GroupsLedger(budget) =>
          val prior = ledgers.map(l => ((l.source, l.end, l.seg), l.hops)).toMap
          val arrived = scala.collection.mutable.HashSet.empty[(Long, Long, Int)]
          cands.groupBy(r => (r.source, r.end, r.seg))
            .foreach { case (sk, rs) =>
              if (prior.getOrElse(sk, 0) < budget) {
                var any = false
                rs.groupBy(_.segHops).valuesIterator.foreach { cohort =>
                  val ok = cohort.map(_.hops).distinct.sorted.take(budget).toSet
                  cohort.foreach { r =>
                    if (ok(r.hops)) { out += r; any = true } }
                }
                if (any) arrived += sk
              }
            }
          // ledger: prior count + 1 if any row survived into the state
          (prior.keySet ++ arrived).foreach { case sk @ (s, e, g) =>
            out += ledger(s, e, g,
              prior.getOrElse(sk, 0) + (if (arrived(sk)) 1 else 0))
          }
        case KTotal(k) =>
          val prior = ledgers.map(l => ((l.source, l.end), l.hops)).toMap
          val added = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
          cands.groupBy(r => (r.source, r.end)).foreach { case (sk, rs) =>
            val take = math.max(0, k - prior.getOrElse(sk, 0))
            if (take > 0) {
              val kept = rs.sorted(rowOrd).take(take)
              out ++= kept
              if (kept.nonEmpty) added(sk) = kept.length
            }
          }
          (prior.keySet ++ added.keySet).foreach { case sk @ (s, e) =>
            out += ledger(s, e, 0, prior.getOrElse(sk, 0) + added.getOrElse(sk, 0))
          }
        case ArrivalBudget(budget) =>
          val prior = ledgers.map(l => ((l.source, l.end), l.hops)).toMap
          val arrived = scala.collection.mutable.HashSet.empty[(Long, Long)]
          cands.groupBy(r => (r.source, r.end)).foreach { case (sk, rs) =>
            if (prior.getOrElse(sk, 0) < budget) {
              out ++= rs
              arrived += sk
            }
          }
          (prior.keySet ++ arrived).foreach { case sk @ (s, e) =>
            out += ledger(s, e, 0,
              prior.getOrElse(sk, 0) + (if (arrived(sk)) 1 else 0))
          }
      }
      out.result()
    }
  }

  /** [[KCheapest]]'s result from its accepted rows: per (source, end) in
    * `pairs`, the k cheapest by (cost, path), ranked. Keyed on `end`, so
    * an end-closed subset of the rows with the pairs ending there gives
    * that subset's share. */
  private def rankPairs(rows: Iterator[RRow], pairs: Iterator[(Long, Long)],
      k: Int): Iterator[Ranked] = {
    val wanted = pairs.toSet
    val ord: Ordering[RRow] = (a: RRow, b: RRow) => {
      val c = java.lang.Double.compare(a.cost, b.cost)
      if (c != 0) c else arrOrd.compare(a.path, b.path)
    }
    rows.filter(r => wanted((r.source, r.end))).toArray
      .groupBy(r => (r.source, r.end)).valuesIterator
      .flatMap(_.sorted(ord).iterator.take(k).zipWithIndex.map { case (r, i) =>
        Ranked(r.source, r.end, r.cost, r.hops, r.path, i + 1) })
  }

  /** An edge row of the normalized form (see [[search]]) as a step. */
  private def toEdge(r: Row, mask: Int): REdge =
    REdge(r.getLong(1), r.getSeq[Long](2).toArray, r.getSeq[Long](3).toArray,
      r.getInt(4), r.getDouble(5), mask)

  /**
   * Run the depth-synchronized rounds over a concatenation of segments
   * (single-leg callers pass one) from the non-null `sources`, to
   * Σ segment max rounds. When the search stops with a row at an
   * unbounded segment's cap it fires [[Trail.onHorizon]].
   *
   * Each segment's edges and boundary set, then the source rows, are
   * probed against [[Placement.RoundDp]], stopping at the first relation
   * past the bound: if all fit, the rounds run on the driver over the
   * probed rows; otherwise (or under `spark.graft.forceDistributed`) as
   * RDD rounds.
   *
   * @param segments plain edges (id, src, dst) or composite
   *                 (__es, __ed, __ers, __ens, __elen[, __ew DOUBLE cost,
   *                 0 when absent]); each with its optional boundary node
   *                 set (column `id`) required to ADVANCE out of it
   * @param sources  source ids (column `source`; under [[KCheapest]] the
   *                 (source, target) pairs); nulls match nothing and a
   *                 repeated id searches once (the probe counts the rows
   *                 as given)
   * @param keepAll  true = every kept row is a result (single-leg
   *                 families); false = only rows past the last segment
   * @return the accepted rows, [[RRow]] columns; under [[KCheapest]] the
   *         [[Ranked]] rows
   */
  def search(segments: Seq[Trail.PathSegment], sources: DataFrame,
      policy: Policy, keepAll: Boolean): DataFrame = {
    val spark = sources.sparkSession
    val nSeg = segments.size
    require(nSeg >= 1 && nSeg <= 30, s"segment count out of range: $nSeg")
    val maxRounds = segments.map(_.max).sum
    val step = new Step(segments.map(_.min).toArray, segments.map(_.max).toArray,
      segments.map(_.unbounded).toArray, policy, keepAll)
    // every segment in composite form: one "expansion step" = one rel for
    // a plain var-length leg, one whole branch traversal for an
    // alternation segment. Checkpointed (lazily) FIRST so the probe and
    // every round reuse ONE compiled plan: a probe over the raw edge trees
    // paid a second full Catalyst pass over the (often join-heavy
    // composite) edges — about a third of q_shortest_nfa_alt's warm
    // driver time. The checkpoints are dropped once the search is done.
    val held = Seq.newBuilder[RDD[_]]
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(false)
      cp.queryExecution.logical match {
        case l: LogicalRDD => held += l.rdd
        case _ =>
      }
      cp
    }
    val edges = segments.map { s =>
      val c = if (s.composite) s.edges else legEdges(s.edges)
      checkpoint(c.select(col("__es"), col("__ed"), col("__ers"), col("__ens"),
        col("__elen"),
        (if (c.columns.contains("__ew")) col("__ew") else lit(0.0))
          .cast("double").as("__ew")))
    }
    val bounds = segments.map(_.boundary.map(b =>
      checkpoint(b.select(col("id")))))
    val rankK = policy match {
      case KCheapest(k) => Some(k)
      case _ => None
    }
    // repeats are dropped by the executors, not by a shuffle here
    val srcs = sources.select((col("source") +: rankK.map(_ => col("target")).toSeq): _*)
      .na.drop()

    // The checkpointed relations first: the rows a probe past the bound
    // read stay cached for the rounds, so stopping there wastes nothing.
    def probe(df: DataFrame) = Placement.local(df, Placement.RoundDp)
    val probed = for {
      g <- edges.zip(bounds).foldLeft(Option(Vector.empty[(Array[Row], Option[Array[Row]])])) {
        case (acc, (e, b)) => for {
          done <- acc
          es <- probe(e)
          bs <- b.fold(Option(Option.empty[Array[Row]]))(probe(_).map(Some(_)))
        } yield done :+ ((es, bs))
      }
      s <- probe(srcs)
    } yield (s, g)
    def pair(r: Row) = (r.getLong(0), r.getLong(1))
    val (accepted, horizon) = probed match {
      case Some((s, g)) =>
        val (rows, h) = onDriver(step, s.map(_.getLong(0)).distinct, g.map(_._1),
          g.map(_._2), maxRounds)
        (rankK.fold(Rounds.localDf(spark, rows))(k =>
          Rounds.localDf(spark, rankPairs(rows.iterator, s.iterator.map(pair), k).toSeq)), h)
      case None =>
        val (rows, h) = inRounds(step, srcs, edges, bounds, maxRounds)
        // the pairs meet their rows in the partition of their target
        (rankK.fold(Rounds.toDf(spark, rows.values))(k => Rounds.toDf(spark,
          rows.zipPartitions(srcs.rdd.map(r => (r.getLong(1), pair(r)))
            .partitionBy(rows.partitioner.get))((rs, ps) =>
            rankPairs(rs.map(_._2), ps.map(_._2), k)))), h)
    }
    held.result().foreach(_.unpersist(blocking = false))
    if (horizon) Trail.onHorizon("SHORTEST", maxRounds)
    accepted
  }

  /** Bit i of a node's mask = it is in segment i's boundary set; the bits
    * of segments with no boundary are always set. */
  private def fullMask(bounds: Seq[Option[_]]): Int =
    bounds.zipWithIndex.foldLeft(0) { case (m, (b, i)) =>
      if (b.isEmpty) m | (1 << i) else m }

  /** The driver executor: the rounds over the probed rows. Returns the
    * accepted rows and whether the search hit an unbounded cap. */
  private def onDriver(step: Step, sources: Array[Long],
      edges: Seq[Array[Row]], bounds: Seq[Option[Array[Row]]],
      maxRounds: Int): (Seq[RRow], Boolean) = {
    val full = fullMask(bounds)
    val member: Map[Long, Int] = bounds.zipWithIndex
      .flatMap { case (b, i) => b.toSeq.flatMap(_.map(r => (r.getLong(0), 1 << i))) }
      .groupMapReduce(_._1)(_._2)(_ | _)
    def mask(n: Long) = full | member.getOrElse(n, 0)
    val adj: Map[(Long, Int), Array[REdge]] = edges.zipWithIndex
      .flatMap { case (es, i) => es.map(r =>
        ((r.getLong(0), i), toEdge(r, mask(r.getLong(1))))) }
      .groupMap(_._1)(_._2).map { case (key, es) => key -> es.toArray }
    var frontier = step.prune(sources.flatMap(s => step.seed(s, mask(s))))
    val accepted = Seq.newBuilder[RRow]
    accepted ++= frontier.filter(step.isAccepted)
    var depth = 0
    while (depth < maxRounds && frontier.exists(step.isActive)) {
      val expanded = frontier.filter(step.isActive).flatMap(r =>
        adj.getOrElse((r.end, r.seg), Array.empty[REdge]).flatMap(step.expandOne(r, _)))
      frontier = step.prune((expanded ++ frontier.filter(step.isLedger)).toArray)
      accepted ++= frontier.filter(step.isAccepted)
      depth += 1
    }
    (accepted.result(), frontier.exists(step.atHorizon))
  }

  /** The distributed executor: RDD rounds, each round's frontier
    * persisted (the lazy result reads them). Returns the accepted rows,
    * keyed and partitioned by `end`, and whether the search hit an
    * unbounded cap. */
  private def inRounds(step: Step, sources: DataFrame, edges: Seq[DataFrame],
      bounds: Seq[Option[DataFrame]], maxRounds: Int): (RDD[(Long, RRow)], Boolean) = {
    val sc = sources.sparkSession.sparkContext
    val rounds = Rounds(sources.sparkSession, edges.map(_.rdd.getNumPartitions).max)
    val part = rounds.part
    val full = fullMask(bounds)
    val hasBounds = bounds.exists(_.isDefined)
    lazy val maskRdd: RDD[(Long, Int)] =
      sc.union(bounds.zipWithIndex.collect { case (Some(b), i) =>
        b.rdd.map(r => (r.getLong(0), 1 << i)) }).reduceByKey(part, _ | _)

    // Flat (src, (seg, step)) edge relation, the boundary mask folded onto
    // each step's DESTINATION. WITHOUT boundaries this is a pure map over
    // the edge scan — never shuffled, never grouped: in the (dominant)
    // broadcast-frontier mode each round streams the persisted edge
    // blocks map-side. WITH boundaries (labeled-NFA interior predicates)
    // the mask join costs two one-time shuffles, amortized over every
    // round.
    val tagged = sc.union(edges.zipWithIndex.map { case (e, i) =>
      e.rdd.map(r => (r.getLong(0), (i, toEdge(r, full)))) })
    val edgesFlat: RDD[(Long, (Int, REdge))] = rounds.persist(
      if (!hasBounds) tagged
      else tagged
        .map { case (src, (i, e)) => (e.dst, (src, i, e)) }
        .partitionBy(part)
        .leftOuterJoin(maskRdd, part)
        .map { case (_, ((src, i, e), m)) =>
          (src, (i, e.copy(dstMask = full | m.getOrElse(0)))) })
    // co-partitioned layout, built only if a round's frontier outgrows the
    // broadcast threshold
    lazy val edgesPart: RDD[(Long, (Int, REdge))] =
      rounds.persist(edgesFlat.partitionBy(part))

    def pruned(rows: RDD[(Long, RRow)]): RDD[(Long, RRow)] =
      rounds.persist(rows.mapPartitions(it =>
        step.prune(it.map(_._2).toArray).iterator.map(r => (r.end, r)),
        preservesPartitioning = true))
    def activeCount(f: RDD[(Long, RRow)]): Long =
      f.mapPartitions(it => Iterator.single(it.count(p => step.isActive(p._2))))
        .sum().toLong

    // each distinct source once, in its own partition: a seed row's end is
    // its source
    val srcMasks = {
      val distinct = sources.rdd.map(r => (r.getLong(0), ())).reduceByKey(part, (u, _) => u)
      if (!hasBounds) distinct.mapValues(_ => full)
      else distinct.leftOuterJoin(maskRdd, part).mapValues(m => full | m._2.getOrElse(0))
    }
    var frontier = pruned(srcMasks.mapPartitions(_.flatMap { case (s, m) =>
      step.seed(s, m).map(r => (r.end, r)) }, preservesPartitioning = true))
    val frontiers = Seq.newBuilder[RDD[(Long, RRow)]]
    frontiers += frontier
    var activeCnt = activeCount(frontier)
    var depth = 0
    while (depth < maxRounds && activeCnt > 0) {
      val active = frontier.filter(p => step.isActive(p._2))
      // Small frontiers (the norm: the prune bounds them at |states| × k)
      // broadcast as a probe map and the persisted edge blocks stream
      // map-side — no edge shuffle, ever; big frontiers fall back to the
      // co-partitioned join (edges shuffled once, lazily, then reused).
      val expanded: RDD[RRow] =
        if (activeCnt <= Rounds.BroadcastFrontierRows) {
          val bc = sc.broadcast(active.map(_._2).collect().groupBy(r => (r.end, r.seg)))
          edgesFlat.mapPartitions { it =>
            val m = bc.value
            it.flatMap { case (src, (seg, e)) =>
              m.getOrElse((src, seg), Array.empty[RRow]).iterator
                .flatMap(step.expandOne(_, e))
            }
          }
        } else
          active.join(edgesPart, part).flatMap { case (_, (r, (seg, e))) =>
            if (seg == r.seg) step.expandOne(r, e) else Nil }
      val ledger = frontier.filter(p => step.isLedger(p._2))
      // same partitioner -> narrow union
      frontier = pruned(expanded.map(r => (r.end, r)).partitionBy(part).union(ledger))
      frontiers += frontier
      activeCnt = activeCount(frontier)
      depth += 1
    }
    val fs = frontiers.result()
    rounds.release(fs)
    // one tiny job, only for searches with an unbounded quantifier
    val horizon = step.hasUnbounded &&
      frontier.filter(p => step.atHorizon(p._2)).take(1).nonEmpty
    // every frontier has `part`: the union stays partitioned by `end`
    (sc.union(fs.map(_.filter(p => step.isAccepted(p._2)))), horizon)
  }

  /** A plain var-length leg in the composite edge form [[search]] takes:
    * one expansion step per rel, costing `weight`. */
  def legEdges(edges: DataFrame, weight: org.apache.spark.sql.Column = lit(0.0)): DataFrame =
    edges.select(col("src").as("__es"), col("dst").as("__ed"),
      array(col("id")).as("__ers"), array(col("dst")).as("__ens"),
      lit(1).as("__elen"), weight.cast("double").as("__ew"))
}
