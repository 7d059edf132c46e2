package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/**
 * RDD round engine for the SHORTEST-k / GROUPS product-graph searches —
 * the Ranking.iterateRanks / Bfs.listRanks treatment (r15) applied to the
 * Trail family: ONE compiled loop iterated under ONE shared
 * HashPartitioner instead of a per-round Catalyst-planned join + window +
 * checkpoint stack. Each round costs exactly one shuffle (the expanded
 * rows moving to their new end nodes); the epsilon closure and the
 * per-state prune run partition-locally because every row of a state
 * shares its `end` key, and cross-round budgets (k-total, distinct
 * arrival rounds) ride in-band as ledger rows exactly like the r15
 * DataFrame formulation's counts relations.
 *
 * Decision-for-decision twin of the DataFrame loops it replaces
 * (Trail.segmentSearch / shortestK / shortestGroupsImpl): same
 * depth-synchronized rounds, same closure/boundary semantics, same budget
 * arithmetic and (hops, path)-ascending selection; the driver-local fast
 * paths and the accept/rank tails in Trail.scala are untouched.
 */
private[ops] object TrailRdd {

  /** One expansion step: a rel (or whole alternation branch) from a node.
    * dstMask bit i = the destination node satisfies segment i's boundary
    * predicate (always set for segments with no boundary), so the epsilon
    * closure after an expansion is a partition-local loop. */
  final case class REdge(dst: Long, rels: Array[Long], ns: Array[Long],
      len: Int, dstMask: Int)

  /** A search row; segHops = -1 marks a budget-ledger row (count in
    * `hops`, keyed by (source, end[, seg])) — inert in the search. */
  final case class RRow(source: Long, end: Long, seg: Int, segHops: Int,
      hops: Int, path: Array[Long], nodes: Array[Long], bnds: Array[Long])

  /** Per-state prune policy — the round-for-round twin of the DataFrame
    * window / counts-relation formulations. */
  sealed trait Policy
  /** shortestKImpl: k best (hops, path) rows per
    * (source, end, seg, segHops, bnds@partBnds). */
  final case class KBestPerState(k: Int, partBnds: Seq[Int]) extends Policy
  /** shortestGroupsSegImpl: length-cohort budget within
    * (source, end, seg, segHops) + distinct-arrival-round budget per
    * (source, end, seg), ledger-carried. */
  final case class GroupsLedger(budget: Int) extends Policy
  /** shortestK: at most k kept rows per (source, end) ACROSS rounds,
    * candidates ranked path-ascending within their round. */
  final case class KTotal(k: Int) extends Policy
  /** shortestGroupsImpl: a state stays expandable for its first `budget`
    * distinct arrival rounds; every row of those rounds survives. */
  final case class ArrivalBudget(budget: Int) extends Policy

  /** Element-wise Array[Long] ordering, shorter-prefix-first — identical
    * to Spark's array<long> ascending sort used by the window prunes. */
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

  /** Search result: accepted/kept rows (lazy, each round's frontier is
    * persisted) plus the final frontier for horizon checks. */
  final case class SearchOut(result: RDD[RRow], finalFrontier: RDD[RRow])

  /**
   * Run the depth-synchronized rounds.
   *
   * @param normEdges  per segment: (__es LONG, __ed LONG, __ers ARRAY<LONG>,
   *                   __ens ARRAY<LONG>, __elen INT) — the composite form
   *                   Trail.segmentSearch normalizes to (single-leg callers
   *                   pass one segment)
   * @param bounds     per segment: optional boundary node set (column `id`)
   *                   required to ADVANCE out of that segment
   * @param sources    distinct source ids (column `source`)
   * @param mins/maxs  per-segment hop bounds (maxs also the expansion cap)
   * @param keepAll    true = every kept row is a result (single-leg
   *                   shortestK/Groups); false = only seg == nSeg rows
   * @param maxRounds  round cap (maxTotal / maxDepth)
   */
  def search(normEdges: Seq[DataFrame], bounds: Seq[Option[DataFrame]],
      sources: DataFrame, mins: Array[Int], maxs: Array[Int],
      policy: Policy, keepAll: Boolean, maxRounds: Int): SearchOut = {
    val spark = sources.sparkSession
    val sc = spark.sparkContext
    val nSeg = normEdges.size
    require(nSeg <= 30, s"too many segments: $nSeg")

    val eIn: Seq[RDD[(Long, (Long, Array[Long], Array[Long], Int))]] =
      normEdges.map(_.rdd.map { r =>
        (r.getLong(0), (r.getLong(1),
          r.getSeq[Long](2).toArray, r.getSeq[Long](3).toArray, r.getInt(4)))
      })
    val rounds = Rounds(spark, eIn.map(_.getNumPartitions).max)
    val part = rounds.part

    // bit i preset for segments with NO boundary; boundary segments
    // contribute their bit per member node
    var fullMask = 0
    bounds.zipWithIndex.foreach { case (b, i) =>
      if (b.isEmpty) fullMask |= (1 << i) }
    val hasBounds = bounds.exists(_.isDefined)
    lazy val maskRdd: RDD[(Long, Int)] = {
      val parts = bounds.zipWithIndex.collect { case (Some(b), i) =>
        b.rdd.map(r => (r.getLong(0), 1 << i)) }
      sc.union(parts).reduceByKey(part, _ | _)
    }

    // Flat (src, seg, step) edge relation, the boundary mask folded onto
    // each step's DESTINATION. WITHOUT boundaries this is a pure map over
    // the edge scan — never shuffled, never grouped: in the (dominant)
    // broadcast-frontier mode each round streams the persisted edge
    // blocks map-side, exactly the broadcast-hash-join shape the r15
    // DataFrame loop planned, minus the per-round Catalyst pass. WITH
    // boundaries (labeled-NFA interior predicates) the mask join costs
    // two one-time shuffles, amortized over every round.
    val taggedRaw = sc.union(eIn.zipWithIndex.map { case (e, i) =>
      e.map { case (src, (dst, rels, ns, len)) =>
        (src, (i, REdge(dst, rels, ns, len, fullMask))) } })
    val edgesFlat: RDD[(Long, (Int, REdge))] = rounds.persist(
      if (!hasBounds) taggedRaw
       else taggedRaw
         .map { case (src, (i, e)) => (e.dst, (src, i, e)) }
         .partitionBy(part)
         .leftOuterJoin(maskRdd, part)
         .map { case (_, ((src, i, e), m)) =>
           (src, (i, e.copy(dstMask = fullMask | m.getOrElse(0)))) })
    // co-partitioned layout, built only if a round's frontier outgrows the
    // broadcast threshold
    lazy val edgesPart: RDD[(Long, (Int, REdge))] =
      rounds.persist(edgesFlat.partitionBy(part))

    val isLedger = (r: RRow) => r.segHops == -1
    val isActive = (r: RRow) => r.segHops >= 0 && r.seg < nSeg &&
      r.segHops < maxs(r.seg)
    val isAccepted = (r: RRow) =>
      if (keepAll) r.segHops >= 0 else r.seg == nSeg && r.segHops >= 0

    // epsilon closure after arriving at `end` with boundary mask `mask`:
    // advance while the current segment's minimum is met and the node
    // satisfies its boundary — every intermediate advance is kept, exactly
    // like the DataFrame closure's per-segment carry. The single-leg
    // keepAll families (shortestK / shortestGroups) have NO epsilon
    // semantics: every kept row already IS a result, so closure is a
    // no-op there (an advance would mint a seg-1 twin of every row).
    def closure(row: RRow, mask: Int): Seq[RRow] =
      if (keepAll) Seq(row)
      else {
        val out = Seq.newBuilder[RRow]
        out += row
        var cur = row
        var i = row.seg
        while (i < nSeg && cur.segHops >= mins(i) && ((mask >> i) & 1) == 1) {
          cur = RRow(cur.source, cur.end, i + 1, 0, cur.hops, cur.path,
            cur.nodes, cur.bnds :+ cur.end)
          out += cur
          i += 1
        }
        out.result()
      }

    // ---- partition-local prune (rows of one partition share end-hash) ----
    val rowOrd: Ordering[RRow] = (a: RRow, b: RRow) => {
      var c = Integer.compare(a.hops, b.hops)
      if (c == 0) c = arrOrd.compare(a.path, b.path)
      if (c == 0) c = arrOrd.compare(a.bnds, b.bnds)
      c
    }
    def prune(rows: Iterator[(Long, RRow)]): Iterator[(Long, RRow)] = {
      val all = rows.map(_._2).toArray
      val (ledgers, cands) = all.partition(isLedger)
      val out = Seq.newBuilder[RRow]
      policy match {
        case KBestPerState(k, partBnds) =>
          cands.groupBy(r => (r.source, r.end, r.seg, r.segHops,
              partBnds.map(i => r.bnds.lift(i))))
            .valuesIterator.foreach { rs =>
              out ++= rs.sorted(rowOrd).take(k) }
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
          val keys = prior.keySet ++ arrived
          keys.foreach { case sk @ (s, e, g) =>
            val n = prior.getOrElse(sk, 0) + (if (arrived(sk)) 1 else 0)
            out += RRow(s, e, g, -1, n, Array.empty, Array.empty, Array.empty)
          }
        case KTotal(k) =>
          val prior = ledgers.map(l => ((l.source, l.end), l.hops)).toMap
          val added = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
          cands.groupBy(r => (r.source, r.end)).foreach { case (sk, rs) =>
            val have = prior.getOrElse(sk, 0)
            val take = math.max(0, k - have)
            if (take > 0) {
              val kept = rs.sorted(rowOrd).take(take)
              out ++= kept
              if (kept.nonEmpty) added(sk) = kept.length
            }
          }
          val keys = prior.keySet ++ added.keySet
          keys.foreach { case sk @ (s, e) =>
            out += RRow(s, e, 0, -1,
              prior.getOrElse(sk, 0) + added.getOrElse(sk, 0),
              Array.empty, Array.empty, Array.empty)
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
          val keys = prior.keySet ++ arrived
          keys.foreach { case sk @ (s, e) =>
            out += RRow(s, e, 0, -1,
              prior.getOrElse(sk, 0) + (if (arrived(sk)) 1 else 0),
              Array.empty, Array.empty, Array.empty)
          }
      }
      out.result().iterator.map(r => (r.end, r))
    }

    // ---- init: sources -> closured, pruned round-0 frontier ----
    val srcKeyed = sources.rdd.map(r => (r.getLong(0), ()))
    val init =
      (if (!hasBounds)
        srcKeyed.flatMap { case (s, _) =>
          closure(RRow(s, s, 0, 0, 0, Array.empty, Array(s), Array.empty),
            fullMask).map(r => (r.end, r)) }
       else srcKeyed.partitionBy(part).leftOuterJoin(maskRdd, part)
         .flatMap { case (s, (_, m)) =>
           closure(RRow(s, s, 0, 0, 0, Array.empty, Array(s), Array.empty),
             fullMask | m.getOrElse(0)).map(r => (r.end, r)) })
    var frontier = rounds.persist(init.partitionBy(part)
      .mapPartitions(prune, preservesPartitioning = true))
    val frontiers = Seq.newBuilder[RDD[(Long, RRow)]]
    frontiers += frontier
    var activeCnt = frontier.mapPartitions(it =>
      Iterator.single(it.count(p => isActive(p._2)))).sum().toLong

    def expandOne(r: RRow, seg: Int, e: REdge): Iterator[(Long, RRow)] =
      if (e.rels.exists(id => r.path.contains(id))) Iterator.empty
      else {
        val nr = RRow(r.source, e.dst, seg, r.segHops + 1,
          r.hops + e.len, r.path ++ e.rels, r.nodes ++ e.ns, r.bnds)
        closure(nr, e.dstMask).iterator.map(x => (x.end, x))
      }

    var depth = 0
    while (depth < maxRounds && activeCnt > 0) {
      val active = frontier.filter(p => isActive(p._2))
      // Small frontiers (the norm: the prune bounds them at |states| × k)
      // broadcast as a probe map and the persisted edge blocks stream
      // map-side — no edge shuffle, ever; big frontiers fall back to the
      // co-partitioned join (edges shuffled once, lazily, then reused).
      val expanded: RDD[(Long, RRow)] =
        if (activeCnt <= Rounds.BroadcastFrontierRows) {
          val byNodeSeg = active.map(_._2).collect()
            .groupBy(r => (r.end, r.seg))
          val bc = sc.broadcast(byNodeSeg)
          edgesFlat.mapPartitions { it =>
            val m = bc.value
            it.flatMap { case (src, (seg, e)) =>
              m.get((src, seg)) match {
                case Some(rows) => rows.iterator.flatMap(expandOne(_, seg, e))
                case None => Iterator.empty
              }
            }
          }
        } else {
          active.join(edgesPart, part).flatMap {
            case (_, (r, (seg, e))) =>
              if (seg == r.seg) expandOne(r, seg, e) else Iterator.empty
          }
        }
      val ledger = frontier.filter(p => isLedger(p._2))
      val moved = expanded.partitionBy(part)
      // same partitioner -> narrow union
      frontier = rounds.persist(moved.union(ledger)
        .mapPartitions(prune, preservesPartitioning = true))
      frontiers += frontier
      activeCnt = frontier.mapPartitions(it =>
        Iterator.single(it.count(p => isActive(p._2)))).sum().toLong
      depth += 1
    }
    val fs = frontiers.result()
    rounds.release(fs)
    SearchOut(sc.union(fs.map(_.map(_._2).filter(isAccepted))),
      frontier.map(_._2).filter(r => !isLedger(r)))
  }

  /** A plain var-length leg in the composite edge form [[search]] takes:
    * one expansion step per rel. */
  def legEdges(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, lit}
    edges.select(col("src").as("__es"), col("dst").as("__ed"),
      array(col("id")).as("__ers"), array(col("dst")).as("__ens"),
      lit(1).as("__elen"))
  }
}
