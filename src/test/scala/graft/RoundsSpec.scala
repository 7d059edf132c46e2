package graft

import graft.ops.{Bfs, Centrality, Placement, Ranking, Rounds, Trail, WeightedPaths}
import graft.ops.Trail.PathSegment
import org.apache.spark.TestBus
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The round loops' persist/release lifecycle: after a result is
  * collected, every RDD a loop left persisted is one the result reads —
  * its rounds — never a partitioned edge copy or targets RDD. */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  /** Ids of the RDDs a DataFrame's RDD-scan leaves read: their lineage,
    * cut at each persisted RDD (its blocks are read, not its parents). */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id) &&
        r.getStorageLevel == StorageLevel.NONE)
      r.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => walk(l.rdd)
      case _ =>
    }
    seen.toSet
  }

  /** Collects `result` and fails on any RDD it left persisted that the
    * result does not read. */
  private def assertReleased(name: String)(result: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = result
    df.collect()
    val read = reads(df)
    val stray = sc.getPersistentRDDs.filter { case (id, _) =>
      !before(id) && !read(id) }
    assert(stray.isEmpty, s"$name left persisted RDDs the result does not " +
      s"read: ${stray.values.map(_.toDebugString).mkString("\n")}")
  }

  // a 3x3 grid plus a parallel edge and a self-loop
  private def grid = (for (r <- 0L until 3L; c <- 0L until 3L;
      (dr, dc) <- Seq((0L, 1L), (1L, 0L)) if r + dr < 3 && c + dc < 3)
    yield (r * 3 + c, (r + dr) * 3 + c + dc)) ++ Seq((0L, 1L), (4L, 4L))

  private lazy val edges = grid.toDF("src", "dst")
  // the grid with two diagonals: four triangles around node 4
  private lazy val triEdges = (grid ++ Seq((0L, 4L), (8L, 4L))).toDF("src", "dst")
  private lazy val idEdges = grid.zipWithIndex
    .map { case ((s, d), i) => (100L + i, s, d) }.toDF("id", "src", "dst")
  private lazy val sources = Seq(0L, 4L).toDF("source")
  private lazy val pairs = Seq((0L, 8L), (4L, 2L)).toDF("source", "target")
  private lazy val weighted = grid.zipWithIndex
    .map { case ((s, d), i) => (100L + i, s, d, 1.0 + i % 3) }
    .toDF("id", "src", "dst", "weight")
  // two legs, the first ending on an odd node
  private def segments = Seq(
    PathSegment(idEdges, 1, 2, Some(Seq(1L, 3L, 5L, 7L).toDF("id"))),
    PathSegment(idEdges, 0, 3))

  Seq[(String, () => DataFrame)](
    "Bfs.distances" -> (() => Bfs.distances(edges, sources, 5)),
    "Bfs.shortestPathLengths" -> (() => Bfs.shortestPathLengths(edges, pairs, 5)),
    "Trail.shortestK" -> (() => Trail.shortestK(idEdges, pairs, 2, 6)),
    "Trail.shortestGroups" -> (() => Trail.shortestGroups(idEdges, pairs, 2, 1, 6)),
    "Trail.shortestKSegments" -> (() => Trail.shortestKSegments(segments, pairs, 2)),
    "WeightedPaths.kCheapest" -> (() => WeightedPaths.kCheapest(weighted, pairs, 2, 6)),
    "Bfs.allShortestPaths" -> (() => Bfs.allShortestPaths(idEdges, sources, 5)),
    "Bfs.listRanks" -> (() => Bfs.listRanks(
      (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst"))),
    "Ranking.pageRank" -> (() => Ranking.pageRank(edges, 3)),
    "Ranking.weightedPageRank" -> (() => Ranking.weightedPageRank(
      grid.map { case (s, d) => (s, d, 1.0 + s) }.toDF("src", "dst", "weight"), 3)),
    "Ranking.personalizedPageRank" -> (() =>
      Ranking.personalizedPageRank(edges, sources, 3)),
    "Bfs.connectedComponents" -> (() => Bfs.connectedComponents(edges)),
    "Ranking.triangles" -> (() => Ranking.triangles(triEdges)),
    "Ranking.triangleCounts" -> (() => Ranking.triangleCounts(triEdges)),
    "Ranking.clusteringCoefficients" -> (() => Ranking.clusteringCoefficients(triEdges)),
    "Centrality.nodeSimilarity" -> (() => Centrality.nodeSimilarity(triEdges, 2)),
    "Centrality.kTruss" -> (() => Centrality.kTruss(triEdges, 3)),
    "Centrality.trussDecomposition" -> (() => Centrality.trussDecomposition(triEdges)),
    "Centrality.coreDecomposition" -> (() => Centrality.coreDecomposition(triEdges)),
    "Centrality.kCore" -> (() => Centrality.kCore(triEdges, 2))
  ).foreach { case (name, result) =>
    test(s"$name releases every persisted RDD its result does not read") {
      TestSession.withForcedDistributed(true)(assertReleased(name)(result()))
    }
  }

  /** The descriptions of the jobs started (empty when unset) and the
    * shuffle records written while `body` runs. */
  private def listen(body: => Unit): (Seq[String], Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    (jobs.toArray(Array.empty[String]).toSeq, records.get)
  }

  test("forced Bfs.distances shuffles its edges once and runs one job a round plus the seed count") {
    // the driver-side BFS from 0 and 4 to depth 5: its rounds and the rows
    // they expand (one per frontier row and distinct out-neighbour)
    val out = grid.distinct.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var frontier = Seq((0L, 0L), (4L, 4L))
    val seen = scala.collection.mutable.Set(frontier: _*)
    var (rounds, expanded) = (0, 0L)
    while (rounds < 5 && frontier.nonEmpty) {
      rounds += 1
      val next = frontier.flatMap { case (n, s) => out.getOrElse(n, Nil).map((_, s)) }
      expanded += next.size
      frontier = next.filter(seen.add)
    }
    TestSession.withForcedDistributed(true) {
      val (jobs, records) = listen(Bfs.distances(edges, sources, 5).collect())
      // each edge row (duplicates too), each source and each expanded row
      // is shuffled once: no separate edge dedupe
      assert(records == grid.size + 2 + expanded,
        s"$records shuffle records for ${grid.size} edges, 2 sources, $expanded expanded rows")
      // the seed count, one job a round, and the collect
      assert(jobs.size == rounds + 2, s"${jobs.size} jobs for $rounds rounds")
    }
  }

  test("forced pageRank runs one job") {
    TestSession.withForcedDistributed(true) {
      val (jobs, _) = listen(Ranking.pageRank(edges, 3).collect())
      assert(jobs.size == 1, s"${jobs.size} jobs")
    }
  }

  test("triangleCounts and nodeSimilarity run one job and shuffle no wedge row") {
    val part = Rounds(spark, edges.rdd.getNumPartitions).part
    // the lists each partition references, by the nodes it owns
    def referenced(lists: Map[Long, Iterable[Long]]): Seq[Set[Long]] =
      lists.keys.groupBy(part.getPartition).values.toSeq
        .map(_.flatMap(lists).toSet)
    // triangles: the symmetric edges (both directions of each non-loop
    // row), one degree message per neighbour, and for each partition one
    // request per id in its nodes' up-lists and one reply per non-empty
    // up-list among them; the grid has no triangle, so no corner count
    val nbrs = grid.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    def rank(u: Long) = (nbrs(u).size, u)
    val up = nbrs.map { case (u, ns) => u -> ns.filter(v => Ordering[(Int, Long)].gt(rank(v), rank(u))) }
    val upRefs = referenced(up)
    val triRecords = 2 * grid.count(e => e._1 != e._2) + nbrs.values.map(_.size).sum +
      upRefs.map(_.size).sum + upRefs.map(_.count(up(_).nonEmpty)).sum
    // similarity: the edge rows, one in-list entry per distinct edge, and
    // one request and one reply per out-neighbour id a partition references
    val out = grid.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val simRecords = grid.size + grid.distinct.size + 2 * referenced(out).map(_.size).sum
    for ((name, run, want) <- Seq(
        ("triangleCounts", () => Ranking.triangleCounts(edges).collect(), triRecords),
        ("nodeSimilarity", () => Centrality.nodeSimilarity(edges, 3).collect(), simRecords))) {
      val (jobs, records) = listen(run())
      assert(jobs.size == 1, s"$name: ${jobs.size} jobs")
      assert(records == want, s"$name: $records shuffle records, want $want")
    }
  }

  Seq[(String, () => DataFrame)](
    "Trail.shortestK" -> (() => Trail.shortestK(idEdges, pairs, 2, 6)),
    "Trail.shortestKSegments" -> (() => Trail.shortestKSegments(segments, pairs, 2)),
    "WeightedPaths.kCheapest" -> (() => WeightedPaths.kCheapest(weighted, pairs, 2, 6)),
    "Bfs.allShortestPaths" -> (() => Bfs.allShortestPaths(idEdges, sources, 5))
  ).foreach { case (name, result) =>
    test(s"$name within RoundDp runs only probe jobs while its result is built; forced, its rounds") {
      def built(forced: Boolean) =
        TestSession.withForcedDistributed(forced)(listen(result())._1)
      val local = built(false)
      assert(local.nonEmpty && local.forall(_.startsWith(Placement.ProbeDescription)),
        s"unforced jobs: $local")
      val rounds = built(true)
      assert(rounds.nonEmpty && !rounds.exists(_.startsWith(Placement.ProbeDescription)),
        s"forced jobs: $rounds")
    }
  }

  test("forced coreDecomposition runs one job a round plus the collect") {
    // a triangle wearing a 12-node tail: the estimates settle from the
    // tail's end inward over several rounds
    val tail = ((2L until 14L).map(i => (i, i + 1)) ++ Seq((0L, 1L), (1L, 2L), (0L, 2L)))
      .toDF("src", "dst")
    TestSession.withForcedDistributed(true) {
      // its rounds: the least maxIter the h-index fixpoint is reached within
      val rounds = (1 to 25).find(k => scala.util.Try(
          Centrality.coreDecomposition(tail, maxIter = k)).isSuccess)
        .getOrElse(fail("no convergence within 25 rounds"))
      assert(rounds > 2, s"$rounds rounds")
      val (jobs, _) = listen(Centrality.coreDecomposition(tail).collect())
      assert(jobs.size == rounds + 1, s"${jobs.size} jobs for $rounds rounds")
    }
  }

  test("forced kCore on a 1000-node chain runs its peel depth for k, not the coreness depth") {
    // the chain's coreness settles one hop a round from each end (~500
    // rounds), but every node survives the 1-core and none the 3-core
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("src", "dst")
    TestSession.withForcedDistributed(true) {
      for ((k, want) <- Seq(1 -> 1000L, 3 -> 0L)) {
        var n = 0L
        val (jobs, _) = listen { n = Centrality.kCore(chain, k).collect().length }
        assert(n == want, s"kCore($k): $n nodes")
        // one round, which converges, and the collect
        assert(jobs.size == 2, s"kCore($k): ${jobs.size} jobs")
      }
    }
  }

  test("forced trussDecomposition runs one job a round plus the collect") {
    // a 4x4 grid with one diagonal per cell: every edge has trussness 3,
    // but the inner edges start at support 2 and fall to 1 from the
    // border inward, over several rounds
    val e = (for (r <- 0L until 4L; c <- 0L until 4L; (dr, dc) <- Seq((0L, 1L), (1L, 0L), (1L, 1L))
        if r + dr < 4 && c + dc < 4) yield (r * 4 + c, (r + dr) * 4 + c + dc)).toDF("src", "dst")
    TestSession.withForcedDistributed(true) {
      val rounds = (1 to 25).find(k => scala.util.Try(
          Centrality.trussDecomposition(e, maxIter = k)).isSuccess)
        .getOrElse(fail("no convergence within 25 rounds"))
      assert(rounds > 2, s"$rounds rounds")
      val (jobs, _) = listen(Centrality.trussDecomposition(e).collect())
      assert(jobs.size == rounds + 1, s"${jobs.size} jobs for $rounds rounds")
    }
  }

  test("forced kTruss runs its peel depth for k, not the trussness depth") {
    // CentralitySpec's diamond 1-2-3 / 2-3-4: its trussness settles in two
    // rounds (the shared edge falls from support 2 to 1, then a round that
    // moves nothing). The 3-truss keeps every edge: one round that moves
    // nothing. The 4-truss drops the outer edges at once, the shared edge
    // in round one, and round two moves nothing.
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    TestSession.withForcedDistributed(true) {
      val trussRounds = (1 to 25).find(k => scala.util.Try(
          Centrality.trussDecomposition(diamond, maxIter = k)).isSuccess)
        .getOrElse(fail("no convergence within 25 rounds"))
      assert(trussRounds == 2, s"$trussRounds rounds")
      for ((k, want, peels) <- Seq((3, 5L, 1), (4, 0L, 2))) {
        var n = 0L
        val (jobs, _) = listen { n = Centrality.kTruss(diamond, k).collect().length }
        assert(n == want, s"kTruss($k): $n edges")
        assert(jobs.size == peels + 1, s"kTruss($k): ${jobs.size} jobs")
      }
    }
  }

  test("forced connectedComponents launches one job a round plus at most three") {
    // the 1000-node chain of GraphOpsSpec's convergence test
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("src", "dst")
    TestSession.withForcedDistributed(true) {
      // its rounds: the least maxIter the contraction converges within
      val rounds = (1 to 25).find(k => scala.util.Try(
          Bfs.connectedComponents(chain, maxIter = k)).isSuccess)
        .getOrElse(fail("no convergence within 25 rounds"))
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      TestBus.drain(sc)
      sc.addSparkListener(l)
      try { Bfs.connectedComponents(chain).collect(); TestBus.drain(sc) }
      finally sc.removeSparkListener(l)
      assert(jobs.get <= rounds + 3, s"${jobs.get} jobs for $rounds rounds")
    }
  }
}
