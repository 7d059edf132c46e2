package graft

import graft.graph.Direction
import graft.ops.{Bfs, Trail}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for var-length expand (Trail.trail) / Bfs — including the
  * any-rel-type path (the default Cypher `[*1..2]` form) and the O(log n) round bound of
  * the star-contraction connected components. */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("varExpand with empty relTypes (any type) traverses all edges") {
    val g = GraphFixtures.chainGraph(spark, 4) // 0->1->2->3, type T
    val start = g.nodes.filter(col("id") === 0L).select(col("id").as("a"))
    val out = Trail.trail(g.orientTyped(Seq.empty, Direction.Out), start, "a",
      1, Some(2), relsAlias = "rels", nodesAlias = None, hopsAlias = "depth")
    val reached = out.select("end", "depth").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(reached === Set((1L, 1), (2L, 2)))
  }

  test("varExpand minHops=0 includes the zero-length path") {
    val g = GraphFixtures.chainGraph(spark, 3)
    val start = g.nodes.filter(col("id") === 0L).select(col("id").as("a"))
    val out = Trail.trail(g.orientTyped(Seq("T"), Direction.Out), start, "a",
      0, Some(1), relsAlias = "rels", nodesAlias = None, hopsAlias = "depth")
    val reached = out.select("end", "depth").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(reached === Set((0L, 0), (1L, 1)))
  }

  test("varExpand enforces relationship uniqueness within a path") {
    // 0 <-> 1 (two directed edges): with uniqueness, Both-direction paths
    // cannot reuse a rel, so depth-2 paths 0->1->0 use the two distinct rels
    val g = GraphFixtures.graph(spark,
      Seq((0L, Seq("N"), "a"), (1L, Seq("N"), "b")),
      Seq((100L, 0L, 1L, "T"), (101L, 1L, 0L, "T")))
    val start = g.nodes.filter(col("id") === 0L).select(col("id").as("a"))
    val out = Trail.trail(g.orientTyped(Seq("T"), Direction.Both), start, "a",
      1, Some(2), relsAlias = "rels", nodesAlias = None, hopsAlias = "depth")
    // depth1: 0->1 via 100, 0->1 via 101 reversed (Both sees both rels)
    // depth2: each continues over the *other* rel back to 0; never the same rel twice
    val paths = out.select("rels").collect().map(_.getSeq[Long](0))
    assert(paths.forall(p => p.distinct.size === p.size))
  }

  test("BFS distances on grid equal manhattan distance") {
    val g = GraphFixtures.gridGraph(spark, 4, 4)
    val sources = Seq(0L).toDF("source")
    val d = Bfs.distances(GraphFixtures.edges(g), sources, maxDepth = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Int]("dist")).toMap
    assert(d(0L) === 0)
    assert(d(5L) === 2)  // (1,1)
    assert(d(15L) === 6) // (3,3)
  }

  test("shortestPathLengths early-exits and returns requested pairs only") {
    val g = GraphFixtures.chainGraph(spark, 30)
    val pairs = Seq((0L, 3L)).toDF("source", "target")
    val out = Bfs.shortestPathLengths(GraphFixtures.edges(g), pairs, maxDepth = 50)
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[Int]("dist") === 3)
  }

  test("connectedComponents on a 1000-node chain converges (O(log n) rounds)") {
    // chain diameter 999: neighbor-min propagation would need ~999 rounds;
    // star contraction must finish within maxIter=25 ≈ 2·log2(1000)+c
    // the forced run covers the distributed contraction loop — the
    // driver-local union-find fast path must not steal this test's coverage
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("src", "dst")
    TestSession.bothPlacements { forced =>
      val comp = Bfs.connectedComponents(edges, maxIter = 25)
      val comps = comp.select("component").distinct().collect().map(_.getLong(0))
      assert(comps === Array(0L), s"forced=$forced")
      assert(comp.count() === 1000, s"forced=$forced")
    }
  }

  test("connectedComponents local fast path matches the distributed loop") {
    val rng = new scala.util.Random(7)
    val edges = (0 until 400).map(_ =>
      (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")
    val local = TestSession.withForcedDistributed(false)(
      Bfs.connectedComponents(edges).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = TestSession.withForcedDistributed(true)(
      Bfs.connectedComponents(edges).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
  }

  test("connectedComponents separates disjoint components") {
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("src", "dst")
    val comp = Bfs.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents fails loudly on an id not castable to LONG") {
    // both branches, ANSI on and off, name the bad id instead of casting
    // it to NULL and dropping its edge
    val edges = Seq(("1", "2"), ("2", "x1")).toDF("src", "dst")
    val ansi = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(ansi)
    try TestSession.bothPlacements { forced =>
      Seq("true", "false").foreach { on =>
        spark.conf.set(ansi, on)
        val err = intercept[Exception](Bfs.connectedComponents(edges).collect())
        assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
          .exists(e => String.valueOf(e.getMessage)
            .contains("connectedComponents: id not castable to LONG: x1")),
          s"forced=$forced ansi=$on: $err")
      }
    } finally prev.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
  }

  test("listRanks ranks chain nodes in O(log L) pointer-doubling rounds") {
    val edges = ((0L until 39L).map(i => (i, i + 1)) ++      // chain 0..39
      Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")    // chain 100..102
    val r = Bfs.listRanks(edges, maxLength = 64)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(0L) == (0L, 0L) && r(39L) == (0L, 39L) && r(20L) == (0L, 20L))
    assert(r(100L) == (100L, 0L) && r(102L) == (100L, 2L))
  }

  test("listRanks rejects cycles instead of silently looping") {
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { Bfs.listRanks(cyc, maxLength = 8).collect() }
  }

  test("listRanks distributed path (threshold 0) matches the local walk") {
    val edges = ((0L until 39L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    TestSession.bothPlacements { forced =>
      val r = Bfs.listRanks(edges, maxLength = 64)
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
      assert(r(0L) == (0L, 0L) && r(39L) == (0L, 39L) && r(20L) == (0L, 20L),
        s"forced=$forced")
      assert(r(100L) == (100L, 0L) && r(102L) == (100L, 2L), s"forced=$forced")
      assert(r.size == 43, s"forced=$forced")
      intercept[IllegalArgumentException] {
        Bfs.listRanks(cyc, maxLength = 8).collect()
      }
    }
  }

  test("allShortestPaths returns every minimal-hop path, ties included") {
    // diamond: 0->1->3 and 0->2->3 both length 2; plus direct 0->4 (len 1)
    val edges = Seq((100L, 0L, 1L), (101L, 0L, 2L), (102L, 1L, 3L),
      (103L, 2L, 3L), (104L, 0L, 4L)).toDF("id", "src", "dst")
    val paths = Bfs.allShortestPaths(edges, Seq(0L).toDF("source"), maxDepth = 5)
      .filter(col("node") === 3L).collect()
      .map(r => r.getSeq[Long](r.fieldIndex("path"))).toSet
    assert(paths == Set(Seq(100L, 102L), Seq(101L, 103L)))
    // longer 0->...->3 routes must NOT appear even under a higher maxDepth
    val all = Bfs.allShortestPaths(edges, Seq(0L).toDF("source"), maxDepth = 5)
    assert(all.filter(col("node") === 3L && col("dist") =!= 2).count() == 0)
    // two parallel shortest routes 0->1->3 / 0->2->3 and a self-loop at the
    // source: the loop re-reaches 0 after round 0, so no path uses it
    val routes = Seq((10L, 0L, 1L), (11L, 0L, 2L), (12L, 1L, 3L),
      (13L, 2L, 3L), (14L, 0L, 0L)).toDF("id", "src", "dst")
    val got = Bfs.allShortestPaths(routes, Seq(0L).toDF("source"), maxDepth = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getSeq[Long](3), r.getSeq[Long](4))).toSet
    assert(got == Set((0L, 0L, 0, Seq(), Seq(0L)),
      (0L, 1L, 1, Seq(10L), Seq(0L, 1L)), (0L, 2L, 1, Seq(11L), Seq(0L, 2L)),
      (0L, 3L, 2, Seq(10L, 12L), Seq(0L, 1L, 3L)),
      (0L, 3L, 2, Seq(11L, 13L), Seq(0L, 2L, 3L))))
  }

  test("deep BFS (depth 25) completes with compacted visited set") {
    // 25-deep chain: 25 rounds, each anti-joining against the narrow union
    // of every earlier round's persisted frontier
    val edges = (0L until 25L).map(i => (i, i + 1)).toDF("src", "dst")
    val d = Bfs.distances(edges, Seq(0L).toDF("source"), maxDepth = 30)
    assert(d.count() == 26)
    assert(d.filter(col("node") === 25L).select("dist").collect()(0).getInt(0) == 25)
    val deep = Bfs.allShortestPaths(
      edges.withColumn("id", col("dst") + 1000), Seq(0L).toDF("source"), maxDepth = 30)
    assert(deep.filter(col("node") === 25L).select("dist").collect()(0).getInt(0) == 25)
  }

  /** Broom: source 0 fans out to 1..40, each i continues to 100+i; one fan
    * node (20) hangs a 10-hop chain 200..209 ending at the target. The
    * forward search must label the whole fan; the backward side walks only
    * the chain (in-degree 1), so bidirectional meets after touching far
    * fewer states. */
  private def broom = {
    val fan = (1L to 40L).flatMap(i => Seq((i, 0L, i), (1000 + i, i, 100 + i)))
    val chain = (0L until 10L).map(j =>
      (2000 + j, if (j == 0) 20L else 199L + j, 200L + j))
    GraphFixtures.graph(spark,
      (Seq(0L, 20L) ++ (1L to 40L) ++ (101L to 140L) ++ (200L to 209L))
        .distinct.map(i => (i, Seq("N"), s"n$i")),
      (fan ++ chain).map { case (id, s, d) => (id, s, d, "T") })
  }

  test("bidirectional search matches forward result on the broom") {
    import graft.ops.WeightedPaths
    val edges = broom.rels.select(col("id"), col("src"), col("dst"),
      lit(1.0).as("weight"))
    val fwd = WeightedPaths.shortestPaths(edges, Seq(0L).toDF("source"))
    val expected = fwd.filter(col("node") === 209L)
      .select("dist", "path").collect()(0)
    val (res, _) = WeightedPaths.bidirectionalWithStats(edges, 0L, 209L)
    val got = res.select("dist", "path", "nodes").collect()(0)
    assert(got.getDouble(0) == expected.getDouble(0))
    assert(got.getSeq[Long](1) == expected.getSeq[Long](1))
    // stitched node sequence: 0 -> 20 -> 200 .. -> 209
    assert(got.getSeq[Long](2) == 0L +: 20L +: (200L to 209L))
  }

  test("bidirectional touches fewer states than the forward search") {
    import graft.ops.WeightedPaths
    val edges = broom.rels.select(col("id"), col("src"), col("dst"),
      lit(1.0).as("weight"))
    val forwardStates = WeightedPaths.shortestPaths(edges, Seq(0L).toDF("source"))
      .count() // forward labels every reachable node (91)
    val (_, touched) = WeightedPaths.bidirectionalWithStats(edges, 0L, 209L)
    assert(touched < forwardStates,
      s"bidirectional touched $touched >= forward's $forwardStates states")
  }

  test("landmark estimates are triangle upper bounds, exact through a landmark") {
    import graft.ops.{Landmarks, WeightedPaths}
    // chain 0 -> 1 -> ... -> 9 with landmark 5: every pair crossing 5 is
    // exact; pairs on the same side still route via 5 (upper bound)
    val edges = (0L until 9L).map(i => (i, i, i + 1, 1.0))
      .toDF("id", "src", "dst", "weight")
    val (toL, fromL) = Landmarks.build(edges, Seq(5L))
    val est = Landmarks.estimateAll(toL, fromL).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    TestSession.bothPlacements { forced =>
      val exact = WeightedPaths.allPairsDistances(edges,
          (0L until 10L).toDF("source"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      est.foreach { case (pair, e) =>
        assert(e >= exact(pair) - 1e-9,
          s"estimate below exact for $pair, forced=$forced")
      }
      assert(est((2L, 8L)) == exact((2L, 8L)),
        s"crossing pair must be exact, forced=$forced")
    }
    assert(est((0L, 5L)) == 5.0 && est((5L, 9L)) == 4.0)
    // same-side pair 6->8 routes via 5? 6 cannot reach 5 on the chain —
    // absent from the sketch (no common landmark route)
    assert(!est.contains((6L, 8L)))
  }

  test("nodeSample keeps md5-decided nodes and induces rels on survivors") {
    import graft.ops.Sampling
    val g = broom
    assert(Sampling.nodeSample(g, 1.0).nodes.count() == g.nodes.count())
    assert(Sampling.nodeSample(g, 0.0).nodes.count() == 0)
    val s = Sampling.nodeSample(g, 0.5)
    val kept = s.nodes.select("id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < g.nodes.count())
    val rels = s.rels.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rels.forall { case (a, b) => kept(a) && kept(b) },
      "induced rels must connect kept nodes only")
    // deterministic: same decisions on a second call
    val again = Sampling.nodeSample(g, 0.5).nodes.select("id").collect()
      .map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("allPairsDistances: driver-local Dijkstra equals the distributed loop") {
    import graft.ops.WeightedPaths
    val edges = broom.rels.select(col("id"), col("src"), col("dst"),
      (lit(1.0) + col("src") % 3).as("weight"))
    val sources = broom.nodes.select(col("id").as("source"))
    val local = TestSession.withForcedDistributed(false)(
      WeightedPaths.allPairsDistances(edges, sources).collect())
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dist = TestSession.withForcedDistributed(true)(
      WeightedPaths.allPairsDistances(edges, sources).collect())
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(local == dist, "fast path must equal the distributed loop")
    assert(local((0L, 0L)) == 0.0, "diagonal present at cost 0")
    // both agree with the full path-carrying formulation
    val viaPaths = WeightedPaths.shortestPaths(edges, sources)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(local == viaPaths)
  }

  test("allSimplePaths enumerates node-unique paths and stops at the target") {
    // diamond with a tail and a back-edge: 0->1->3, 0->2->3, 3->4, 4->0
    val edges = Seq((10L, 0L, 1L), (11L, 0L, 2L), (12L, 1L, 3L),
      (13L, 2L, 3L), (14L, 3L, 4L), (15L, 4L, 0L)).toDF("id", "src", "dst")
    val paths = Bfs.allSimplePaths(edges, 0L, 4L, maxDepth = 6)
      .select("hops", "path").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSet
    // exactly the two diamond routes; the 4->0 back-edge creates a cycle
    // that node-uniqueness must never follow
    assert(paths == Set((3, List(10L, 12L, 14L)), (3, List(11L, 13L, 14L))))
    // undirected: still only simple paths, no oscillation
    val undirected = edges.unionByName(
      edges.select(col("id"), col("dst").as("src"), col("src").as("dst")))
    val u = Bfs.allSimplePaths(undirected, 0L, 3L, maxDepth = 4)
    // 0-1-3, 0-2-3, 0-4-3 (via back-edge reversed), 0-1-3? plus 4-hop
    // detours 0-2-3? ... assert count finite and all node-unique
    val rows = u.select("nodes").collect().map(_.getSeq[Long](0).toList)
    assert(rows.nonEmpty && rows.forall(ns => ns.distinct.size == ns.size))
    assert(rows.forall(_.last == 3L))
  }

  test("pathsWithLength finds exact-depth paths; allowLoops relaxes to rel-uniqueness") {
    import graft.functions.Procedures
    // diamond with a tail and a back-edge: 0->1->3, 0->2->3, 3->4, 4->0
    val g = graft.graph.PropertyGraph(
      Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
        .select(col("id"), array(lit("N")).as("labels")),
      Seq((10L, 0L, 1L), (11L, 0L, 2L), (12L, 1L, 3L),
        (13L, 2L, 3L), (14L, 3L, 4L), (15L, 4L, 0L))
        .toDF("id", "src", "dst").withColumn("type", lit("E")))
    val exact = Procedures.call(spark, g, "graft.pathsWithLength", 0L, 4L, 3L)
      .select("relIds").collect().map(_.getSeq[Long](0).toList).toSet
    assert(exact == Set(List(10L, 12L, 14L), List(11L, 13L, 14L)))
    // node-unique default: the 4-hop closed walks revisit the start — none
    assert(Procedures.call(spark, g, "graft.pathsWithLength", 0L, 0L, 4L)
      .count() == 0)
    // allowLoops (reference RELATIONSHIP_GLOBAL): both closed 4-hop trails
    // through the diamond count, each rel still used at most once
    val loops = Procedures.call(spark, g, "graft.pathsWithLength",
        0L, 0L, 4L, Seq("E"), "OUT", true)
      .select("relIds").collect().map(_.getSeq[Long](0).toList).toSet
    assert(loops == Set(List(10L, 12L, 14L, 15L), List(11L, 13L, 14L, 15L)))
  }

  test("astar equals dijkstra on a weighted grid and prunes off-goal states") {
    import graft.ops.WeightedPaths
    // 6x6 grid, right/down edges, weight 1 + small deterministic variation
    val w = 6
    val nodes = (0 until w * w).map(_.toLong)
    val right = nodes.filter(_ % w < w - 1).map(k => (1000 + k, k, k + 1, 1.0 + k % 3))
    val down = nodes.filter(_ < w * (w - 1)).map(k => (2000 + k, k, k + w, 1.0 + k % 5))
    val edges = (right ++ down).toDF("id", "src", "dst", "weight")
    val coords = nodes.map(k => (k, (k / w).toDouble, (k % w).toDouble))
      .toDF("id", "x", "y")
    val target = (w * w - 1).toLong
    val exact = WeightedPaths.shortestPaths(edges, Seq(0L).toDF("source"))
      .filter(col("node") === target).select("dist").collect()(0).getDouble(0)
    // default: the small-edge-set probe takes the driver-local PQ path
    val got = TestSession.withForcedDistributed(false)(
      WeightedPaths.astar(edges, coords, 0L, target)
        .select("dist", "path").collect()(0))
    assert(got.getDouble(0) == exact)
    assert(got.getSeq[Long](1).size == 2 * (w - 1)) // all grid paths: 10 hops
    // the forced distributed frontier loop returns the identical
    // deterministic tie-break
    val dist = TestSession.withForcedDistributed(true)(
      WeightedPaths.astar(edges, coords, 0L, target)
        .select("dist", "path").collect()(0))
    assert(dist.getDouble(0) == got.getDouble(0))
    assert(dist.getSeq[Long](1) == got.getSeq[Long](1))
  }
}
