package graft

import graft.ops.{Trail, WeightedPaths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for Trail (QPP group variables) and WeightedPaths
  * (Dijkstra semantics) on the reference's fixture shapes
  * (runtime-spec-suite GraphCreation.scala: chain/circle). */
class TrailPathsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def starts(ids: Long*) = {
    import spark.implicits._
    ids.toDF("start")
  }

  test("trail on a chain collects node and rel groups per iteration count") {
    val g = GraphFixtures.chainGraph(spark, 6)
    val rows = Trail.trail(g.rels.select("id", "src", "dst"), starts(0L), "start", 1, Some(3))
      .select(col("hops"), col("end"),
        array_join(col("trail_nodes"), ",").as("ns"),
        array_join(col("trail_rels"), ",").as("rs"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1, 1L, "0,1", "100"),
      (2, 2L, "0,1,2", "100,101"),
      (3, 3L, "0,1,2,3", "100,101,102")))
  }

  test("trail min=0 emits the zero-length path") {
    val g = GraphFixtures.chainGraph(spark, 3)
    val zero = Trail.trail(g.rels.select("id", "src", "dst"), starts(0L), "start", 0, Some(1))
      .filter(col("hops") === 0).collect()
    assert(zero.length == 1 && zero(0).getAs[Long]("end") == 0L &&
      zero(0).getSeq[Long](zero(0).fieldIndex("trail_rels")).isEmpty)
  }

  test("trail enforces relationship uniqueness (circle terminates)") {
    val g = GraphFixtures.circleGraph(spark, 4)
    val rows = Trail.trail(g.rels.select("id", "src", "dst"), starts(0L), "start", 1, Some(8))
      .select("hops").collect().map(_.getInt(0)).sorted
    // a 4-circle admits trails of 1..4 hops from node 0, then every rel is
    // used — levels 5..8 must be empty
    assert(rows.toSeq == Seq(1, 2, 3, 4))
  }

  test("trail equals exhaustive enumeration on random cyclic multigraphs") {
    import graft.graph.Direction
    val bounds = Seq((0, Some(1)), (1, Some(3)), (2, Some(2)), (2, None))
    for (seed <- 0 until 4) {
      val (n, all) = TrailOracle.cyclicMultigraph(new scala.util.Random(seed))
      val nodes = (0L until n).map(i => (i, Seq("N"), s"n$i"))
      for ((min, max) <- bounds) {
        // exhaustive enumeration of every unbounded trail stays small only
        // on a prefix of the edge list
        val edges = if (max.isEmpty) all.take(8) else all
        val g = GraphFixtures.graph(spark, nodes,
          edges.map { case (id, s, d) => (id, s, d, "T") })
        val reversed = edges.map { case (id, s, d) => (id, d, s) }
        // undirected: a self-loop has one orientation, so it is walked once
        val both = edges ++ reversed.filter { case (_, s, d) => s != d }
        for ((dir, oriented) <- Seq(Direction.Out -> edges,
            Direction.In -> reversed, Direction.Both -> both)) {
          val want = (0L until n).flatMap(s =>
            TrailOracle.trails(oriented, s, max.getOrElse(edges.size))
              .filter(_._2 >= min)
              .map { case (end, hops, rs, ns) => (s, end, hops, rs, ns) })
          for (withNodes <- Seq(true, false)) {
            val df = Trail.trail(g.orientTyped(Seq("T"), dir),
              starts(0L until n: _*), "start", min, max,
              nodesAlias = if (withNodes) Some("ns") else None)
            assert(df.columns.toSeq == Seq("start", "end") ++
              (if (withNodes) Seq("ns") else Nil) ++ Seq("trail_rels", "hops"))
            val got = df.collect().map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"),
                r.getAs[Int]("hops"), r.getAs[Seq[Long]]("trail_rels").toVector,
                if (withNodes) r.getAs[Seq[Long]]("ns").toVector
                else Vector.empty[Long]))
            val expect = want.map(t => if (withNodes) t else t.copy(_5 = Vector.empty[Long]))
            assert(got.map(_.toString).sorted.toSeq == expect.map(_.toString).sorted,
              s"seed=$seed dir=$dir bounds=$min..${max.getOrElse("")} nodes=$withNodes")
          }
        }
      }
    }
  }

  private def weightedEdges(rows: Seq[(Long, Long, Long, Double)]) = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("src", LongType),
      StructField("dst", LongType), StructField("weight", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3, t._4)), 2), schema)
  }

  private def sources(ids: Long*) = {
    import spark.implicits._
    ids.toDF("source")
  }

  test("weighted shortest picks min total weight, not min hops") {
    // 0 -> 3 direct (weight 10) vs 0 -> 1 -> 2 -> 3 (weight 3)
    val e = weightedEdges(Seq(
      (100L, 0L, 3L, 10.0), (101L, 0L, 1L, 1.0),
      (102L, 1L, 2L, 1.0), (103L, 2L, 3L, 1.0)))
    val r = WeightedPaths.shortestPaths(e, sources(0L), maxIter = 10)
      .filter(col("node") === 3).collect()(0)
    assert(r.getAs[Double]("dist") == 3.0)
    assert(r.getSeq[Long](r.fieldIndex("path")) == Seq(101L, 102L, 103L))
  }

  test("equal-weight tie resolves to lexicographically smallest edge ids") {
    // two paths 0->3 both weight 2: via 1 (edges 100,101) and via 2 (102,103)
    val e = weightedEdges(Seq(
      (100L, 0L, 1L, 1.0), (101L, 1L, 3L, 1.0),
      (102L, 0L, 2L, 1.0), (103L, 2L, 3L, 1.0)))
    val r = WeightedPaths.shortestPaths(e, sources(0L), maxIter = 10)
      .filter(col("node") === 3).collect()(0)
    assert(r.getSeq[Long](r.fieldIndex("path")) == Seq(100L, 101L))
  }

  test("multi-source batch computes per-source distances") {
    val g = GraphFixtures.chainGraph(spark, 5)
    val e = g.rels.select(col("id"), col("src"), col("dst"), lit(2.0).as("weight"))
    val rows = WeightedPaths.shortestPaths(e, sources(0L, 2L), maxIter = 10)
      .select("source", "node", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows((0L, 4L, 8.0)) && rows((2L, 4L, 4.0)) && rows((2L, 2L, 0.0)))
  }

  test("shortestK returns the k shortest trails per pair, deterministic ties") {
    import spark.implicits._
    val edges = Seq((100L, 0L, 1L), (101L, 0L, 2L), (102L, 1L, 3L),
      (103L, 2L, 3L), (105L, 0L, 3L)).toDF("id", "src", "dst")
    val pairs = Seq((0L, 3L)).toDF("source", "target")
    val got = graft.ops.Trail.shortestK(edges, pairs, k = 3, maxDepth = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(r.fieldIndex("rank")),
        r.getSeq[Long](r.fieldIndex("path"))))
    assert(got.toSeq == Seq(
      (1, Seq(105L)),          // 1 hop
      (2, Seq(100L, 102L)),    // 2 hops, smaller rel ids
      (3, Seq(101L, 103L))))   // 2 hops, larger rel ids
  }

  test("shortestKSegments walks a typed segment concatenation (linear NFA)") {
    import spark.implicits._
    import graft.ops.Trail.PathSegment
    // X edges: 0->1->2; Y edges: 2->3, 1->3; pattern [:X*1..2][:Y*1..1]
    val x = Seq((100L, 0L, 1L), (101L, 1L, 2L)).toDF("id", "src", "dst")
    val y = Seq((200L, 2L, 3L), (201L, 1L, 3L)).toDF("id", "src", "dst")
    val pairs = Seq((0L, 3L)).toDF("source", "target")
    val got = graft.ops.Trail.shortestKSegments(
      Seq(PathSegment(x, 1, 2), PathSegment(y, 1, 1)), pairs, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(r.fieldIndex("rank")), r.getInt(r.fieldIndex("hops")),
        r.getSeq[Long](r.fieldIndex("path"))))
    assert(got.toSeq == Seq(
      (1, 2, Seq(100L, 201L)),        // 1 X-hop then Y
      (2, 3, Seq(100L, 101L, 200L)))) // 2 X-hops then Y
  }

  test("shortestKSegments boundary restricts where a segment may end") {
    import spark.implicits._
    import graft.ops.Trail.PathSegment
    // X edges: 0->1, 0->2; Y edges: 1->3, 2->3. Boundary {1} on the X
    // segment: only the path through node 1 may advance into Y.
    val x = Seq((100L, 0L, 1L), (101L, 0L, 2L)).toDF("id", "src", "dst")
    val y = Seq((200L, 1L, 3L), (201L, 2L, 3L)).toDF("id", "src", "dst")
    val bnd = Seq(Tuple1(1L)).toDF("id")
    val pairs = Seq((0L, 3L)).toDF("source", "target")
    val got = graft.ops.Trail.shortestKSegments(
      Seq(PathSegment(x, 1, 1, Some(bnd)), PathSegment(y, 1, 1)), pairs, k = 3)
      .collect().map(r => r.getSeq[Long](r.fieldIndex("path")))
    assert(got.toSeq == Seq(Seq(100L, 200L))) // via node 1 only
  }

  test("shortestKSegmentsTo searches unbound targets without a pair seed") {
    import spark.implicits._
    import graft.ops.Trail.PathSegment
    val x = Seq((100L, 0L, 1L), (101L, 1L, 2L), (102L, 1L, 3L)).toDF("id", "src", "dst")
    val sources = Seq(Tuple1(0L)).toDF("source")
    val targets = Seq(Tuple1(2L), Tuple1(3L)).toDF("target")
    val got = graft.ops.Trail.shortestKSegmentsTo(
      Seq(PathSegment(x, 1, 2)), sources, Some(targets), k = 1)
      .orderBy("target").collect()
      .map(r => (r.getLong(r.fieldIndex("target")), r.getInt(r.fieldIndex("hops"))))
    assert(got.toSeq == Seq((2L, 2), (3L, 2)))
  }

  test("shortestKSegments skips min-0 segments (epsilon closure)") {
    import spark.implicits._
    import graft.ops.Trail.PathSegment
    val x = Seq((100L, 0L, 1L)).toDF("id", "src", "dst")
    val y = Seq((200L, 0L, 5L), (201L, 1L, 5L)).toDF("id", "src", "dst")
    val pairs = Seq((0L, 5L)).toDF("source", "target")
    val got = graft.ops.Trail.shortestKSegments(
      Seq(PathSegment(x, 0, 1), PathSegment(y, 1, 1)), pairs, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(r.fieldIndex("rank")),
        r.getSeq[Long](r.fieldIndex("path"))))
    // X segment is skippable: direct Y edge 0->5 ranks first (1 hop)
    assert(got.toSeq == Seq((1, Seq(200L)), (2, Seq(100L, 201L))))
  }

  test("shortestKSegments enforces rel uniqueness across segments") {
    import spark.implicits._
    import graft.ops.Trail.PathSegment
    // shared edge set in both segments: edge 100 cannot be reused
    val e = Seq((100L, 0L, 1L), (101L, 1L, 0L)).toDF("id", "src", "dst")
    val pairs = Seq((0L, 1L)).toDF("source", "target")
    val got = graft.ops.Trail.shortestKSegments(
      Seq(PathSegment(e, 1, 2), PathSegment(e, 1, 2)), pairs, k = 5)
      .collect().map(r => r.getSeq[Long](r.fieldIndex("path")))
    // only 0->1->0->1 would need edge 100 twice → the sole 2-seg trail is
    // impossible beyond the 100,101,100 reuse; valid: [100,101,100]? no —
    // uniqueness forbids it; valid result: [100] consumed by seg1 and seg2
    // must still move ≥1 → no trail of that shape … except seg1=[100],
    // seg2 needs an edge from 1: only 101 (to 0) ≠ target → nothing; and
    // seg1=[100,101] (back at 0), seg2 from 0: only 100 — already used.
    assert(got.isEmpty)
  }

  test("kCheapest ranks by cost then path, not by hops") {
    import spark.implicits._
    // 0->3 three ways: direct edge cost 10 (1 hop), via 1 cost 2+3=5
    // (2 hops), via 2 cost 1+1=2 (2 hops) — cheapest is the 2-hop path
    val e = Seq(
      (100L, 0L, 3L, 10.0),
      (101L, 0L, 1L, 2.0), (102L, 1L, 3L, 3.0),
      (103L, 0L, 2L, 1.0), (104L, 2L, 3L, 1.0)
    ).toDF("id", "src", "dst", "weight")
    val pairs = Seq((0L, 3L)).toDF("source", "target")
    val got = WeightedPaths.kCheapest(e, pairs, k = 3, maxDepth = 4)
      .orderBy("rank").collect()
      .map(r => (r.getDouble(r.fieldIndex("dist")),
        r.getSeq[Long](r.fieldIndex("path")).toList, r.getInt(r.fieldIndex("rank"))))
    assert(got.toList == List(
      (2.0, List(103L, 104L), 1),
      (5.0, List(101L, 102L), 2),
      (10.0, List(100L), 3)))
  }

  test("kCheapest local fast path replicates the distributed DP exactly") {
    import spark.implicits._
    // diamond with a cycle back-edge so trails can revisit nodes
    val e = Seq(
      (100L, 0L, 1L, 1.0), (101L, 1L, 2L, 1.0), (102L, 2L, 0L, 1.0),
      (103L, 0L, 2L, 2.5), (104L, 2L, 3L, 0.5), (105L, 1L, 3L, 4.0)
    ).toDF("id", "src", "dst", "weight")
    val pairs = Seq((0L, 3L)).toDF("source", "target")
    def run(forced: Boolean) = TestSession.withForcedDistributed(forced)(
      WeightedPaths.kCheapest(e, pairs, k = 4, maxDepth = 6).collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getSeq[Long](4).toList, r.getInt(5))).sortBy(_._6)
    assert(run(false).toList == run(true).toList)
  }

  test("shortestGroups keeps whole length-groups and both paths agree") {
    import spark.implicits._
    // 4-cycle with both orientations: 0 -> 2 trails have lengths 2 (two
    // of them) and 4 — SHORTEST 1 GROUPS returns exactly the two 2-hop
    // paths, SHORTEST 2 GROUPS adds every 4-hop trail
    val e = Seq(
      (100L, 0L, 1L), (101L, 1L, 2L), (102L, 2L, 3L), (103L, 3L, 0L),
      (200L, 1L, 0L), (201L, 2L, 1L), (202L, 3L, 2L), (203L, 0L, 3L)
    ).toDF("id", "src", "dst")
    val pairs = Seq((0L, 2L)).toDF("source", "target")
    def run(forced: Boolean) = TestSession.withForcedDistributed(forced)(
      graft.ops.Trail.shortestGroups(e, pairs, k = 2, min = 1, maxDepth = 5)
        .collect())
      .map(r => (r.getInt(r.fieldIndex("hops")),
        r.getSeq[Long](r.fieldIndex("path")).toList,
        r.getInt(r.fieldIndex("group")))).sortBy(x => (x._1, x._2.mkString(",")))
    val local = run(false)
    assert(local.count(_._1 == 2) == 2, s"got ${local.toList}")
    assert(local.forall(x => (x._1 == 2) == (x._3 == 1)))
    val one = TestSession.withForcedDistributed(false)(
      graft.ops.Trail.shortestGroups(e, pairs, k = 1, min = 1, maxDepth = 5)
        .collect()).map(r => r.getInt(r.fieldIndex("hops"))).toSeq
    assert(one.sorted == Seq(2, 2), s"got $one")
    assert(local.toList == run(true).toList, "local and distributed disagree")
  }

  test("shortestGroups budget slack keeps groups behind dead-end arrivals") {
    import spark.implicits._
    // ADVICE counterexample: s=0 -> v=1, v -> t=2, t -> v, plus a 5-edge
    // path s -> 10..13 -> v. v's arrival depths are 1, 3 (via s->v,v->t,
    // t->v — a prefix that already consumed v->t and cannot extend) and
    // 5; a bare k+min-1 = 2 budget prunes the depth-5 arrival and loses
    // the unique length-6 trail to t. True group lengths: {2, 6}.
    val e = Seq(
      (100L, 0L, 1L), (101L, 1L, 2L), (102L, 2L, 1L),
      (110L, 0L, 10L), (111L, 10L, 11L), (112L, 11L, 12L),
      (113L, 12L, 13L), (114L, 13L, 1L)
    ).toDF("id", "src", "dst")
    val pairs = Seq((0L, 2L)).toDF("source", "target")
    TestSession.bothPlacements { forced => // local replica AND distributed rounds
      val hops = graft.ops.Trail.shortestGroups(e, pairs, k = 2,
          min = 1, maxDepth = 8)
        .collect().map(r => r.getInt(r.fieldIndex("hops"))).toSeq.sorted
      assert(hops == Seq(2, 6), s"forced=$forced got $hops")
    }
  }

  test("shortestGroupsSegments: alternation branches + interior predicate") {
    import spark.implicits._
    // leg 1 alternation: direct edge 0->1 (len 1) or two-hop 0->5->1
    // (len 2); interior boundary {1}; leg 2: 1->2 (len 1). Groups to 2:
    // lengths {2, 3}
    val leg1a = Seq((300L, 0L, 1L)).toDF("id", "src", "dst")
      .select(col("src").as("__es"), col("dst").as("__ed"),
        array(col("id")).as("__ers"), array(col("dst")).as("__ens"),
        lit(1).as("__elen"))
    val leg1b = Seq((301L, 0L, 5L), (302L, 5L, 1L)).toDF("id", "src", "dst")
    val leg1bComp = leg1b.alias("x").join(leg1b.alias("y"),
        col("x.dst") === col("y.src") && col("x.src") === 0L)
      .select(col("x.src").as("__es"), col("y.dst").as("__ed"),
        array(col("x.id"), col("y.id")).as("__ers"),
        array(col("x.dst"), col("y.dst")).as("__ens"), lit(2).as("__elen"))
    val leg2 = Seq((400L, 1L, 2L)).toDF("id", "src", "dst")
    val boundary = Seq(1L).toDF("id")
    val segs = Seq(
      graft.ops.Trail.PathSegment(leg1a.unionByName(leg1bComp), 1, 1,
        Some(boundary), composite = true),
      graft.ops.Trail.PathSegment(leg2, 1, 1))
    val r = graft.ops.Trail.shortestGroupsSegments(segs,
        Seq((0L, 2L)).toDF("source", "target"), k = 2)
      .collect().map(x => (x.getInt(x.fieldIndex("hops")),
        x.getInt(x.fieldIndex("group")))).sorted
    assert(r.toSeq == Seq((2, 1), (3, 2)), s"got ${r.toList}")
  }

  test("astarAlt is exact under landmark pruning (distributed path)") {
    import spark.implicits._
    // cheap chain 0->..->5 (weight 1) with expensive detours i -> 100+i
    // -> 5 (weight 50 each); landmark = the target itself, so h is the
    // exact remaining distance and detour frontier rows prune once the
    // chain completes
    val chain = (0L until 5L).map(i => (10 + i, i, i + 1, 1.0))
    val detours = (0L until 5L).flatMap(i => Seq(
      (100 + i, i, 100 + i, 50.0), (200 + i, 100 + i, 5L, 50.0)))
    val e = (chain ++ detours).toDF("id", "src", "dst", "weight")
    val (toL, fromL) = graft.ops.Landmarks.build(e, Seq(5L))
    val plain = WeightedPaths.shortestPathsTo(e,
        Seq((0L, 5L)).toDF("source", "target"))
      .collect().map(r => (r.getDouble(r.fieldIndex("dist")),
        r.getSeq[Long](r.fieldIndex("path")).toList))
    TestSession.bothPlacements { forced =>
      val alt = WeightedPaths.astarAlt(e, toL, fromL, 0L, 5L)
        .collect().map(r => (r.getDouble(2), r.getSeq[Long](3).toList))
      assert(alt.toList == plain.toList,
        s"forced=$forced alt=${alt.toList} plain=${plain.toList}")
      assert(alt.head._1 == 5.0 && alt.head._2 == (10L to 14L).toList)
    }
  }

  test("kCheapest breaks cost ties by the lexicographic edge path") {
    import spark.implicits._
    // two equal-cost 0->2 paths; the smaller first-edge id ranks first
    val e = Seq(
      (200L, 0L, 1L, 1.0), (201L, 1L, 2L, 1.0),
      (300L, 0L, 4L, 1.0), (301L, 4L, 2L, 1.0)
    ).toDF("id", "src", "dst", "weight")
    val pairs = Seq((0L, 2L)).toDF("source", "target")
    val got = WeightedPaths.kCheapest(e, pairs, k = 2, maxDepth = 3)
      .orderBy("rank").collect()
      .map(r => r.getSeq[Long](r.fieldIndex("path")).toList)
    assert(got.toList == List(List(200L, 201L), List(300L, 301L)))
  }

  test("segment search: driver-local fast path equals the distributed rounds") {
    import spark.implicits._
    import graft.ops.Trail.PathSegment
    // pseudo-random 12-node multigraph with cycles and parallel edges
    val rnd = new scala.util.Random(7)
    val es = (0 until 40).map(i =>
      (1000L + i, rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val edges = es.toDF("id", "src", "dst")
    // a composite segment (alternation-branch shape): 1-rel pieces plus
    // 2-rel pieces, like the planner emits for (-[:E]-()|-[:E]-()-[:E]-())
    val one = es.map { case (i, a, b) => (a, b, Seq(i), Seq(b), 1) }
    val two = for {
      (i, a, b) <- es; (j, c, d) <- es if b == c && i != j
    } yield (a, d, Seq(i, j), Seq(b, d), 2)
    val comp = (one ++ two).toDF("__es", "__ed", "__ers", "__ens", "__elen")
    val bnd = (0 until 12 by 2).map(i => Tuple1(i.toLong)).toDF("id")
    val pairs = (0 until 4).flatMap(sx => (6 until 10).map(t =>
      (sx.toLong, t.toLong))).toDF("source", "target")
    def canon(forced: Boolean)(df: => org.apache.spark.sql.DataFrame): Seq[String] =
      TestSession.withForcedDistributed(forced)(df.collect())
        .map(_.toString).sorted.toSeq

    val segsK = Seq(PathSegment(edges, 1, 2, Some(bnd)),
      PathSegment(edges, 0, 2))
    assert(canon(false)(graft.ops.Trail.shortestKSegments(segsK, pairs, k = 3)) ==
      canon(true)(graft.ops.Trail.shortestKSegments(segsK, pairs, k = 3)))

    val segsG = Seq(PathSegment(comp, 1, 2, Some(bnd), composite = true),
      PathSegment(edges, 1, 2))
    assert(canon(false)(graft.ops.Trail.shortestGroupsSegments(segsG, pairs, k = 2)) ==
      canon(true)(graft.ops.Trail.shortestGroupsSegments(segsG, pairs, k = 2)))
  }
}
