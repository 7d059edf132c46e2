package graft

import graft.graph.Direction
import graft.ops.{Bfs, VarExpand}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VarExpand / pruning BFS / shortest-path / connected-components golden
  * tests on chain, circle and grid fixtures (reference
  * VarLengthExpandTestBase, PruningVarLengthExpandTestBase shapes). */
class VarExpandBfsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("varExpand enumerates bounded paths on a chain") {
    val g = GraphFixtures.chainGraph(spark, 5) // 0->1->2->3->4
    val start = spark.createDataFrame(Seq(Tuple1(0L))).toDF("s")
    val out = VarExpand.varExpand(g, start, "s", Seq("T"), Direction.Out, 1, 3)
    // from 0: depth1 -> 1, depth2 -> 2, depth3 -> 3
    assert(out.select("end", "depth").collect().map(r => (r.getLong(0), r.getInt(1))).toSet ===
      Set((1L, 1), (2L, 2), (3L, 3)))
  }

  test("varExpand minHops=0 includes the start node") {
    val g = GraphFixtures.chainGraph(spark, 3)
    val start = spark.createDataFrame(Seq(Tuple1(0L))).toDF("s")
    val out = VarExpand.varExpand(g, start, "s", Seq("T"), Direction.Out, 0, 1)
    assert(out.select("end", "depth").collect().map(r => (r.getLong(0), r.getInt(1))).toSet ===
      Set((0L, 0), (1L, 1)))
  }

  test("varExpand enforces relationship uniqueness on undirected traversal") {
    // circle of 3, direction Both: without rel-uniqueness a walk could
    // bounce back over the same rel (0-1-0); Cypher forbids reusing a rel
    // within one path (AddUniquenessPredicates semantics).
    val g = GraphFixtures.circleGraph(spark, 3)
    val start = spark.createDataFrame(Seq(Tuple1(0L))).toDF("s")
    val out = VarExpand.varExpand(g, start, "s", Seq("T"), Direction.Both, 2, 2)
    val ends = out.select("end").collect().map(_.getLong(0)).sorted
    // 2-hop paths from 0 without reusing a rel: 0->1->2 and 0<-2<-1 — never
    // back to 0 or bounce-back to itself via the same rel
    assert(ends === Array(1L, 2L))
  }

  test("varExpand allows revisiting a NODE via different rels") {
    // parallel edges: two distinct rels between 0 and 1 — node revisit OK
    val g = GraphFixtures.graph(spark,
      Seq((0L, Seq("N"), "a"), (1L, Seq("N"), "b")),
      Seq((100L, 0L, 1L, "T"), (101L, 0L, 1L, "T")))
    val start = spark.createDataFrame(Seq(Tuple1(0L))).toDF("s")
    val out = VarExpand.varExpand(g, start, "s", Seq("T"), Direction.Both, 2, 2)
    // 0-[100]-1-[101]-0 and 0-[101]-1-[100]-0: both end at 0, length 2
    assert(out.select("end").collect().map(_.getLong(0)).toSeq === Seq(0L, 0L))
  }

  test("BFS distances on grid match manhattan distance") {
    val g = GraphFixtures.gridGraph(spark, 4, 4)
    val sources = spark.createDataFrame(Seq(Tuple1(0L))).toDF("source")
    val d = Bfs.distances(GraphFixtures.edges(g), sources, 10)
    val got = d.collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    for (r <- 0 until 4; c <- 0 until 4)
      assert(got((r * 4 + c).toLong) === r + c, s"node ($r,$c)")
    // a null source yields no rows, like a null edge endpoint
    val withNull = spark.createDataFrame(Seq(Tuple1(Option(0L)),
      Tuple1(Option.empty[Long]))).toDF("source")
    assert(Bfs.distances(GraphFixtures.edges(g), withNull, 10)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap === got)
    // a non-null id that does not cast to LONG fails with a named error
    // instead of silently dropping its edge
    val badEdges = GraphFixtures.edges(g)
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .unionByName(spark.createDataFrame(Seq(("0", "x1"))).toDF("src", "dst"))
    val err = intercept[Exception] {
      Bfs.distances(badEdges, sources, 10).collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage)
        .contains("distances: id not castable to LONG: x1")), err.toString)
  }

  test("pruningExpand returns distinct nodes only, within hop bounds") {
    val g = GraphFixtures.gridGraph(spark, 3, 3)
    val sources = spark.createDataFrame(Seq(Tuple1(0L))).toDF("source")
    val out = Bfs.pruningExpand(GraphFixtures.edges(g), sources, 1, 2)
    // manhattan dist 1: (0,1),(1,0); dist 2: (0,2),(1,1),(2,0)
    assert(out.select("node").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 2L, 4L, 6L))
  }

  test("shortestPathLengths finds pair distances with early frontier stop") {
    val g = GraphFixtures.chainGraph(spark, 6)
    val pairs = spark.createDataFrame(Seq((0L, 4L), (1L, 2L))).toDF("source", "target")
    val out = Bfs.shortestPathLengths(GraphFixtures.edges(g), pairs, 10)
    assert(out.select("source", "target", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((0L, 4L, 4), (1L, 2L, 1)))
  }

  test("connectedComponents labels two disjoint circles") {
    val c1 = GraphFixtures.circleGraph(spark, 4)
    // second circle on ids 10..13
    val g2 = GraphFixtures.graph(spark,
      (10L to 13L).map(i => (i, Seq("N"), s"n$i")),
      (10L to 13L).map(i => (200 + i, i, if (i == 13) 10L else i + 1, "T")))
    val edges = GraphFixtures.edges(c1).unionByName(GraphFixtures.edges(g2))
    val comp = Bfs.connectedComponents(edges)
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(m(_) == 0L))
    assert((10L to 13L).forall(m(_) == 10L))
  }

  test("earliestArrival respects time: late arrivals block earlier edges") {
    import spark.implicits._
    // 1 -(t5)-> 2 -(t3)-> 3: the 2->3 edge departs BEFORE arrival at 2,
    // so that route is closed; 1 -(t1)-> 4 -(t2)-> 5 chains fine; a
    // second, later 2 -(t9)-> 3 edge opens node 3 at t9
    val e = Seq((1L, 2L, 5L), (2L, 3L, 3L), (1L, 4L, 1L), (4L, 5L, 2L),
      (2L, 3L, 9L)).toDF("src", "dst", "ts")
    val r = TestSession.withForcedDistributed(false)(
      Bfs.earliestArrival(e, Seq(1L).toDF("source")).collect())
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r == Map(1L -> 0L, 2L -> 5L, 3L -> 9L, 4L -> 1L, 5L -> 2L), s"$r")
    // a start instant after every edge reaches nothing
    val late = TestSession.withForcedDistributed(false)(
      Bfs.earliestArrival(e, Seq((1L, 100L)).toDF("source", "t0")).collect())
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(late == Map(1L -> 100L), s"$late")
    // the forced distributed loop must agree exactly
    val dist = TestSession.withForcedDistributed(true)(
      Bfs.earliestArrival(e, Seq(1L).toDF("source")).collect())
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(dist == Map(1L -> 0L, 2L -> 5L, 3L -> 9L, 4L -> 1L, 5L -> 2L), s"$dist")
  }
}
