package graft

import graft.ops.Ranking
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank / triangle counting golden tests on hand-computed graphs. */
class RankingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("pageRank on a DAG matches the closed form") {
    // a -> b, c -> b, b -> d  (d = 0.85)
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val r = Ranking.pageRank(edges, iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.15) < 1e-9)
    assert(math.abs(r(3L) - 0.15) < 1e-9)
    val b = 0.15 + 0.85 * (0.15 + 0.15)
    assert(math.abs(r(2L) - b) < 1e-9)
    assert(math.abs(r(4L) - (0.15 + 0.85 * b)) < 1e-9)
  }

  test("weightedPageRank distributes by out-weight, not out-degree") {
    // 1 -> 2 (w 3), 1 -> 3 (w 1): node 1 keeps rank 0.15, and 3/4 of its
    // contribution goes to node 2
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0)).toDF("src", "dst", "weight")
    val r = Ranking.weightedPageRank(edges, iterations = 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.15) < 1e-9)
    assert(math.abs(r(2L) - (0.15 + 0.85 * 0.15 * 3.0 / 4.0)) < 1e-9)
    assert(math.abs(r(3L) - (0.15 + 0.85 * 0.15 * 1.0 / 4.0)) < 1e-9)
    // uniform weights reduce to plain pageRank
    val uni = Ranking.weightedPageRank(
      Seq((1L, 2L, 1.0), (1L, 3L, 1.0)).toDF("src", "dst", "weight"),
      iterations = 3).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val plain = Ranking.pageRank(
      Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"),
      iterations = 3).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    uni.foreach { case (k, v) => assert(math.abs(v - plain(k)) < 1e-9) }
  }

  test("pageRank split contributions divide by out-degree") {
    // hub 1 -> {2, 3}: each sink gets rank(1)/2
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = Ranking.pageRank(edges, iterations = 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(2L) - (0.15 + 0.85 * 0.075)) < 1e-9)
    assert(r(2L) == r(3L))
  }

  test("pageRank on a 2-cycle converges toward 1.0") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    var expected = 0.15
    (1 to 20).foreach(_ => expected = 0.15 + 0.85 * expected)
    val r = Ranking.pageRank(edges, iterations = 20).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - expected) < 1e-9 && math.abs(r(2L) - expected) < 1e-9)
  }

  test("triangles enumerates each triangle once, any edge orientation") {
    // triangle 1-2-3 (mixed directions) + dangling edge 3-4
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val t = Ranking.triangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t.toSeq == Seq((1L, 2L, 3L)))
    val counts = Ranking.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("label propagation converges cliques to their minimum id") {
    // two disjoint cliques; sync LPA stabilizes each at its min label
    // within 2 rounds (round 1: non-min nodes adopt the min; round 2:
    // the min node follows)
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L)))
      .toDF("src", "dst")
    val labels = Ranking.labelPropagation(edges, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L), s"got $labels")
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L), s"got $labels")
  }

  test("two shared-edge triangles count separately") {
    // 1-2-3 and 1-2-4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (1L, 4L))
      .toDF("src", "dst")
    assert(Ranking.triangles(edges).count() == 2)
    val counts = Ranking.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  /** Ring of `q` cliques of size `s` (nodes 0 .. q*s-1): all intra-clique
    * pairs plus one bridge from each clique's last node to the next
    * clique's first. */
  private def ringOfCliques(q: Int, s: Int) = {
    val n = q * s
    val intra = for {
      c <- 0 until q; i <- 0 until s; j <- i + 1 until s
    } yield (c * s + i.toLong, c * s + j.toLong)
    val bridges = (0 until q).map(c =>
      ((c * s + s - 1).toLong, ((c + 1) * s % n).toLong))
    (intra ++ bridges).toDF("src", "dst")
  }

  test("louvain recovers the cliques on a ring of cliques") {
    val got = Ranking.louvain(ringOfCliques(8, 5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40)
    (0 until 40).foreach(n => assert(got(n.toLong) == (n / 5) * 5,
      s"node $n in community ${got(n.toLong)}"))
  }

  test("louvain is deterministic across runs") {
    val e = ringOfCliques(6, 4)
    val a = Ranking.louvain(e).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = Ranking.louvain(e).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
  }

  test("louvain distributed rounds agree with the local fast path") {
    val e = ringOfCliques(7, 5)
    val local = TestSession.withForcedDistributed(false)(
      Ranking.louvain(e).collect()).map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = TestSession.withForcedDistributed(true)(
      Ranking.louvain(e).collect()).map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local.sameElements(dist),
      s"local=${local.take(10).toSeq}… dist=${dist.take(10).toSeq}…")
  }

  test("louvain contraction merges sub-communities across levels") {
    // two 4-cliques joined by TWO bridges, far apart from another pair:
    // level-2 contraction must still leave the 4-cliques separate (single
    // pair of bridges never outweighs clique cohesion at this size), and
    // every node lands with its clique
    val got = Ranking.louvain(ringOfCliques(4, 6)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 24).foreach(n => assert(got(n.toLong) == (n / 6) * 6))
  }

  test("modularity matches the hand-computed Q of a clique partition") {
    // ring of 4 cliques of 5: m = 4*10+4 = 44, per clique L = 10 (+1
    // bridge out, 1 in): D = 5*4 + 2 = 22
    val edges = ringOfCliques(4, 5)
    val assign = (0 until 20).map(n => (n.toLong, (n / 5 * 5).toLong))
      .toDF("node", "community")
    val row = Ranking.modularity(edges, assign).first()
    val m = 44.0
    val expected = 4 * (10.0 / m - math.pow(22.0 / (2 * m), 2))
    assert(math.abs(row.getDouble(0) - math.rint(expected * 1e6) / 1e6) < 1e-9)
    assert(row.getLong(1) == 4L)
  }

  test("modularity of the all-in-one partition is zero") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val assign = Seq((0L, 0L), (1L, 0L), (2L, 0L)).toDF("node", "community")
    val row = Ranking.modularity(edges, assign).first()
    assert(math.abs(row.getDouble(0)) < 1e-9)
  }
}
