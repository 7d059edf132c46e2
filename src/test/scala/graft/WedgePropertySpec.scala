package graft

import graft.ops.{Centrality, Ranking}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test: the wedge kernel's operators — triangles, per-node
  * triangle counts, clustering coefficients, k-truss, truss decomposition
  * and node similarity — and the core decomposition and k-core against
  * driver-side references on seeded random multigraphs: self-loops, parallel and reversed edges, negative ids, a
  * hub above a small fanout cap, more partitions than nodes, and a
  * similarity tie that only exists after rounding. Rows are compared
  * exactly. */
class WedgePropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // node ids that spread over the partitions, negative ones included
  private val ids = Vector(0L, 7L, -3L, 1L << 40, 42L, 5L, 1000003L, -11L)
  private val hub = 77L

  private case class Sample(edges: List[(Long, Long)], partitions: Int, topK: Int,
      fanoutCap: Int)

  private val genSample: Gen[Sample] = for {
    n <- Gen.choose(2, ids.size)
    m <- Gen.choose(1, 22)
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(0, n - 1)
      d <- Gen.choose(0, n - 1)
    } yield (ids(s), ids(d)))
    // parallel and reversed copies of a prefix, and a hub most nodes point to
    dup <- Gen.choose(0, 3)
    rev <- Gen.choose(0, 3)
    fans <- Gen.someOf(ids.take(n))
    partitions <- Gen.oneOf(1, 3, 8)
    topK <- Gen.oneOf(1, 2, 5)
    fanoutCap <- Gen.oneOf(2, 3, 100000)
  } yield Sample(edges ++ edges.take(dup) ++ edges.take(rev).map(_.swap) ++
    fans.map((_, hub)), partitions, topK, fanoutCap)

  private def sample(i: Int): Sample =
    genSample(Gen.Parameters.default, Seed(i.toLong)).get

  private def df(edges: Seq[(Long, Long)], partitions: Int): DataFrame =
    edges.toDF("src", "dst").repartition(partitions)

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The undirected simple graph: each node's neighbours, self-loops
    * dropped. */
  private def simple(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }

  private def triangles(adj: Map[Long, Set[Long]]): Seq[(Long, Long, Long)] =
    for {
      (a, na) <- adj.toSeq
      b <- na.toSeq if b > a
      c <- (na & adj(b)).toSeq if c > b
    } yield (a, b, c)

  /** The edges (u < v) left by peeling edges of support below k − 2. */
  private def kTruss(adj0: Map[Long, Set[Long]], k: Int): Set[(Long, Long)] = {
    var adj = adj0
    var done = false
    while (!done) {
      val weak = for ((u, nu) <- adj.toSeq; v <- nu.toSeq if u < v &&
        (nu & adj(v)).size < k - 2) yield (u, v)
      done = weak.isEmpty
      adj = weak.foldLeft(adj) { case (a, (u, v)) =>
        a.updated(u, a(u) - v).updated(v, a(v) - u) }
    }
    adj.toSeq.flatMap { case (u, nu) => nu.filter(u < _).map((u, _)) }.toSet
  }

  /** Jaccard over distinct out-neighbourhoods, top-k per n1 by
    * (rounded similarity desc, n2 asc); neighbours of more than `cap`
    * sources generate no pair but count in the degrees. */
  private def similarity(edges: Seq[(Long, Long)], topK: Int, cap: Int): Seq[(Long, Long, Double, Int)] = {
    val out = edges.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val fan = edges.distinct.groupBy(_._2).map { case (d, es) => d -> es.size }
    out.toSeq.flatMap { case (n1, a) =>
      out.toSeq.collect { case (n2, b) if n2 > n1 && (a & b).exists(fan(_) <= cap) =>
        val i = (a & b).count(fan(_) <= cap)
        (n2, round4(i.toDouble / (a.size + b.size - i)))
      }.sortBy { case (n2, s) => (-s, n2) }.take(topK).zipWithIndex
        .map { case ((n2, s), r) => (n1, n2, s, r + 1) }
    }
  }

  test("triangles, triangleCounts, clusteringCoefficients and kTruss equal driver-side references") {
    var (covered, truss4) = (0, 0)
    for (i <- 1 to 16) {
      val s = sample(i)
      val e = df(s.edges, s.partitions)
      val adj = simple(s.edges)
      val tri = triangles(adj)
      if (tri.nonEmpty) covered += 1
      if (kTruss(adj, 4).nonEmpty) truss4 += 1
      val got = Ranking.triangles(e).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.sorted == tri.sorted, s"triangles, sample $i: $s")

      val corners = tri.flatMap(t => Seq(t._1, t._2, t._3)).groupBy(identity)
        .map { case (u, us) => u -> us.size.toLong }
      val counts = Ranking.triangleCounts(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts == corners, s"triangleCounts, sample $i: $s")

      val coeff = adj.collect { case (u, nu) if nu.size >= 2 =>
        val (d, t) = (nu.size.toLong, corners.getOrElse(u, 0L))
        (u, d, t, round4(2.0 * t / (d * (d - 1))))
      }.toSeq
      val gotCoeff = Ranking.clusteringCoefficients(e).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(gotCoeff.sortBy(_._1) == coeff.sortBy(_._1), s"clustering, sample $i: $s")

      for (k <- Seq(3, 4)) {
        val truss = Centrality.kTruss(e, k).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(truss == kTruss(adj, k), s"kTruss($k), sample $i: $s")
      }
    }
    // the samples must close triangles, some of them into a 4-truss
    assert(covered >= 8 && truss4 >= 2, s"$covered samples with triangles, $truss4 with a 4-truss")
  }

  test("trussDecomposition equals trussDecompositionPeeling") {
    for (i <- 1 to 8) {
      val s = sample(i)
      if (simple(s.edges).nonEmpty) {
        val e = df(s.edges, s.partitions)
        def rows(d: DataFrame) = d.select("u", "v", "trussness").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
        assert(rows(Centrality.trussDecomposition(e)) ==
          rows(Peeling.trussDecompositionPeeling(e)), s"sample $i: $s")
      }
    }
  }

  /** The nodes left by peeling nodes of degree below k, repeatedly. */
  private def kCore(adj0: Map[Long, Set[Long]], k: Int): Set[Long] = {
    var adj = adj0
    var weak = adj.keySet.filter(adj(_).size < k)
    while (weak.nonEmpty) {
      adj = (adj -- weak).map { case (u, nu) => u -> (nu -- weak) }
      weak = adj.keySet.filter(adj(_).size < k)
    }
    adj.keySet
  }

  test("coreDecomposition equals coreDecompositionPeeling and kCore a driver-side peel") {
    var core3 = 0
    for (i <- 1 to 8) {
      val s = sample(i)
      val adj = simple(s.edges)
      if (adj.nonEmpty) {
        val e = df(s.edges, s.partitions)
        val peel = Peeling.coreDecompositionPeeling(e).select("node", "coreness").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
        if (kCore(adj, 3).nonEmpty) core3 += 1
        TestSession.bothPlacements { forced =>
          val got = Centrality.coreDecomposition(e).select("node", "coreness").collect()
            .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
          assert(got == peel, s"coreDecomposition forced=$forced, sample $i: $s")
          for (k <- 1 to 3) {
            val core = Centrality.kCore(e, k).collect().map(_.getLong(0)).toSet
            assert(core == kCore(adj, k), s"kCore($k) forced=$forced, sample $i: $s")
          }
        }
      }
    }
    // the samples must hold some 3-core
    assert(core3 >= 2, s"$core3 samples with a 3-core")
  }

  test("nodeSimilarity equals a driver-side Jaccard top-k") {
    var capped = 0
    for (i <- 1 to 16) {
      val s = sample(i)
      val got = Centrality.nodeSimilarity(df(s.edges, s.partitions), s.topK, s.fanoutCap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      val want = similarity(s.edges, s.topK, s.fanoutCap)
      assert(got.sortBy(r => (r._1, r._4)) == want.sortBy(r => (r._1, r._4)),
        s"sample $i: $s")
      if (want != similarity(s.edges, s.topK, Int.MaxValue)) capped += 1
    }
    // the fanout cap must change some samples' result
    assert(capped >= 2, s"$capped samples where the cap dropped a pair")
  }

  test("nodeSimilarity ranks a tie after rounding by n2") {
    // N(100) = {1, 2}; 101 shares 1 and has 142 neighbours (1/143), 102
    // shares 2 and has 141 (1/142): both round to 0.007, so 101 ranks first
    // although its raw Jaccard is lower
    val edges = Seq((100L, 1L), (100L, 2L), (101L, 1L), (102L, 2L)) ++
      (1 to 141).map(j => (101L, 1000L + j)) ++ (1 to 140).map(j => (102L, 2000L + j))
    assert(1.0 / 143 < 1.0 / 142 && round4(1.0 / 143) == round4(1.0 / 142))
    val got = Centrality.nodeSimilarity(df(edges, 3), topK = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == Seq((100L, 101L, 0.007, 1)))
    assert(got == similarity(edges, 1, 100000))
  }
}
