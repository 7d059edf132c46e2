package graft

import graft.ops.Centrality
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Centrality / node-similarity semantics on hand-checkable fixtures —
  * deliberately ASYMMETRIC graphs (the oracle query q_betweenness runs on
  * a vertex-transitive ring where every node scores the same; these pin
  * the per-node values). */
class CentralitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("betweenness on a directed path counts interior pass-throughs") {
    import spark.implicits._
    // 1→2→3→4: through 2 pass (1,3),(1,4); through 3 pass (1,4),(2,4)
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    TestSession.bothPlacements { forced => // local fast path AND distributed loop
      val r = Centrality.betweenness(e, Seq(1L, 2L, 3L, 4L).toDF("source"),
          10)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(r == Map(2L -> 2.0, 3L -> 2.0), s"forced=$forced")
    }
  }

  test("betweenness splits dependency across equal shortest paths") {
    import spark.implicits._
    // diamond 1→{2,3}→4: σ(1,4)=2, δ shares 0.5/0.5
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    TestSession.bothPlacements { forced =>
      val r = Centrality.betweenness(e, Seq(1L, 2L, 3L, 4L).toDF("source"),
          10)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(r == Map(2L -> 0.5, 3L -> 0.5), s"forced=$forced")
    }
  }

  test("closeness and harmonic on a directed path") {
    import spark.implicits._
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    TestSession.bothPlacements { forced =>
      val r = Centrality.closenessHarmonic(e, Seq(1L, 3L).toDF("source"),
          10)
        .collect().map(x => (x.getLong(0), (x.getLong(1), x.getDouble(2), x.getDouble(3))))
        .toMap
      // from 1: dists 1,2,3 → closeness 3/6, harmonic 1+1/2+1/3
      assert(r(1L) == ((3L, 0.5, 1.8333)), s"forced=$forced")
      // from 3: dist 1 → closeness 1, harmonic 1
      assert(r(3L) == ((1L, 1.0, 1.0)), s"forced=$forced")
    }
  }

  test("kCore peels a tail and keeps the triangle") {
    // triangle {1,2,3} + tail 3-4-5: 2-core = triangle only, and the tail
    // must peel over two rounds (5 first, then 4)
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L)
    val r = Centrality.kCore(e, 2).collect().map(_.getLong(0)).toSet
    assert(r == Set(1L, 2L, 3L))
    assert(Centrality.kCore(e, 3).count() == 0)
  }

  test("coreDecomposition h-index propagation equals the peeling form") {
    import spark.implicits._
    // K4 (coreness 3) wearing a tail 3-10-11 (coreness 1), a triangle
    // {20,21,22} (coreness 2) bridged to the K4 at 0, plus a 4-cycle
    // 30-31-32-33 (coreness 2) — mixed shapes incl. the cyclic cases
    // where naive degree thresholds over-estimate
    val e = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L,
      2L -> 3L, 3L -> 10L, 10L -> 11L, 20L -> 21L, 21L -> 22L, 20L -> 22L,
      0L -> 20L, 30L -> 31L, 31L -> 32L, 32L -> 33L, 33L -> 30L)
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val peel = toMapOf(Centrality.coreDecompositionPeeling(e)
      .select(col("node"), col("coreness").cast("int")))
    TestSession.bothPlacements { forced => // local BZ peel AND distributed h-index
      val r = toMapOf(Centrality.coreDecomposition(e))
      assert(r == peel, s"forced=$forced")
      assert(r(0L) == 3 && r(10L) == 1 && r(11L) == 1 &&
        r(20L) == 2 && r(30L) == 2, s"forced=$forced")
    }
  }

  test("SCC distributed loop: trim peels the DAG, pivot rounds find cycles") {
    // 3-cycle {1,2,3} + tail 3→4→5 + back-edge pair 6⇄7 feeding 1
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L,
      6L -> 7L, 7L -> 6L, 7L -> 1L)
    // the forced distributed trim + FW-BW path
    val r = TestSession.withForcedDistributed(true)(
      Centrality.stronglyConnectedComponents(e).collect())
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 6L))
    // and the driver Tarjan fast path agrees exactly
    val fast = TestSession.withForcedDistributed(false)(
      Centrality.stronglyConnectedComponents(e).collect())
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fast == r)
  }

  test("hyperBall tracks the exact neighborhood function within HLL error") {
    import spark.implicits._
    val ring = (0L until 25L)
      .flatMap(i => Seq((i, (i + 1) % 25), (i, (i + 3) % 25)))
      .toDF("src", "dst")
    val exact = graft.ops.Bfs
      .distances(ring, (0L until 25L).toDF("source"), 12)
      .groupBy("dist").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exactNf = (0 to 9).map(t =>
      t -> (0 to t).map(d => exact.getOrElse(d, 0L)).sum)
    val hb = Centrality.hyperBall(ring, maxT = 15, log2m = 8)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // converges exactly at the diameter (9): N(9) = 625 = all pairs
    assert(hb.keys.max == 9, s"expected convergence at t=9, got ${hb.keys.max}")
    exactNf.foreach { case (t, nf) =>
      assert(math.abs(hb(t) - nf) / nf < 0.12,
        s"t=$t exact=$nf approx=${hb(t)}")
    }
    // monotone curve
    val c = (0 to 9).map(hb)
    assert(c == c.sorted)
  }

  test("nodeSimilarity computes exact Jaccard with deterministic ranks") {
    // N(1)={10,11,12}, N(2)={10,11,13}, N(3)={12}
    val e = edges(1L -> 10L, 1L -> 11L, 1L -> 12L,
      2L -> 10L, 2L -> 11L, 2L -> 13L, 3L -> 12L)
    val r = Centrality.nodeSimilarity(e, topK = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r == Map((1L, 2L) -> 0.5, (1L, 3L) -> 0.3333))
  }

  test("nodeSimilarity fanout cap drops hub-generated pairs but keeps exact degrees") {
    // shared neighbor 99 has fanout 3 > cap 2 → no pairs generated via it
    val e = edges(1L -> 99L, 2L -> 99L, 3L -> 99L, 1L -> 10L, 2L -> 10L)
    val r = Centrality.nodeSimilarity(e, topK = 5, fanoutCap = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    // only pair (1,2) via neighbor 10; degrees still count 99: 1/(2+2-1)
    assert(r == Map((1L, 2L) -> 0.3333))
  }

  test("kTruss keeps cliques, peels bridges, and cascades deletions") {
    import spark.implicits._
    // K5 (1..5) + pendant bridge 5-6
    val k5 = for (i <- 1L to 5L; j <- i + 1 to 5L) yield (i, j)
    val e = (k5 :+ (5L, 6L)).toDF("src", "dst")
    val t5 = Centrality.kTruss(e, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t5 == k5.toSet, s"5-truss of K5+bridge must be K5: $t5")
    assert(Centrality.kTruss(e, k = 6).count() == 0, "6-truss must be empty")
    // diamond 1-2-3 / 2-3-4: outer edges have support 1, the shared edge
    // 2; dropping the outers removes the shared edge's triangles too —
    // the 4-truss must cascade to empty, not stop after one round
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Centrality.kTruss(diamond, k = 4).count() == 0,
      "cascading deletion missed")
    assert(Centrality.kTruss(diamond, k = 3).count() == 5,
      "3-truss must keep both triangles")
  }

  test("trussDecomposition assigns exact trussness per edge") {
    import spark.implicits._
    // K4 (trussness 4) sharing node 4 with a triangle 4-5-6 (trussness 3)
    // plus a pendant edge 6-7 (floor 2)
    val k4 = for (i <- 1L to 4L; j <- i + 1 to 4L) yield (i, j)
    val e = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("src", "dst")
    val r = Centrality.trussDecomposition(e).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
    k4.foreach(p => assert(r(p) == 4, s"$p: ${r(p)}"))
    Seq((4L, 5L), (4L, 6L), (5L, 6L)).foreach(p =>
      assert(r(p) == 3, s"$p: ${r(p)}"))
    assert(r((6L, 7L)) == 2)
    // h-index fixpoint ≡ peeling cascade on the same mixed fixture
    val peel = Centrality.trussDecompositionPeeling(e).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
    assert(r == peel)
  }

  test("hits closed form on a two-hub bipartite fixture") {
    import spark.implicits._
    // hubs 1, 2 -> authority 10; hub 2 -> authority 11 as well.
    // t=1: a(10) = 2, a(11) = 1 → /√5; h(1) = 2/√5, h(2) = 3/√5 →
    // norm = √(13/5): h(1) = 2/√13, h(2) = 3/√13
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val r = Centrality.hits(e, iterations = 1).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(r(1L) == (r6(2 / math.sqrt(13)), 0.0))
    assert(r(2L) == (r6(3 / math.sqrt(13)), 0.0))
    assert(r(10L) == (0.0, r6(2 / math.sqrt(5))))
    assert(r(11L) == (0.0, r6(1 / math.sqrt(5))))
  }

  test("eigenvector centrality ranks the clique attachment over the pendant") {
    import spark.implicits._
    // undirected K4 (1..4) + pendant 5 attached to 1
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Centrality.eigenvector(e, iterations = 30).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L), s"attachment must outrank plain clique nodes: $r")
    assert(r(2L) == r(3L) && r(3L) == r(4L), s"symmetric nodes must tie: $r")
    assert(r(5L) < r(2L), s"pendant must rank last: $r")
    val norm = math.sqrt(r.values.map(v => v * v).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"L2 norm drifted: $norm")
  }
}
