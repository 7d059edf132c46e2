package graft

import graft.ops.Walks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Walk corpus generation + DAG layering semantics. */
class WalksSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("randomWalks: deterministic, correct length, edges followed, sinks stop") {
    import spark.implicits._
    // 1→2→3 chain plus a branch 1→4; 4 is a sink
    val e = edges(1L -> 2L, 2L -> 3L, 1L -> 4L)
    val run1 = Walks.randomWalks(e, Seq(1L).toDF("start"), steps = 3,
      walksPerNode = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val run2 = Walks.randomWalks(e, Seq(1L).toDF("start"), steps = 3,
      walksPerNode = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(run1.toSeq == run2.toSeq, "walks must replay identically")
    // every step-0 row is the start; every transition is a real edge
    val byWalk = run1.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byWalk.size == 4 && byWalk.values.forall(_.head == 1L))
    val edgeSet = Set((1L, 2L), (2L, 3L), (1L, 4L))
    byWalk.values.foreach { path =>
      path.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet((a, b)), s"$a->$b not an edge")
        case _ => ()
      }
      // ended at 4 (sink, stopped early) or walked the full 3 steps to 3's
      // sink... 3 is also a sink: either way length <= 4 and > 1
      assert(path.length >= 2 && path.length <= 4)
    }
    // different walk ids from the same start can diverge (hash freshness):
    // with 4 walks over a 2-way branch, both branches should appear
    assert(byWalk.values.map(_(1)).toSet == Set(2L, 4L))
  }

  test("topologicalLayers: longest path wins, roots at 0, cycle throws") {
    // diamond with a long arm: 1→2→3→5, 1→4→5 — layer(5) = 3 (longest)
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 5L, 1L -> 4L, 4L -> 5L)
    TestSession.bothPlacements { forced => // local fast path AND distributed loop
      val r = Walks.topologicalLayers(e).collect()
        .map(x => x.getLong(0) -> x.getInt(1)).toMap
      assert(r == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 3),
        s"forced=$forced")
      val cyc = intercept[IllegalArgumentException] {
        Walks.topologicalLayers(edges(1L -> 2L, 2L -> 1L), maxDepth = 10)
      }
      assert(cyc.getMessage.contains("cycle"), s"forced=$forced")
    }
  }

  private def cliquePair = {
    import spark.implicits._
    // two disjoint K5s: 0..4 and 10..14, symmetric edges
    val und = for {
      base <- Seq(0L, 10L); i <- 0 until 5; j <- i + 1 until 5
    } yield (base + i, base + j)
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  test("fastRP embeddings are unit-norm, right-dimensional and deterministic") {
    val a = Walks.fastRP(cliquePair, dim = 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Walks.fastRP(cliquePair, dim = 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.keySet.size == 10)
    a.foreach { case (n, v) =>
      assert(v.length == 32)
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"node $n norm $norm")
      assert(v == b(n), s"node $n not deterministic")
    }
    // a different seed moves the embeddings
    val c = Walks.fastRP(cliquePair, dim = 32, seed = 7L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.keys.exists(n => a(n) != c(n)), "seed had no effect")
  }

  test("neighborSample caps fanout per hop and is repartition-stable") {
    import spark.implicits._
    // hub 1 with 5 children 10..14; each child has 3 grandchildren
    val e1 = (10L to 14L).map(c => (1L, c))
    val e2 = for (c <- 10L to 14L; g <- 1 to 3) yield (c, c * 100 + g)
    val edges = (e1 ++ e2).toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    val r = Walks.neighborSample(edges, seeds, Seq(2, 2)).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
    val hop1 = r.filter(_._2 == 1)
    val hop2 = r.filter(_._2 == 2)
    assert(hop1.length == 2, s"hop1 fanout: ${hop1.toSeq}")
    assert(hop2.length == 4, s"hop2 fanout: ${hop2.toSeq}") // 2 nodes x 2
    // hop-2 sources must be exactly the hop-1 sampled destinations
    assert(hop2.map(_._3).toSet == hop1.map(_._4).toSet)
    val r2 = Walks.neighborSample(edges.repartition(7), seeds, Seq(2, 2))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
    assert(r.sorted.sameElements(r2.sorted), "sampling moved under repartition")
  }

  test("rmatEdges: deterministic, in-range, and genuinely skewed") {
    import spark.implicits._
    val g1 = Walks.rmatEdges(spark, scale = 10, edges = 20000)
    val g2 = Walks.rmatEdges(spark, scale = 10, edges = 20000)
    val a = g1.collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = g2.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b), "generator not deterministic")
    assert(a.forall { case (s, d) => s >= 0 && s < 1024 && d >= 0 && d < 1024 })
    // power-law-ish: the busiest node must far exceed the mean out-degree
    val deg = a.groupBy(_._1).map(_._2.length)
    val mean = a.length.toDouble / deg.size
    assert(deg.max > 4 * mean, s"no skew: max=${deg.max} mean=$mean")
    // a different seed moves the corpus
    val c = Walks.rmatEdges(spark, scale = 10, edges = 20000, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!a.sameElements(c), "seed had no effect")
  }

  test("distributed CC equals local union-find on a skewed R-MAT corpus") {
    // the generator's whole point: cross-validate an iterative algorithm's
    // distributed formulation against its driver fast path on a graph with
    // genuine power-law skew, not a hand fixture
    val e = graft.ops.Walks.rmatEdges(spark, scale = 11, edges = 30000)
      .filter(col("src") =!= col("dst"))
    val local = TestSession.withForcedDistributed(false)(
      graft.ops.Bfs.connectedComponents(e).collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = TestSession.withForcedDistributed(true)(
      graft.ops.Bfs.connectedComponents(e).collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local.length == dist.length && local.sameElements(dist),
      s"local ${local.length} rows vs dist ${dist.length}")
  }

  test("distributed SCC equals local Tarjan on a skewed R-MAT corpus") {
    val e = graft.ops.Walks.rmatEdges(spark, scale = 9, edges = 4000)
      .filter(col("src") =!= col("dst"))
    val local = TestSession.withForcedDistributed(false)(
      graft.ops.Centrality.stronglyConnectedComponents(e).collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = TestSession.withForcedDistributed(true)(
      graft.ops.Centrality.stronglyConnectedComponents(e).collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local.length == dist.length && local.sameElements(dist),
      s"local ${local.length} rows vs dist ${dist.length}")
  }

  test("fastRP places clique members closer than cross-clique pairs") {
    val emb = Walks.fastRP(cliquePair, dim = 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double =
      x.zip(y).map { case (a, b) => a * b }.sum // unit vectors
    val ids = emb.keys.toSeq.sorted
    val (intra, inter) = (for {
      i <- ids; j <- ids if i < j
    } yield ((i / 10 == j / 10), cos(emb(i), emb(j))))
      .partition(_._1)
    val intraMean = intra.map(_._2).sum / intra.size
    val interMean = inter.map(_._2).sum / inter.size
    assert(intraMean > interMean + 0.2,
      s"intra $intraMean should clearly beat inter $interMean")
  }
}
