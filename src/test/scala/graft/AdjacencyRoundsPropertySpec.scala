package graft

import graft.ops.{Bfs, Ranking}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test: the round loops that read their edges as adjacency
  * blocks — BFS (`distances`, `shortestPathLengths`, `pruningExpand`) and
  * the PageRank family — against driver-side references on seeded random
  * multigraphs: duplicate edges, self-loops, destination-only nodes,
  * sources without out-edges, empty edge sets, negative ids, more
  * partitions than nodes, and null weights. */
class AdjacencyRoundsPropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // node ids that spread over the partitions, negative ones included
  private val ids = Vector(0L, 7L, -3L, 1L << 40, 42L, 5L, 1000003L)
  /** A source or seed that is no node of any sample. */
  private val stranger = 999L

  private case class Sample(edges: List[(Long, Long, Option[Double])],
      sources: List[Long], partitions: Int)

  private val genSample: Gen[Sample] = for {
    n <- Gen.choose(1, ids.size)
    m <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 14))
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(0, n - 1)
      d <- Gen.choose(0, n - 1)
      w <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(0.5, 3.0).map(Some(_)))
    } yield (ids(s), ids(d), w))
    // duplicate pairs on purpose: copy a prefix of the edges
    dup <- Gen.choose(0, 3)
    srcs <- Gen.someOf(ids.take(n) :+ stranger)
    partitions <- Gen.oneOf(1, 3, 8)
  } yield Sample(edges ++ edges.take(dup),
    if (srcs.isEmpty) List(ids(0)) else srcs.toList, partitions)

  private def sample(i: Int): Sample =
    genSample(Gen.Parameters.default, Seed(i.toLong)).get

  private def pairDf(s: Sample): DataFrame =
    s.edges.map(e => (e._1, e._2)).toDF("src", "dst").repartition(s.partitions)

  /** Minimal hops from `source` to every node it reaches within `maxDepth`. */
  private def bfs(edges: Seq[(Long, Long)], source: Long, maxDepth: Int): Map[Long, Int] = {
    val out = edges.distinct.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var dist = Map(source -> 0)
    var frontier = Seq(source)
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      depth += 1
      frontier = frontier.flatMap(out.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> depth)
    }
    dist
  }

  private def sorted(rows: Seq[(Long, Long, Int)]) = rows.sortBy(r => (r._1, r._2, r._3))

  test("BFS distances, shortestPathLengths and pruningExpand equal a driver-side BFS") {
    TestSession.withForcedDistributed(true) {
      for (i <- 1 to 24) {
        val s = sample(i)
        val pairs = s.edges.map(e => (e._1, e._2))
        val maxDepth = 1 + i % 4
        val src = s.sources.toDF("source")
        val want = s.sources.flatMap(u => bfs(pairs, u, maxDepth).map { case (v, d) => (u, v, d) })
        val got = Bfs.distances(pairDf(s), src, maxDepth).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        assert(sorted(got) == sorted(want), s"distances, sample $i: $s")

        // every (source, target) over sample nodes, reached or not
        val targets = (ids.filter(v => pairs.exists(p => p._1 == v || p._2 == v)) :+ stranger)
          .flatMap(t => s.sources.map((_, t)))
        val lens = Bfs.shortestPathLengths(pairDf(s), targets.toDF("source", "target"), maxDepth)
          .select("source", "target", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        val wantLens = targets.flatMap { case (u, t) =>
          bfs(pairs, u, maxDepth).get(t).map(d => (u, t, d)) }
        assert(sorted(lens) == sorted(wantLens), s"shortestPathLengths, sample $i: $s")

        for (minHops <- 0 to 1) {
          val reach = Bfs.pruningExpand(pairDf(s), src, minHops, maxDepth)
            .select("source", "node", "dist").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
          // minHops 1: a source reaches itself through an in-neighbour u
          // at distance <= maxDepth - 1
          val wantReach = s.sources.flatMap { u =>
            val d = bfs(pairs, u, maxDepth)
            val base = d.collect { case (v, k) if k >= minHops => (u, v, k) }
            val back = pairs.collect { case (w, `u`) if d.get(w).exists(_ <= maxDepth - 1) => d(w) + 1 }
            if (minHops == 1 && back.nonEmpty) base.toSeq :+ ((u, u, back.min)) else base.toSeq
          }
          assert(sorted(reach) == sorted(wantReach),
            s"pruningExpand minHops $minHops, sample $i: $s")
        }
      }
    }
  }

  /** Power iteration on the driver: multi-edges each carry their weight,
    * rows without a weight are ignored. */
  private def powerIteration(edges: Seq[(Long, Long, Double)], seeds: Option[Seq[Long]],
      iterations: Int, damping: Double): Map[Long, Double] = {
    val nodes = (edges.flatMap(e => Seq(e._1, e._2)) ++ seeds.getOrElse(Nil)).distinct
    val out = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val base = seeds match {
      case None => nodes.map(_ -> (1.0 - damping)).toMap
      case Some(ss) => nodes.map(v =>
        v -> (if (ss.contains(v)) (1.0 - damping) / ss.distinct.size else 0.0)).toMap
    }
    var rank = base
    for (_ <- 1 to iterations) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => rank(e._1) * e._3 / out(e._1)).sum }
      rank = base.map { case (v, b) => v -> (b + damping * in.getOrElse(v, 0.0)) }
    }
    rank
  }

  test("pageRank, weightedPageRank and personalizedPageRank are within 1e-12 of power iteration") {
    TestSession.withForcedDistributed(true) {
      for (i <- 31 to 50) {
        val s = sample(i)
        val iterations = 1 + i % 6
        val damping = 0.85
        def check(form: String, got: DataFrame, want: Map[Long, Double]): Unit = {
          val rows = got.collect().map(r => r.getLong(0) -> r.getDouble(1))
          assert(rows.map(_._1).sorted.toSeq == want.keys.toSeq.sorted, s"$form nodes, sample $i: $s")
          rows.foreach { case (v, r) =>
            assert(math.abs(r - want(v)) < 1e-12, s"$form rank of $v: $r vs ${want(v)}, sample $i: $s")
          }
        }
        val unit = s.edges.map(e => (e._1, e._2, 1.0))
        check("pageRank", Ranking.pageRank(pairDf(s), iterations, damping),
          powerIteration(unit, None, iterations, damping))
        check("personalizedPageRank", Ranking.personalizedPageRank(pairDf(s),
            s.sources.toDF("source"), iterations, damping),
          powerIteration(unit, Some(s.sources), iterations, damping))
        val weighted = s.edges.toDF("src", "dst", "weight").repartition(s.partitions)
        check("weightedPageRank", Ranking.weightedPageRank(weighted, iterations, damping),
          powerIteration(s.edges.collect { case (u, v, Some(w)) => (u, v, w) },
            None, iterations, damping))
      }
    }
  }
}
