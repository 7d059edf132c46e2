package graft

import graft.ops.{Bfs, Trail, WeightedPaths}
import graft.ops.Trail.PathSegment
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test: every path search of the round-DP family returns the
  * same rows from its driver executor (inputs within Placement.RoundDp)
  * and from its forced RDD rounds on RANDOM small multigraphs — not just
  * the hand-picked spec fixtures. Both executors run the same step; this
  * is the claim under adversarial inputs (cycles, parallel edges, dead
  * ends, unreachable targets, weight ties). */
class PathReplicaPropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val genGraph: Gen[(List[(Long, Long, Long, Double)], Long, Long)] =
    for {
      n <- Gen.choose(3, 6) // nodes 0..n-1
      m <- Gen.choose(3, 10)
      edges <- Gen.listOfN(m, for {
        s <- Gen.choose(0, n - 1)
        d <- Gen.choose(0, n - 1)
        w <- Gen.oneOf(1.0, 1.0, 2.0, 2.5) // repeated 1.0 → frequent ties
      } yield (s.toLong, d.toLong, w))
      src <- Gen.choose(0, n - 1)
      dst <- Gen.choose(0, n - 1)
    } yield (
      edges.zipWithIndex.map { case ((s, d, w), i) =>
        (100L + i, s, d, w) }.filter(e => e._2 != e._3),
      src.toLong, dst.toLong)

  private def sample(i: Int): (List[(Long, Long, Long, Double)], Long, Long) =
    genGraph(Gen.Parameters.default, Seed(i.toLong)).get

  test("kCheapest local == distributed on random multigraphs") {
    for (i <- 1 to 12) {
      val (es, src, dst) = sample(i)
      if (es.nonEmpty) {
        val e = es.toDF("id", "src", "dst", "weight")
        val pairs = Seq((src, dst)).toDF("source", "target")
        def run(forced: Boolean) = TestSession.withForcedDistributed(forced)(
          WeightedPaths.kCheapest(e, pairs, k = 3, maxDepth = 4).collect())
          .map(r => (r.getDouble(2), r.getInt(3),
            r.getSeq[Long](4).toList, r.getInt(5))).sortBy(_._4)
        assert(run(false).toList == run(true).toList, s"sample $i: $es $src->$dst")
      }
    }
  }

  test("shortestGroups local == distributed on random multigraphs") {
    for (i <- 20 to 30) {
      val (es, src, dst) = sample(i)
      if (es.nonEmpty) {
        val e = es.map(x => (x._1, x._2, x._3)).toDF("id", "src", "dst")
        val pairs = Seq((src, dst)).toDF("source", "target")
        def run(forced: Boolean) = TestSession.withForcedDistributed(forced)(
          Trail.shortestGroups(e, pairs, k = 2, min = 1, maxDepth = 4).collect())
          .map(r => (r.getInt(r.fieldIndex("hops")),
            r.getSeq[Long](r.fieldIndex("path")).toList,
            r.getInt(r.fieldIndex("group"))))
          .sortBy(x => (x._1, x._2.mkString(",")))
        assert(run(false).toList == run(true).toList, s"sample $i: $es $src->$dst")
      }
    }
  }

  /** `search(edges (id, src, dst), pairs)` run on the driver, then forced
    * distributed, over samples `seeds`: the same rows. */
  private def driverEqualsForced(name: String, seeds: Range)(
      search: (DataFrame, DataFrame) => DataFrame): Unit =
    test(s"$name local == distributed on random multigraphs") {
      for (i <- seeds) {
        val (es, src, dst) = sample(i)
        if (es.nonEmpty) {
          val e = es.map(x => (x._1, x._2, x._3)).toDF("id", "src", "dst")
          val pairs = Seq((src, dst)).toDF("source", "target")
          def run(forced: Boolean) = TestSession.withForcedDistributed(forced)(
            search(e, pairs).collect()).map(_.toString).sorted.toList
          assert(run(false) == run(true), s"sample $i: $es $src->$dst")
        }
      }
    }

  // the even-numbered nodes: a boundary set on every sample
  private def evens = (0L until 6L by 2).toDF("id")

  driverEqualsForced("shortestKSegments with a boundary on its second segment", 40 to 51) {
    (e, pairs) => Trail.shortestKSegments(
      Seq(PathSegment(e, 1, 2), PathSegment(e, 0, 2, Some(evens))), pairs, k = 2)
  }

  driverEqualsForced("shortestGroupsSegments", 60 to 71) { (e, pairs) =>
    Trail.shortestGroupsSegments(
      Seq(PathSegment(e, 1, 2, Some(evens)), PathSegment(e, 1, 2)), pairs, k = 2)
  }

  driverEqualsForced("shortestK", 80 to 91) { (e, pairs) =>
    Trail.shortestK(e, pairs, k = 3, maxDepth = 4)
  }

  driverEqualsForced("allShortestPaths", 100 to 111) { (e, pairs) =>
    Bfs.allShortestPaths(e, pairs.select("source"), maxDepth = 4)
  }
}
