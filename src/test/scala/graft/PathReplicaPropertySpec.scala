package graft

import graft.ops.{Trail, WeightedPaths}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test: the driver-local fast paths of kCheapest and
  * shortestGroups must reproduce the distributed round DP row for row on
  * RANDOM small multigraphs — not just the hand-picked spec fixtures.
  * Both formulations claim to run the identical DP; this is the claim
  * under adversarial inputs (cycles, parallel edges, dead ends,
  * unreachable targets, weight ties). */
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
}
