package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property test for the SHORTEST k GROUPS arrival-round budget on CYCLIC
  * graphs (VERDICT r9 #9): the budget (k + min − 1 + slack) is provably
  * exact on DAGs; on cyclic inputs a length-group could in principle only
  * arrive via prefixes beyond the budget. Truth = exhaustive driver-side
  * trail enumeration (relationship-unique walks) on random small cyclic
  * multigraphs; the spec asserts the returned groups EQUAL the exact k
  * smallest length-groups per pair — paths included — and reports the
  * miss envelope if a counterexample class ever appears. */
class GroupsBudgetPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("groups equal exhaustive k smallest length-groups on random cyclic graphs") {
    val spark2 = spark
    import spark2.implicits._
    val misses = Seq.newBuilder[String]
    for (seed <- 0 until 12) {
      val rnd = new scala.util.Random(seed)
      val (n, edges) = TrailOracle.cyclicMultigraph(rnd)
      val k = 1 + rnd.nextInt(3)
      val maxDepth = 6
      val sources = Seq(0L)
      val targets = (0L until n.toLong)

      val truth: Map[(Long, Long), Seq[(Int, Set[Vector[Long]])]] = {
        val all = TrailOracle.trails(edges, 0L, maxDepth).filter(_._2 > 0)
        all.groupBy(_._1).map { case (tgt, rows) =>
          val byLen = rows.groupBy(_._2).toSeq.sortBy(_._1).take(k)
            .map { case (len, rs) => (len, rs.map(_._3).toSet) }
          (0L, tgt) -> byLen
        }
      }

      val pairs = targets.map(t => (0L, t)).toDF("source", "target")
      val got = graft.ops.Trail.shortestGroups(
          edges.toDF("id", "src", "dst"), pairs, k, min = 1,
          maxDepth = maxDepth)
        .collect()
        .map(r => ((r.getLong(r.fieldIndex("source")),
          r.getLong(r.fieldIndex("target"))),
          r.getInt(r.fieldIndex("hops")),
          r.getSeq[Long](r.fieldIndex("path")).toVector))
        .groupBy(_._1)
        .map { case (key, rows) =>
          key -> rows.groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (len, rs) => (len, rs.map(_._3).toSet) }
        }

      truth.foreach { case (key, expectGroups) =>
        val gotGroups = got.getOrElse(key, Seq.empty)
        if (gotGroups != expectGroups)
          misses += s"seed=$seed pair=$key k=$k\n  want: ${expectGroups.map { case (l, p) => s"$l(${p.size})" }}\n  got:  ${gotGroups.map { case (l, p) => s"$l(${p.size})" }}"
      }
    }
    val ms = misses.result()
    assert(ms.isEmpty,
      s"GROUPS missed length-groups on ${ms.size} cyclic cases (budget slack " +
        s"${graft.ops.Trail.GroupsBudgetSlack}):\n${ms.mkString("\n")}")
  }
}
