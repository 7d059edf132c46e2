package graft

import graft.ops.{Bfs, Ranking, Trail}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The round loops' persist/release lifecycle: after a result is
  * collected, every RDD a loop left persisted is one the result reads —
  * its rounds — never a partitioned edge copy or targets RDD. */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  /** Ids of the RDDs a DataFrame's RDD-scan leaves read: their lineage,
    * cut at each persisted RDD (its blocks are read, not its parents). */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id) &&
        r.getStorageLevel == StorageLevel.NONE)
      r.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => walk(l.rdd)
      case _ =>
    }
    seen.toSet
  }

  /** Collects `result` and fails on any RDD it left persisted that the
    * result does not read. */
  private def assertReleased(name: String)(result: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = result
    df.collect()
    val read = reads(df)
    val stray = sc.getPersistentRDDs.filter { case (id, _) =>
      !before(id) && !read(id) }
    assert(stray.isEmpty, s"$name left persisted RDDs the result does not " +
      s"read: ${stray.values.map(_.toDebugString).mkString("\n")}")
  }

  // a 3x3 grid plus a parallel edge and a self-loop
  private def grid = (for (r <- 0L until 3L; c <- 0L until 3L;
      (dr, dc) <- Seq((0L, 1L), (1L, 0L)) if r + dr < 3 && c + dc < 3)
    yield (r * 3 + c, (r + dr) * 3 + c + dc)) ++ Seq((0L, 1L), (4L, 4L))

  private lazy val edges = grid.toDF("src", "dst")
  private lazy val idEdges = grid.zipWithIndex
    .map { case ((s, d), i) => (100L + i, s, d) }.toDF("id", "src", "dst")
  private lazy val sources = Seq(0L, 4L).toDF("source")
  private lazy val pairs = Seq((0L, 8L), (4L, 2L)).toDF("source", "target")

  Seq[(String, () => DataFrame)](
    "Bfs.distances" -> (() => Bfs.distances(edges, sources, 5)),
    "Bfs.shortestPathLengths" -> (() => Bfs.shortestPathLengths(edges, pairs, 5)),
    "Trail.shortestK" -> (() => Trail.shortestK(idEdges, pairs, 2, 6)),
    "Bfs.allShortestPaths" -> (() => Bfs.allShortestPaths(idEdges, sources, 5)),
    "Bfs.listRanks" -> (() => Bfs.listRanks(
      (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst"))),
    "Ranking.pageRank" -> (() => Ranking.pageRank(edges, 3))
  ).foreach { case (name, result) =>
    test(s"$name releases every persisted RDD its result does not read") {
      TestSession.withForcedDistributed(true)(assertReleased(name)(result()))
    }
  }
}
