package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/**
 * The mechanics shared by the RDD round loops (Bfs.distancesImpl,
 * Bfs.listRanks, Bfs.connectedComponents, Ranking.iterateRanks,
 * TrailRdd.search) — the Pregelix shape: every superstep runs through one
 * engine, each operator supplies only its step function. A loop opens one
 * `Rounds`, partitions all its keyed state with [[part]], persists each
 * round (and any reused input) through [[persist]] and materializes it
 * with the round's one action, and at the end [[release]]s every RDD it
 * persisted that the result does not read.
 */
final class Rounds private (val part: HashPartitioner) {
  private val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** `pairs` without duplicates, each pair in the partition [[part]] gives
    * its first element: one shuffle aggregation, which spills like any
    * `reduceByKey`. The result is partitioned by [[part]], so joins and
    * `reduceByKey`s keyed by the first element are narrow. No map-side
    * combine: its sort by key hash cost as much as the rest of the shuffle
    * (120k distinct pairs of the R-MAT benchmark graph on 4 vCPUs: 0.33 s
    * with it, 0.15 s without). */
  def dedupe(pairs: RDD[(Long, Long)]): RDD[(Long, Long)] =
    pairs.map((_, ())).combineByKeyWithClassTag((u: Unit) => u, (u: Unit, _: Unit) => u,
        (u: Unit, _: Unit) => u, Rounds.byFirst(part.numPartitions), mapSideCombine = false)
      .mapPartitions(_.map(_._1), preservesPartitioning = true)

  /** Persisted at MEMORY_AND_DISK until [[unpersist]] or [[release]]. */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    held += rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Drops a superseded round now. */
  def unpersist(rdd: RDD[_]): Unit = {
    held -= rdd
    rdd.unpersist(blocking = false)
  }

  /** Unpersists every RDD this loop persisted except `reads`, the ones the
    * (lazy) result is built on. */
  def release(reads: Seq[RDD[_]]): Unit = {
    val keep = reads.toSet
    held.filterNot(keep).foreach(_.unpersist(blocking = false))
    held.clear()
  }
}

object Rounds {

  /** Equal to `HashPartitioner(n)` (inherited `equals`) and places a pair
    * key where that partitioner places the pair's first element; any other
    * key exactly where that partitioner does. */
  private def byFirst(n: Int): HashPartitioner = new HashPartitioner(n) {
    override def getPartition(key: Any): Int =
      super.getPartition(key match { case (a, _) => a; case k => k })
  }

  /** Frontier rows up to which a round broadcasts its frontier instead of
    * shuffling it against the edges. */
  val BroadcastFrontierRows = 200000

  /** A round loop over inputs of `inputPartitions` partitions. The
    * partition count follows the INPUT (scan splits scale with data size;
    * AQE can't coalesce RDD stages, so the session's full shuffle-partition
    * count would run rounds × 32 near-empty tasks on a small graph),
    * floored at a quarter of the executor cores — one 128 MB parquet split
    * can hold millions of edge rows, too much for a single task chained
    * across every round — and capped by the session's shuffle-partition
    * setting like any SQL shuffle. */
  def apply(spark: SparkSession, inputPartitions: Int): Rounds =
    new Rounds(new HashPartitioner(math.min(
      spark.sessionState.conf.numShufflePartitions,
      math.max(math.max(1, spark.sparkContext.defaultParallelism / 4),
        inputPartitions))))

  /** Result rows → DataFrame. Column types come from `T`'s fields, every
    * column non-null; `names` renames them (default: the field names). */
  def toDf[T <: Product : TypeTag](spark: SparkSession, rows: RDD[T],
      names: String*): DataFrame = {
    val fields = Encoders.product[T].schema.fields
    val named = if (names.isEmpty) fields.map(_.name).toSeq else names
    spark.createDataFrame(rows.map(Row.fromTuple),
      StructType(fields.zip(named).map { case (f, n) =>
        f.copy(name = n, nullable = false) }))
  }
}
