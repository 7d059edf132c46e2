package graft.ops

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * The mechanics shared by the RDD round loops (Bfs.distancesImpl,
 * Bfs.listRanks, Bfs.connectedComponents, the PageRank family,
 * Centrality's core and truss decompositions with kCore and kTruss,
 * TrailRdd.search, the [[Wedges]] kernel) — the Pregelix shape: every
 * superstep runs through one engine, each operator supplies only its step
 * function. A loop opens one `Rounds`, partitions all its keyed state with
 * [[part]], persists each round (and any reused input) through [[persist]]
 * and materializes it with the round's one action, and at the end
 * [[release]]s every RDD it persisted that the result does not read.
 *
 * A loop over a graph that does not change between rounds (BFS, the
 * vertex programs) reads its edges as [[adjacency]] blocks: the edges
 * shuffle onto [[part]] once, each partition becomes one persisted CSR
 * [[Adjacency]], and a round joins its keyed state into the block of the
 * same partition through `zipPartitions` and index lookups, so no round
 * reads or rehashes the edges again (GraphX's `EdgePartition`; Pregelix's
 * resident vertex and edge state).
 *
 * The vertex programs (the PageRank family over in-neighbour blocks,
 * coreness and kCore over symmetric ones, trussness and kTruss over blocks
 * that list each edge's triangle partners) run [[step]]: one state value
 * per node, shipped to each partition whose block references the node
 * (GraphX's routing table, built once by [[vertices]]), then each
 * partition computes its own nodes' next state in the task. The update
 * sees every value its node reads at once, so it need not combine on the
 * map side (the h-index does not).
 *
 * The wedge kernel ([[Wedges]]: triangles, their per-node counts, the
 * clustering coefficients, the truss decomposition's triangles and node
 * similarity) adds one step, [[fetch]]: each partition asks for the
 * neighbour lists of the node ids its block references and gets them in
 * two shuffles, so no wedge row is ever shuffled. A task's memory is
 * bounded by its own block plus the lists it fetched: at most min(|E|, the
 * lists it references). Fetching in chunks, for a partition whose
 * references outgrow a task, is left open.
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

  /** The edges as one persisted [[Adjacency]] block per partition of
    * [[part]], each holding the edges whose source that partition owns —
    * one shuffle of `edges`. With `dedupe`, each block keeps a pair once:
    * after the shuffle every copy of a pair is in its source's partition,
    * so no shuffle aggregation is needed. A round reads the block of its
    * own partition: `state.zipPartitions(block)` with `state` on [[part]]. */
  def adjacency(edges: RDD[(Long, Long)], dedupe: Boolean): RDD[Adjacency] =
    persist(blocks(edges)(it => Adjacency.build(it.map(e => (e._1, e._2, 0.0)),
      weighted = false, dedupe)))

  /** [[adjacency]] of weighted edges `(src, (dst, weight))`: multi-edges
    * are kept, each with its own weight. */
  def weightedAdjacency(edges: RDD[(Long, (Long, Double))]): RDD[Adjacency] =
    persist(blocks(edges)(it => Adjacency.build(it.map(e => (e._1, e._2._1, e._2._2)),
      weighted = true, dedupe = false)))

  /** `rows` shuffled onto [[part]] by key, each partition `build` into one
    * block; not persisted. */
  private[ops] def blocks[V: ClassTag](rows: RDD[(Long, V)])(
      build: Iterator[(Long, V)] => Adjacency): RDD[Adjacency] =
    rows.partitionBy(part).mapPartitions(it => Iterator.single(build(it)))

  /** The fetch step: partition i of the result holds `(id, list)` for each
    * distinct id of partition i of `refs` that has a list in `lists` (one
    * list per node, on [[part]]). Two shuffles: the requests keyed by node,
    * the replies keyed by partition id — at most partitions × |lists|
    * records, whatever the lists are used for. */
  def fetch[L: ClassTag](lists: RDD[(Long, L)], refs: RDD[Long]): RDD[(Long, L)] =
    refs.mapPartitionsWithIndex((i, ids) =>
        Adjacency.distinctSorted(ids.toArray).iterator.map((_, i)))
      .partitionBy(part)
      .zipPartitions(lists, preservesPartitioning = false) { (asked, own) =>
        val at = scala.collection.mutable.LongMap.from(own)
        asked.flatMap { case (id, i) => at.get(id).map(l => (i, (id, l))) }
      }
      // an Int key in [0, n) is its own partition under `part`
      .partitionBy(part).values

  /** The vertex layout of the blocks `adj` (on [[part]]): one persisted
    * [[Vertices]] per partition, owning the nodes [[part]] places there —
    * its block's sources, the ids any block references and `seeds`. Built
    * lazily with one shuffle: each block's distinct referenced ids, keyed
    * by node, tell their owners which partition reads them, with the
    * weight of the block's edges to them. */
  def vertices(adj: RDD[Adjacency], seeds: Option[RDD[Long]]): RDD[Vertices] = {
    val asks = adj.mapPartitionsWithIndex { (p, it) =>
      val a = it.next()
      val refs = Adjacency.distinctSorted(a.dst)
      val w = new Array[Double](refs.length)
      for (e <- a.dst.indices)
        w(java.util.Arrays.binarySearch(refs, a.dst(e))) += (if (a.weight == null) 1.0 else a.weight(e))
      Iterator.tabulate(refs.length)(k => (refs(k), (p, w(k))))
    }.union(seeds.fold(adj.sparkContext.emptyRDD[(Long, (Int, Double))])(
        _.map((_, (-1, 0.0)))))
      .partitionBy(part)
    val owners = part // the closures must not capture this Rounds
    persist(adj.zipPartitions(asks)((aIt, asked) =>
      Iterator.single(Vertices(aIt.next(), asked, owners))))
  }

  /** One round of a vertex program over the blocks `adj` laid out as `vs`:
    * a partition's i-th node sends `send(v, state, i)` to each partition
    * whose block references it — ONE shuffle of one record per pair of
    * partitions, an array of one value per (partition, distinct referenced
    * id) — and each partition computes its own nodes' next state in the
    * task, `update(block, v, in)`, where `in(refAt(e))` is what edge e's
    * neighbour sent. `state` is read once, so a lazy chain of rounds runs
    * each round once. */
  def step[S: ClassTag, M: ClassTag](adj: RDD[Adjacency], vs: RDD[Vertices],
      state: RDD[Array[S]])(send: (Vertices, Array[S], Int) => M)(
      update: (Adjacency, Vertices, Array[M]) => Array[S]): RDD[Array[S]] = {
    val n = part.numPartitions // the closures must not capture this Rounds
    // keyed by the reading partition: not `part`'s layout
    val msgs = vs.zipPartitions(state, preservesPartitioning = false) { (vIt, sIt) =>
      val (v, s, self) = (vIt.next(), sIt.next(), TaskContext.getPartitionId())
      Iterator.range(0, n).filter(q => v.outFrom(q + 1) > v.outFrom(q)).map { q =>
        val m = new Array[M](v.outFrom(q + 1) - v.outFrom(q))
        for (r <- m.indices) m(r) = send(v, s, v.from(v.outFrom(q) + r))
        (q, (self, m))
      }
    }.partitionBy(part) // an Int key in [0, n) is its own partition
    adj.zipPartitions(vs, msgs) { (aIt, vIt, mIt) =>
      val v = vIt.next()
      val in = new Array[M](v.inFrom(n))
      mIt.foreach { case (_, (p, m)) => System.arraycopy(m, 0, in, v.inFrom(p), m.length) }
      Iterator.single(update(aIt.next(), v, in))
    }
  }

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
    * (lazy) result or the next round is built on; those stay held. */
  def release(reads: Seq[RDD[_]]): Unit = {
    val keep = reads.toSet
    held.filterNot(keep).foreach(_.unpersist(blocking = false))
    held.filterInPlace(keep)
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

  /** `edges`' `src` and `dst` read as LONG ids ([[longId]]; an integral
    * column needs no guard), then `more`. Rows with a null endpoint are
    * dropped first, on the raw columns: a null filter over the read ids is
    * pushed below the projection and would evaluate each id's guard a
    * second time. */
  def endpoints(edges: DataFrame, op: String, more: Column*): DataFrame = {
    def id(c: String) = edges.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(c).cast(LongType)
      case _ => longId(col(c), op)
    }
    edges.na.drop(Seq("src", "dst")).select(Seq(id("src"), id("dst")) ++ more: _*)
  }

  /** Long-id contract cast for the RDD round loops: a non-null id that
    * does not cast to LONG fails loudly, naming the operator, instead of
    * becoming NULL and silently dropping the edge (the generic-typed
    * DataFrame joins these loops replaced would have matched string ids).
    * `try_cast` keeps the named error under ANSI mode too. */
  def longId(c: Column, op: String): Column =
    when(c.isNotNull && c.try_cast("long").isNull,
      raise_error(concat(lit(s"$op: id not castable to LONG: "),
        c.cast("string"))).cast("long"))
      .otherwise(c.try_cast("long"))

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

  /** A vertex program's state as (node id, state) rows. */
  def byNode[S: ClassTag](vs: RDD[Vertices], state: RDD[Array[S]]): RDD[(Long, S)] =
    vs.zipPartitions(state) { (vIt, sIt) =>
      val (v, s) = (vIt.next(), sIt.next())
      Iterator.tabulate(s.length)(k => (v.ids(k), s(k)))
    }

  /** Result rows → DataFrame. Column types come from `T`'s fields, every
    * column non-null; `names` renames them (default: the field names). */
  def toDf[T <: Product : TypeTag](spark: SparkSession, rows: RDD[T],
      names: String*): DataFrame =
    spark.createDataFrame(rows.map(Row.fromTuple), schema[T](names))

  /** [[toDf]] of rows held on the driver: a local relation in one
    * partition (the rows are few, and a per-key rank over them then needs
    * no shuffle), no job. */
  def localDf[T <: Product : TypeTag](spark: SparkSession, rows: Seq[T],
      names: String*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromTuple).asJava, schema[T](names))
      .coalesce(1)
  }

  private def schema[T <: Product : TypeTag](names: Seq[String]): StructType = {
    val fields = Encoders.product[T].schema.fields
    val named = if (names.isEmpty) fields.map(_.name).toSeq else names
    StructType(fields.zip(named).map { case (f, n) =>
      f.copy(name = n, nullable = false) })
  }
}

/** One partition's edges in compressed sparse row form: the partition's
  * sources ascending in `src`; the i-th source's neighbours are
  * `dst(offset(i) until offset(i + 1))` — ascending when built unweighted;
  * a weighted or [[Adjacency.ordered]] block keeps each source's edges in
  * input order, their weights at the same positions of `weight` (null
  * when unweighted). */
final class Adjacency private (val src: Array[Long], val offset: Array[Int],
    val dst: Array[Long], val weight: Array[Double]) extends Serializable {

  /** The neighbours of `s` (empty when it has no edge here). */
  def neighbours(s: Long): Iterator[Long] = {
    val i = java.util.Arrays.binarySearch(src, s)
    if (i < 0) Iterator.empty else Iterator.range(offset(i), offset(i + 1)).map(dst)
  }
}

object Adjacency {

  /** `xs` ascending without repeats. */
  private[ops] def distinctSorted(xs: Array[Long]): Array[Long] = {
    val a = xs.clone()
    java.util.Arrays.sort(a)
    var n = 0
    for (x <- a) if (n == 0 || x != a(n - 1)) { a(n) = x; n += 1 }
    java.util.Arrays.copyOf(a, n)
  }

  /** The block of `(src, dst, weight)` edges in input order: a counting
    * sort into source order, which keeps each source's edges in the order
    * they came; the weights are kept when `weighted`, else dropped. */
  private[ops] def ordered(edges: Iterator[(Long, Long, Double)],
      weighted: Boolean): Adjacency = {
    val (sb, db, wb) = (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Double])
    edges.foreach { case (s, d, w) => sb += s; db += d; if (weighted) wb += w }
    val (s, d, w) = (sb.result(), db.result(), wb.result())
    val src = distinctSorted(s)
    val at = s.map(java.util.Arrays.binarySearch(src, _))
    val offset = new Array[Int](src.length + 1)
    at.foreach(i => offset(i + 1) += 1)
    for (i <- src.indices) offset(i + 1) += offset(i)
    val next = java.util.Arrays.copyOf(offset, src.length)
    val (dst, weight) = (new Array[Long](s.length), if (weighted) new Array[Double](s.length) else null)
    for (j <- s.indices) {
      val k = next(at(j))
      next(at(j)) += 1
      dst(k) = d(j)
      if (weighted) weight(k) = w(j)
    }
    new Adjacency(src, offset, dst, weight)
  }

  /** The block of `(src, dst, weight)` edges: weighted, [[ordered]];
    * unweighted, each source's neighbours sorted and, with `dedupe`, kept
    * once. */
  private[ops] def build(edges: Iterator[(Long, Long, Double)], weighted: Boolean,
      dedupe: Boolean): Adjacency = {
    val a = ordered(edges, weighted)
    if (weighted) return a
    val (offset, dst) = (a.offset, a.dst)
    // sort each source's run, then (dedupe) compact it in place
    var (n, from) = (0, 0)
    for (i <- a.src.indices) {
      val to = offset(i + 1)
      java.util.Arrays.sort(dst, from, to)
      if (dedupe) {
        for (j <- from until to) if (j == from || dst(j) != dst(j - 1)) { dst(n) = dst(j); n += 1 }
        offset(i + 1) = n
      }
      from = to
    }
    new Adjacency(a.src, offset, if (dedupe) java.util.Arrays.copyOf(dst, n) else dst, null)
  }
}

/** One partition's vertex layout next to its [[Adjacency]] block: `ids`,
  * the nodes it owns, ascending; `srcAt` places the block's sources in
  * `ids`; `refAt` places each edge's neighbour among the block's distinct
  * neighbours, grouped by the partition that owns them (partition p's from
  * `inFrom(p)` to `inFrom(p + 1)`) and ascending within a group;
  * `weight(i)` is the total weight of the edges, in all blocks, that
  * reference node i (its out-weight in in-neighbour blocks, its degree in
  * symmetric ones); `seeded(i)` marks the seeds. The routing table:
  * partition q reads the owned nodes `from(outFrom(q) until outFrom(q + 1))`
  * — ascending, so in the order of its group for this partition. */
final class Vertices private (val ids: Array[Long], val srcAt: Array[Int],
    val refAt: Array[Int], val inFrom: Array[Int], val weight: Array[Double],
    val seeded: Array[Boolean], val from: Array[Int], val outFrom: Array[Int])
  extends Serializable

object Vertices {

  /** `asked`: (id, (reading partition, edge weight)) rows `part` places
    * here; a seed reads (id, (-1, 0.0)). */
  private[ops] def apply(a: Adjacency, asked: Iterator[(Long, (Int, Double))],
      part: HashPartitioner): Vertices = {
    val rows = asked.toArray
    val ids = Adjacency.distinctSorted(a.src ++ rows.map(_._1))
    def at(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val (weight, seeded) = (new Array[Double](ids.length), new Array[Boolean](ids.length))
    rows.foreach { case (id, (p, w)) => if (p < 0) seeded(at(id)) = true else weight(at(id)) += w }
    val routes = rows.filter(_._2._1 >= 0).sortBy(_._1)
    val (outFrom, place) = groups(part.numPartitions, routes.map(_._2._1))
    val from = new Array[Int](routes.length)
    for (r <- routes.indices) from(place(r)) = at(routes(r)._1)
    val refs = Adjacency.distinctSorted(a.dst)
    val (inFrom, refPlace) = groups(part.numPartitions, refs.map(part.getPartition(_)))
    new Vertices(ids, a.src.map(at), a.dst.map(d => refPlace(java.util.Arrays.binarySearch(refs, d))),
      inFrom, weight, seeded, from, outFrom)
  }

  /** A stable counting sort of items by `group` (each in [0, n)): each
    * group's start offset (n + 1 of them) and each item's place. */
  private def groups(n: Int, group: Array[Int]): (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    group.foreach(g => start(g + 1) += 1)
    for (g <- 0 until n) start(g + 1) += start(g)
    val next = java.util.Arrays.copyOf(start, n)
    (start, group.map { g => next(g) += 1; next(g) - 1 })
  }
}
