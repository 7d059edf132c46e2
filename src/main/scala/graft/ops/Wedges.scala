package graft.ops

import scala.collection.mutable.LongMap
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/**
 * The one wedge kernel, on [[Rounds]]: triangles ([[Ranking.triangles]],
 * `triangleCounts`, `clusteringCoefficients`, and the numbered triangles
 * that [[Centrality.trussDecomposition]] and `kTruss` read once, before
 * their rounds) and [[Centrality.nodeSimilarity]]. A wedge — two edges
 * sharing a node — is never a shuffled row: each partition fetches the neighbour lists its
 * block references ([[Rounds.fetch]]) and closes its wedges in the task, so
 * a call shuffles its edges, one degree message per edge and the fetch's
 * requests and replies (at most partitions × |E|), whatever the wedge
 * count, and runs as one job.
 *
 * Triangles follow the degree order of the worst-case-optimal joins: each
 * node keeps its up-list, the neighbours of higher (degree, id), which has
 * at most √(2m) entries, and a triangle is found once, at its lowest node
 * u, as up(u) ∩ up(v) for v ∈ up(u).
 */
object Wedges {

  /** `edges`' (src, dst) as LONG ids ([[Rounds.endpoints]]), rows with a
    * null endpoint dropped, and the [[Rounds]] over their partitions. */
  def pairs(edges: DataFrame, op: String): (Rounds, RDD[(Long, Long)]) = {
    val rows = Rounds.endpoints(edges, op).rdd.map(r => (r.getLong(0), r.getLong(1)))
    (Rounds(edges.sparkSession, rows.getNumPartitions), rows)
  }

  /** Each triangle of the undirected simple graph of `e` (direction
    * ignored, self-loops dropped, a node pair once) as (a, b, c), a < b < c. */
  def triangles(rounds: Rounds, e: RDD[(Long, Long)]): RDD[(Long, Long, Long)] =
    scan(rounds, upLists(rounds, e))(_.map { case (u, v, w) =>
      val (lo, hi) = (math.min(u, math.min(v, w)), math.max(u, math.max(v, w)))
      (lo, u + v + w - lo - hi, hi)
    })

  /** The undirected simple graph of `e` with its edges numbered: each edge
    * as (number, (u, v)), u < v, and each triangle as the numbers of its
    * three edges. An edge is numbered where its lower end in (degree, id)
    * order holds it in its up-list, as `zipWithUniqueId` numbers the
    * entries of the persisted up-lists: entry j of u's list is
    * first(u) + j·n over n partitions, first(u) = p + (the entries before
    * u's list in partition p)·n. No job runs, and a recomputed partition
    * numbers alike (its nodes and lists are sorted). Each fetched up-list
    * carries its first number. */
  def numberedTriangles(rounds: Rounds, e: RDD[(Long, Long)]):
      (RDD[(Long, (Long, Long))], RDD[(Long, Long, Long)]) = {
    val n = rounds.part.numPartitions.toLong
    val up = upLists(rounds, e).mapPartitionsWithIndex((p, it) => {
      var first = p.toLong
      it.map { case (u, _, l) => val f = first; first += l.length * n; (u, (l, f)) }
    }, preservesPartitioning = true)
    val lists = rounds.fetch(up.filter(_._2._1.nonEmpty), up.flatMap(_._2._1))
    val tri = up.zipPartitions(lists, preservesPartitioning = false) { (own, got) =>
      val upOf = LongMap.from(got)
      def at(l: Array[Long], first: Long, w: Long) = first + java.util.Arrays.binarySearch(l, w) * n
      own.flatMap { case (_, (uu, fu)) =>
        uu.indices.iterator.flatMap(i => upOf.get(uu(i)).iterator.flatMap { case (vv, fv) =>
          common(uu, vv).map(w => (fu + i * n, at(uu, fu, w), at(vv, fv, w)))
        })
      }
    }
    val edges = up.flatMap { case (u, (l, first)) =>
      l.indices.iterator.map(j => (first + j * n, (math.min(u, l(j)), math.max(u, l(j)))))
    }
    (edges, tri)
  }

  /** (node, triangles) for each node of at least one triangle, on
    * [[Rounds.part]]: corners are summed in the task, then reduced by node. */
  def triangleCounts(rounds: Rounds, e: RDD[(Long, Long)]): RDD[(Long, Long)] =
    cornerCounts(rounds, upLists(rounds, e))

  /** (node, degree, triangles, 2·triangles / (degree·(degree − 1)) rounded
    * like Spark's `round(x, 4)`) for each node of degree ≥ 2 in the
    * undirected simple graph of `e`. */
  def clustering(rounds: Rounds, e: RDD[(Long, Long)]): RDD[(Long, Long, Long, Double)] = {
    val up = upLists(rounds, e)
    up.zipPartitions(cornerCounts(rounds, up), preservesPartitioning = false) { (own, counts) =>
      val tri = LongMap.from(counts)
      own.collect { case (u, d, _) if d >= 2 =>
        val t = tri.getOrElse(u, 0L)
        (u, d.toLong, t, round4(2.0 * t / (d.toLong * (d - 1))))
      }
    }
  }

  /** Jaccard similarity of out-neighbourhoods, |N(n1) ∩ N(n2)| /
    * |N(n1) ∪ N(n2)| rounded like Spark's `round(x, 4)`, for each pair
    * n1 < n2 sharing a neighbour: the `topK` best n2 per n1 by similarity,
    * then n2 ascending, as (n1, n2, similarity, rank). Each node's in-list
    * carries its sources' out-degrees; a neighbour with more than
    * `fanoutCap` sources generates no pair, but the degrees still count it
    * (exact whenever no neighbour exceeds the cap). */
  def similarity(rounds: Rounds, e: RDD[(Long, Long)], topK: Int,
      fanoutCap: Int): RDD[(Long, Long, Double, Int)] = {
    val out = rounds.adjacency(e, dedupe = true)
    val in = byRecipient(rounds, out.flatMap(withDegrees))
      .flatMap(a => a.src.indices.iterator.collect {
        case i if a.offset(i + 1) - a.offset(i) <= fanoutCap =>
          val (from, to) = (a.offset(i), a.offset(i + 1))
          (a.src(i), (a.dst.slice(from, to), a.weight.slice(from, to).map(_.toInt)))
      })
    val lists = rounds.fetch(in, out.flatMap(_.dst))
    out.zipPartitions(lists, preservesPartitioning = false) { (blocks, got) =>
      val inOf = LongMap.from(got)
      val shared = new Counts
      blocks.flatMap(a => a.src.indices.iterator.flatMap { i =>
        val n1 = a.src(i)
        val d1 = a.offset(i + 1) - a.offset(i)
        shared.clear()
        for (j <- a.offset(i) until a.offset(i + 1); (srcs, degs) <- inOf.get(a.dst(j));
             k <- srcs.indices if srcs(k) > n1)
          shared.add(srcs(k), degs(k))
        val sim = Array.tabulate(shared.size)(s =>
          round4(shared.count(s).toDouble / (d1 + shared.aux(s) - shared.count(s))))
        (0 until shared.size)
          .sortWith((x, y) => sim(x) > sim(y) || sim(x) == sim(y) && shared.key(x) < shared.key(y))
          .take(topK).zipWithIndex
          .map { case (s, r) => (n1, shared.key(s), sim(s), r + 1) }
      })
    }
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on its decimal string. */
  private[ops] def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (dst, (src, out-degree of src)) for each edge of a block. */
  private def withDegrees(a: Adjacency): Iterator[(Long, (Long, Int))] =
    a.src.indices.iterator.flatMap { i =>
      val d = a.offset(i + 1) - a.offset(i)
      Iterator.range(a.offset(i), a.offset(i + 1)).map(j => (a.dst(j), (a.src(i), d)))
    }

  /** Messages (to, (from, degree of from)) as one block per partition of
    * [[Rounds.part]]: each recipient's senders in `dst`, in arrival order,
    * their degrees at the same positions of `weight`. Not persisted. */
  private def byRecipient(rounds: Rounds, msgs: RDD[(Long, (Long, Int))]): RDD[Adjacency] =
    rounds.blocks(msgs)(it => Adjacency.build(it.map(m => (m._1, m._2._1, m._2._2.toDouble)),
      weighted = true, dedupe = false))

  /** Each node of the undirected simple graph of `e` as (node, degree,
    * up-list ascending by id), on [[Rounds.part]], persisted. Two
    * shuffles: the symmetric edges into one block per partition, then each
    * node's degree to each of its neighbours. */
  private def upLists(rounds: Rounds, e: RDD[(Long, Long)]): RDD[(Long, Int, Array[Long])] = {
    val sym = rounds.blocks(e.filter(p => p._1 != p._2).flatMap(p => Iterator(p, p.swap)))(it =>
      Adjacency.build(it.map(p => (p._1, p._2, 0.0)), weighted = false, dedupe = true))
    rounds.persist(byRecipient(rounds, sym.flatMap(withDegrees)).flatMap { a =>
      a.src.indices.iterator.map { i =>
        val (u, du) = (a.src(i), a.offset(i + 1) - a.offset(i))
        val up = Iterator.range(a.offset(i), a.offset(i + 1)).filter { j =>
          val dv = a.weight(j).toInt
          dv > du || dv == du && a.dst(j) > u
        }.map(a.dst).toArray
        java.util.Arrays.sort(up)
        (u, du, up)
      }
    })
  }

  /** `f` over each partition's triangles (u, v, w), u < v < w in (degree,
    * id) order, each found once at u: the up-lists each partition
    * references are fetched, then up(u) and up(v) merge for each v ∈ up(u). */
  private def scan[R: ClassTag](rounds: Rounds, up: RDD[(Long, Int, Array[Long])])(
      f: Iterator[(Long, Long, Long)] => Iterator[R]): RDD[R] = {
    val lists = rounds.fetch(
      up.mapPartitions(_.collect { case (u, _, l) if l.nonEmpty => (u, l) }, preservesPartitioning = true),
      up.flatMap(_._3))
    up.zipPartitions(lists, preservesPartitioning = false) { (own, got) =>
      val upOf = LongMap.from(got)
      f(own.flatMap { case (u, _, uu) =>
        uu.iterator.flatMap(v => upOf.get(v).iterator.flatMap(vv => common(uu, vv).map((u, v, _))))
      })
    }
  }

  private def cornerCounts(rounds: Rounds, up: RDD[(Long, Int, Array[Long])]): RDD[(Long, Long)] =
    scan(rounds, up) { ts =>
      val corners = new Counts
      ts.foreach { case (u, v, w) => corners.add(u, 0); corners.add(v, 0); corners.add(w, 0) }
      Iterator.range(0, corners.size).map(s => (corners.key(s), corners.count(s)))
    }.reduceByKey(rounds.part, _ + _)

  /** The ids in both ascending lists, ascending. */
  private def common(a: Array[Long], b: Array[Long]): Iterator[Long] = new Iterator[Long] {
    private var i = 0
    private var j = 0
    private def seek(): Unit =
      while (i < a.length && j < b.length && a(i) != b(j)) if (a(i) < b(j)) i += 1 else j += 1
    seek()
    def hasNext: Boolean = i < a.length && j < b.length
    def next(): Long = { val x = a(i); i += 1; j += 1; seek(); x }
  }

  /** Counts keyed by node id over primitive arrays (open addressing), each
    * key with one `aux` int set when it is first added. Keys are read back
    * by insertion index `0 until size`; [[clear]] resets only the slots in
    * use, so one instance serves every node of a task. */
  private final class Counts {
    private var keys = new Array[Long](16)
    private var slotOf = Array.fill(16)(-1) // hash slot → insertion index
    private var counts = new Array[Long](16)
    private var auxs = new Array[Int](16)
    var size = 0

    def key(s: Int): Long = keys(s)
    def count(s: Int): Long = counts(s)
    def aux(s: Int): Int = auxs(s)

    def add(k: Long, aux: Int): Unit = {
      var h = slot(k)
      while (slotOf(h) >= 0 && keys(slotOf(h)) != k) h = (h + 1) & (slotOf.length - 1)
      if (slotOf(h) >= 0) counts(slotOf(h)) += 1
      else {
        if (size == keys.length) grow()
        keys(size) = k; counts(size) = 1; auxs(size) = aux
        if (2 * (size + 1) > slotOf.length) { size += 1; rehash(slotOf.length * 2) }
        else { slotOf(h) = size; size += 1 }
      }
    }

    def clear(): Unit = {
      for (s <- 0 until size) {
        var h = slot(keys(s))
        while (slotOf(h) != s) h = (h + 1) & (slotOf.length - 1)
        slotOf(h) = -1
      }
      size = 0
    }

    private def slot(k: Long): Int = {
      val x = k * 0x9E3779B97F4A7C15L
      (x ^ (x >>> 32)).toInt & (slotOf.length - 1)
    }

    private def grow(): Unit = {
      keys = java.util.Arrays.copyOf(keys, keys.length * 2)
      counts = java.util.Arrays.copyOf(counts, keys.length)
      auxs = java.util.Arrays.copyOf(auxs, keys.length)
    }

    private def rehash(n: Int): Unit = {
      slotOf = Array.fill(n)(-1)
      for (s <- 0 until size) {
        var h = slot(keys(s))
        while (slotOf(h) >= 0) h = (h + 1) & (n - 1)
        slotOf(h) = s
      }
    }
  }
}
