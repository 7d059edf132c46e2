package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Walk-based graph utilities: deterministic random-walk corpus generation
 * (the DeepWalk/node2vec input layer — walks ARE the training data an
 * embedding pipeline consumes) and DAG layering.
 *
 * Same scale rules as the rest of the ops package: per-step state is one
 * row of ids per active walk, steps are join + aggregate pairs
 * hash-partitioned on node id, frontiers lazily checkpointed.
 */
object Walks {

  /**
   * Deterministic "random" walks (DeepWalk, Perozzi et al. 2014; the
   * corpus-generation step of every walk-based embedding pipeline). From
   * every start node, `walksPerNode` walks of exactly `steps` hops; at
   * each hop the walk at node v moves to the out-neighbor minimizing
   * md5(salt:walkId:step:v:dst) — uniform per (walk, step), SEEDLESS:
   * replayable bit-for-bit in any engine with md5 (the same trick as
   * [[graft.functions.Curation.splitLabel]]), stable under partitioning,
   * and fresh per walk id and per step. Walks at sink nodes (no
   * out-neighbor) stop early.
   *
   * Scale shape: state is (walkId, node) per active walk; a hop is one
   * join on the current node key plus a per-walk min — the argmin rides
   * the same aggregate via struct-min, so a hop is ONE shuffle. Nothing
   * accumulates driver-side; emitted rows stream into the result union.
   *
   * @param edges (src, dst)
   * @param starts (start LONG) — distinct start nodes
   * @return (walk LONG, step INT, node LONG): step 0 is the start node;
   *         walk = startId * walksPerNode + j for j < walksPerNode
   */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      walksPerNode: Int = 1, salt: String = "walk"): DataFrame = {
    require(steps >= 1 && walksPerNode >= 1,
      s"bad walk config: steps=$steps walksPerNode=$walksPerNode")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    var frontier = starts.select(col("start")).distinct()
      .withColumn("__j", explode(sequence(lit(0), lit(walksPerNode - 1))))
      .select((col("start") * walksPerNode + col("__j")).as("walk"),
        col("start").as("node"))
      .localCheckpoint(false)
    val out = Seq.newBuilder[DataFrame]
    out += frontier.withColumn("step", lit(0))
    var i = 0
    var active = frontier.count()
    while (i < steps && active > 0) {
      i += 1
      val step = i
      // argmin by hash: min over a (hash, dst) struct picks the
      // lexicographically-first hash and carries its dst along — one
      // aggregate, no window, no second join
      val scored = frontier.join(e, frontier("node") === e("src"))
        .select(col("walk"),
          struct(md5(concat_ws(":", lit(salt), col("walk"), lit(step),
            col("src"), col("dst"))).as("h"), col("dst")).as("__sc"))
      frontier = scored.groupBy("walk")
        .agg(min(col("__sc")).as("__m"))
        .select(col("walk"), col("__m.dst").as("node"))
        .localCheckpoint(false)
      active = frontier.count()
      if (active > 0) out += frontier.withColumn("step", lit(step))
    }
    out.result().reduce(_ unionByName _)
      .select(col("walk"), col("step").cast("int").as("step"), col("node"))
  }

  /**
   * Longest-path DAG layering (topological generations — the batch
   * scheduler's view of a dependency graph): layer(v) = length of the
   * longest path from any root to v. Bellman-Ford-style relaxation:
   * layer'(w) = max(layer(w), 1 + max over v→w layer(v)) per round, to
   * fixpoint — rounds = DAG depth, each one join + one grouped max.
   * Throws on cycles (a cycle relaxes forever) instead of silently
   * returning wrong layers — the cycle-detection contract of every
   * topological sort.
   *
   * @param edges (src, dst) — must be a DAG
   * @return (node, layer INT); roots (no incoming edge) are layer 0
   */
  def topologicalLayers(edges: DataFrame, maxDepth: Int = 1000): DataFrame = {
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // small DAGs take a driver-local Kahn longest-path — a depth-D DAG
    // costs D+1 distributed rounds of pure job overhead at this size
    for (rows <- Placement.local(raw, Placement.Walk))
      return localLayers(edges.sparkSession, rows)
    val e = raw.distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var layers = nodes.withColumn("layer", lit(0))
      .localCheckpoint(false)
    var changed = Long.MaxValue
    var i = 0
    while (changed > 0 && i < maxDepth) {
      i += 1
      val relaxed = e.join(layers.withColumnRenamed("node", "src")
          .withColumnRenamed("layer", "__ls"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg((max(col("__ls")) + 1).as("__cand"))
      // the moved flag rides the round's frame, so ONE action both
      // materializes the new layers and counts still-moving nodes — no
      // second compare-join against the previous round
      val next = layers.join(relaxed, Seq("node"), "left_outer")
        .select(col("node"),
          greatest(col("layer"), coalesce(col("__cand"), lit(0))).as("layer"),
          (coalesce(col("__cand"), lit(0)) > col("layer")).as("__moved"))
        .localCheckpoint(false)
      changed = next.filter(col("__moved")).count()
      layers = next.drop("__moved")
    }
    require(changed == 0,
      s"topologicalLayers did not converge in $maxDepth rounds — the graph has a cycle")
    layers.select(col("node"), col("layer").cast("int").as("layer"))
  }

  /** driver-local longest-path layering (Kahn order) over a bounded edge
    * list; throws on cycles like the distributed form */
  private def localLayers(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).distinct
    val adj = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val indeg = scala.collection.mutable.LongMap.empty[Int]
    pairs.foreach { case (s, d) =>
      indeg.getOrElseUpdate(s, 0); indeg(d) = indeg.getOrElse(d, 0) + 1 }
    val layer = scala.collection.mutable.LongMap.empty[Int]
    var frontier = indeg.iterator.collect { case (n, 0) => n }.toList
    frontier.foreach(n => layer(n) = 0)
    var processed = 0
    while (frontier.nonEmpty) {
      val nextF = scala.collection.mutable.ListBuffer.empty[Long]
      frontier.foreach { v =>
        processed += 1
        adj.getOrElse(v, Array.empty[Long]).foreach { w =>
          layer(w) = math.max(layer.getOrElse(w, 0), layer(v) + 1)
          indeg(w) -= 1
          if (indeg(w) == 0) nextF += w
        }
      }
      frontier = nextF.toList
    }
    require(processed == indeg.size,
      "topologicalLayers: the graph has a cycle")
    import spark.implicits._
    layer.toSeq.map { case (n, l) => (n, l) }.toDF("node", "layer")
  }

  /**
   * Deterministic R-MAT graph generator (Chakrabarti, Zhan & Faloutsos,
   * SDM 2004) — the standard synthetic power-law graph for scale testing
   * (Graph500 uses the same recursion). Edge i descends `scale` levels of
   * the adjacency-matrix quadrant recursion; the quadrant at each level
   * comes from xxhash64(i, level, seed), so the corpus is pure map-side
   * compute over `spark.range(edges)` — no RNG state, identical on every
   * run, engine, and partitioning, and generating 10^10 edges is one
   * embarrassingly-parallel projection.
   *
   * @param scale nodes = 2^scale
   * @param a, b, c quadrant probabilities (d = 1-a-b-c); defaults are the
   *                canonical skewed parameters
   * @return (src, dst) — multi-edges and self-loops possible, as R-MAT
   *         defines; dedup downstream if needed
   */
  def rmatEdges(spark: org.apache.spark.sql.SparkSession, scale: Int,
      edges: Long, seed: Long = 42L, a: Double = 0.57, b: Double = 0.19,
      c: Double = 0.19): DataFrame = {
    require(scale >= 1 && scale <= 40 && edges > 0, "bad rmat config")
    require(a > 0 && b > 0 && c > 0 && a + b + c < 1, "bad rmat skew")
    val zero = struct(lit(0L).as("s"), lit(0L).as("d"))
    val walked = aggregate(sequence(lit(0), lit(scale - 1)), zero, (acc, lvl) => {
      val h = pmod(xxhash64(col("id"), lvl, lit(seed)), lit(1000000L))
        .cast("double") / 1000000.0
      val sBit = when(h >= a + b, lit(1L)).otherwise(lit(0L))
      val dBit = when((h >= a && h < a + b) || h >= a + b + c, lit(1L))
        .otherwise(lit(0L))
      struct((acc.getField("s") * 2 + sBit).as("s"),
        (acc.getField("d") * 2 + dBit).as("d"))
    })
    spark.range(edges).select(walked.as("__e"))
      .select(col("__e.s").as("src"), col("__e.d").as("dst"))
  }

  /**
   * K-hop neighbor sampling with per-hop fanout caps — the GraphSAGE /
   * GNN-training data-prep operator (Hamilton et al. 2017): from each
   * seed, keep at most fanout(h) neighbors per visited node at hop h,
   * chosen DETERMINISTICALLY by a multiplicative hash of (src, dst, hop)
   * so runs, engines and repartitions agree — reproducible minibatches
   * are the property GNN pipelines need from their sampler.
   *
   * Each hop is one join frontier×edges plus one bounded window per
   * (seed, node) — work is seeds × Π fanouts rows, never the full
   * neighborhood; hash ordering is pure integer arithmetic bounded away
   * from BIGINT overflow (mod 1000003 operands), so an exact SQL replay
   * exists.
   *
   * @param edges   (src, dst)
   * @param seeds   (seed)
   * @param fanouts max neighbors per node at each hop, outermost first
   * @return (seed, hop 1.., src, dst) — the sampled edge per hop
   */
  def neighborSample(edges: DataFrame, seeds: DataFrame,
      fanouts: Seq[Int]): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      s"fanouts must be positive: $fanouts")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    var frontier = seeds.select(col("seed")).distinct()
      .select(col("seed"), col("seed").as("node"))
    val out = Seq.newBuilder[DataFrame]
    fanouts.zipWithIndex.foreach { case (f, h) =>
      val hop = h + 1
      val ord = ((col("src") % 1000003L) * 2654435761L +
        (col("dst") % 1000003L) * 40503L + lit(hop.toLong) * 97L) % 1000003L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("seed", "src").orderBy(ord.asc, col("dst").asc)
      val sampled = frontier.join(e, col("node") === col("src"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= f)
        .select(col("seed"), lit(hop).as("hop"), col("src"), col("dst"))
        .localCheckpoint(false)
      out += sampled
      frontier = sampled.select(col("seed"), col("dst").as("node")).distinct()
    }
    out.result().reduce(_ unionByName _)
  }

  /**
   * FastRP node embeddings (Chen et al. 2019, "Fast and Accurate Network
   * Embeddings via Very Sparse Random Projection" — the default node
   * embedding of the reference's graph-data-science ecosystem).
   *
   * Construction, all deterministic:
   *  1. init: very sparse Achlioptas projection — component j of node n is
   *     +√3 / −√3 / 0 with probability 1/6, 1/6, 2/3, drawn from
   *     xxhash64(n, seed, j) so both engines and reruns regenerate the
   *     identical matrix (no RNG state, no driver loop);
   *  2. k propagation rounds: v ← L2-normalize(mean over in-neighbors of
   *     v_prev) — one join + one elementwise sum + one norm per round;
   *  3. output: L2-normalized Σ_t weight_t · v_t.
   *
   * Elementwise sums run as (node, pos, value) triples — posexplode,
   * partial-aggregable sum, re-assembly via sorted collect — so a round
   * shuffles |V|·dim fixed-width rows, never whole vectors through a
   * groupBy, and nothing is quadratic in the neighborhood size. Dimension
   * is a constant (64–512 in practice), so the expansion factor is fixed
   * and every stage stays in whole-stage codegen.
   *
   * @param edges (src, dst) — symmetrize upstream for undirected
   *              embeddings; messages flow src → dst
   * @param iterationWeights weight per propagation round (index 0 = the
   *                         round-1 result), GDS-style
   * @return (node, embedding ARRAY<DOUBLE> L2-normalized)
   */
  def fastRP(edges: DataFrame, dim: Int = 64,
      iterationWeights: Seq[Double] = Seq(0.0, 1.0, 1.0),
      seed: Long = 42L): DataFrame = {
    require(dim >= 2 && iterationWeights.nonEmpty,
      s"fastRP needs dim >= 2 and at least one iteration weight")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().freshCkpt()
    val s3 = math.sqrt(3.0)
    // component j from the hash of (node, seed, j): 0 → +√3, 1 → −√3,
    // 2..5 → 0 (P = 1/6, 1/6, 2/3 — Achlioptas sparse projection)
    val init = transform(sequence(lit(0), lit(dim - 1)), j => {
      val h = pmod(xxhash64(col("node"), lit(seed), j), lit(6L))
      when(h === 0, lit(s3)).when(h === 1, lit(-s3)).otherwise(lit(0.0))
    })
    def l2norm(vecCol: Column): Column =
      sqrt(aggregate(vecCol, lit(0.0), (acc, x) => acc + x * x))
    def normalized(vecCol: Column): Column = {
      val n = l2norm(vecCol)
      when(n > 0, transform(vecCol, x => x / n)).otherwise(vecCol)
    }
    val inDeg = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("__deg"))
    var v = nodes.select(col("node"), normalized(init).as("vec"))
      .localCheckpoint(false)
    var acc: DataFrame = null
    for (w <- iterationWeights) {
      // mean over in-neighbors, elementwise as (node, pos, value) triples
      val summed = e.join(v.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("node", "pos").agg(sum("x").as("x"))
        .groupBy("node")
        .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("__px"))
        .join(inDeg, "node")
        .select(col("node"),
          transform(col("__px"), p => p("x") / col("__deg")).as("vec"))
      // nodes with no in-neighbors keep a zero vector for the round
      v = nodes.join(summed, Seq("node"), "left_outer")
        .select(col("node"), normalized(coalesce(col("vec"),
          array_repeat(lit(0.0), dim))).as("vec"))
        .localCheckpoint(false)
      val weighted = v.select(col("node"),
        transform(col("vec"), x => x * w).as("wv"))
      acc = if (acc == null) weighted.withColumnRenamed("wv", "emb")
        else acc.join(weighted, "node")
          .select(col("node"),
            zip_with(col("emb"), col("wv"), (a, b) => a + b).as("emb"))
          .localCheckpoint(false)
    }
    acc.select(col("node"), normalized(col("emb")).as("embedding"))
  }
}
