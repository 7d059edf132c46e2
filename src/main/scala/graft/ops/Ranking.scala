package graft.ops

import graft.ops.Ckpt._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph ranking / counting algorithms (surplus per SURVEY §2.10 — the
 * reference ships its algo library in community/graph-algo; PageRank and
 * triangle counting are the canonical additions next to the shortest-path
 * family already covered).
 */
object Ranking {

  /**
   * Degree distribution — the first profiling query on any graph (the
   * reference exposes degree stats through db.stats): per-degree node
   * counts for the chosen orientation. Two aggregates, both
   * hash-partitioned on 8-byte keys; nodes with zero edges in the chosen
   * orientation are absent (join the node table downstream if isolated
   * nodes matter).
   *
   * @param edges (src, dst)
   * @return (degree LONG, n LONG) sorted nowhere — order downstream
   */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n"))

  /**
   * Directed degree assortativity (Newman 2002): the Pearson correlation,
   * over edges, of the source's out-degree with the target's in-degree —
   * the standard "do hubs link to hubs" profiling metric next to the
   * degree distribution. Two degree aggregates plus two id-keyed joins
   * back to the edge list, then one global `corr` (a partial-aggregating
   * co-moment — no row ever leaves its partition until the final combine).
   *
   * @param edges (src, dst) — multi-edges count once
   * @return one row (assortativity DOUBLE 4dp)
   */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val outd = e.groupBy("src").agg(count(lit(1)).as("__od"))
    val ind = e.groupBy("dst").agg(count(lit(1)).as("__id"))
    e.join(outd, Seq("src")).join(ind, Seq("dst"))
      .agg(round(corr(col("__od").cast("double"),
        col("__id").cast("double")), 4).as("assortativity"))
  }

  /**
   * Clustering coefficients over the undirected simple graph:
   * local C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) and the global
   * (transitivity) ratio 3·triangles / wedges. Reuses the canonical
   * two-join triangle enumeration ([[triangles]]); wedges come from the
   * degree aggregate — nothing new shuffles.
   *
   * @param edges (src, dst) — direction ignored
   * @return (node, degree LONG, triangles LONG, coeff DOUBLE 4dp) for
   *         nodes with degree ≥ 2
   */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint(false)
    val deg = canon.select(col("u").as("node"))
      .unionByName(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(canon.select(col("u").as("src"), col("v").as("dst")))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1)), 4).as("coeff"))
  }

  /**
   * PageRank by synchronous power iteration (Pregel formulation):
   *   rank_{t+1}(v) = (1-d) + d * Σ_{u→v} rank_t(u) / outdeg(u)
   * No dangling-mass redistribution (same per-node form the usual graph
   * libraries use). Init rank = (1-d), the fixed point for in-degree-0
   * nodes, so DAGs converge in longest-path iterations exactly.
   *
   * The rounds run over RDDs under ONE shared HashPartitioner (the GraphX
   * pattern): edges hash-partition by src ONCE; per round the
   * rank-with-degree join is co-partitioned (narrow, zero shuffle) and
   * only the contribution reduceByKey shuffles — one shuffle per round,
   * against the DataFrame formulation's three, and ZERO Catalyst
   * analysis/codegen passes per round (the r13 profile showed planning
   * at ~90% of this query's wall; iterating over the materialized rounds
   * directly removes it). Shuffle outputs are reused across rounds by the
   * scheduler (skipped stages), so nothing needs caching.
   *
   * @param edges (src, dst)
   * @return (node, rank)
   */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1,
      s"bad pageRank config: iterations=$iterations damping=$damping")
    iterateRanks(edges.select(col("src").cast("long"),
        col("dst").cast("long"), lit(1.0).as("w")),
      iterations, damping, sources = None)
  }

  /** Shared RDD round loop for the pageRank family. `edges` must be
    * (src LONG, dst LONG, w DOUBLE); `sources` switches the teleport mass
    * to the personalized (seed-restart) form. */
  private def iterateRanks(edges: DataFrame, iterations: Int,
      damping: Double, sources: Option[DataFrame]): DataFrame = {
    val spark = edges.sparkSession
    // drop null src/dst/weight rows BEFORE the primitive-getter RDD map:
    // a rel missing the weight property must be ignored (the old
    // DataFrame formulation's null-sum semantics), not NPE the job
    val in = edges.na.drop("any").rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
    val part = Rounds(spark, in.getNumPartitions).part
    val e = in.partitionBy(part) // the ONLY edge shuffle, reused every round
    val srcSet = sources.map(_.rdd.map(r => (r.getLong(0), ()))
      .partitionBy(part))
    val nodes = e.map(_._1)
      .union(e.map(_._2._1))
      .union(srcSet.map(_.map(_._1)).getOrElse(spark.sparkContext.emptyRDD))
      .distinct(part.numPartitions).map((_, ())).partitionBy(part)
    // per-source total out-weight (count for the unweighted form)
    val outW = e.mapValues(_._2).reduceByKey(part, _ + _)
    // teleport term: uniform (1-d) classic; (1-d)/|S| on seeds personalized
    val base: org.apache.spark.rdd.RDD[(Long, Double)] = srcSet match {
      case None => nodes.mapValues(_ => 1.0 - damping)
      case Some(s) =>
        val nS = s.count()
        require(nS > 0, "personalized PageRank needs a non-empty source set")
        val tp = (1.0 - damping) / nS
        nodes.leftOuterJoin(s, part)
          .mapValues { case (_, hit) => if (hit.isDefined) tp else 0.0 }
    }
    var ranks = base
    var i = 0
    while (i < iterations) {
      val contrib = e.join(ranks.join(outW, part), part)
        .map { case (_, ((dst, w), (r, ow))) => (dst, r * w / ow) }
        .reduceByKey(part, _ + _) // the one shuffle of the round
      ranks = base.leftOuterJoin(contrib, part)
        .mapValues { case (b, in) => b + damping * in.getOrElse(0.0) }
      i += 1
    }
    Rounds.toDf(spark, ranks, "node", "rank")
  }

  /**
   * Weighted PageRank: each node distributes its rank across out-edges
   * proportionally to edge weight instead of uniformly —
   *   contrib(u→v) = rank(u) · w(u→v) / Σ_x w(u→x)
   * (the GDS-style relationship-weighted variant). Same per-iteration
   * shape as [[pageRank]]: one join + one partial-aggregating sum, both
   * hash-partitioned on 8-byte node ids; the only extra state is the
   * per-node out-weight total, computed once.
   *
   * @param edges (src, dst, weight DOUBLE > 0); multi-edges each carry
   *              their own weight
   */
  def weightedPageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1,
      s"bad pageRank config: iterations=$iterations damping=$damping")
    iterateRanks(edges.select(col("src").cast("long"),
        col("dst").cast("long"), col("weight").cast("double")),
      iterations, damping, sources = None)
  }

  /**
   * Personalized PageRank (Haveliwala 2002, "Topic-Sensitive PageRank"):
   * the teleport mass restarts at the SOURCE set instead of uniformly —
   *   rank_{t+1}(v) = (1−d)·1[v ∈ S]/|S| + d · Σ_{u→v} rank_t(u)/outdeg(u)
   * — the similarity-to-my-seeds ranking behind recommendation and
   * related-entity queries. Same per-iteration shape as [[pageRank]]
   * (one join + one aggregate, hash-partitioned on node ids); the source
   * set joins as a DataFrame, |S| is the one driver scalar.
   *
   * @param edges (src, dst); sources (source LONG)
   * @return (node, rank) — nodes with rank 0 included (they're in the
   *         graph, just unreachable from the seeds)
   */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1,
      s"bad pageRank config: iterations=$iterations damping=$damping")
    iterateRanks(edges.select(col("src").cast("long"),
        col("dst").cast("long"), lit(1.0).as("w")),
      iterations, damping,
      sources = Some(sources.select(col("source").cast("long")).distinct()))
  }

  /**
   * Triangle enumeration over the undirected simple graph: canonicalize
   * every edge to (u < v), join wedges a<b<c on the shared middle node,
   * close them against the edge set. One row per distinct triangle —
   * the standard two-join MapReduce formulation; at scale both joins
   * hash-partition on node ids and the canonical orientation keeps each
   * triangle counted exactly once.
   *
   * @param edges (src, dst) — direction ignored
   * @return (a, b, c) with a < b < c, one row per triangle
   */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(false)
    val wedges = und.select(col("u").as("a"), col("v").as("b"))
      .join(und.select(col("u").as("b"), col("v").as("c")), "b")
    wedges.join(und.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Per-node triangle participation counts (a node appears in each of its
    * triangles once per corner role). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val t = triangles(edges)
    t.select(col("a").as("node"))
      .unionByName(t.select(col("b").as("node")))
      .unionByName(t.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /**
   * Label propagation (community detection, Raghavan et al. 2007) with
   * SYNCHRONOUS updates and deterministic tie-breaks: every node adopts
   * the most frequent label among its undirected neighbors each round,
   * ties resolved to the smallest label — so the result is reproducible
   * (the usual async/random variant is not). Labels init to node ids.
   * Each round is one join + two aggregates, all hash-partitioned on the
   * node key; rounds are bounded by `iterations` (label prop oscillates on
   * bipartite-ish structures rather than converging, so a fixed budget is
   * the standard stop rule).
   *
   * @param edges (src, dst) — direction ignored
   * @return (node, label) — nodes sharing a label form a community
   */
  def labelPropagation(edges: DataFrame, iterations: Int = 10): DataFrame = {
    require(iterations >= 1, s"bad iterations: $iterations")
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val sym = und.unionByName(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    val nodes = sym.select(col("u").as("node")).distinct().freshCkpt()
    var labels = nodes.withColumn("label", col("node"))
    var i = 0
    while (i < iterations) {
      // most frequent neighbor label; (count DESC, label ASC) via max of
      // a (count, -label) struct so the round is two partial-aggregable
      // aggregates, no window
      val freq = sym
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("__n"))
        .groupBy(col("u"))
        .agg(max(struct(col("__n"), (-col("label")).as("__neg"))).as("__m"))
        .select(col("u").as("node"), (-col("__m.__neg")).as("label"))
      labels = nodes.join(freq, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
        .localCheckpoint(false)
      i += 1
    }
    labels
  }

  /**
   * Undirected modularity Q of a community assignment (Newman 2006; the
   * quality metric behind the reference GDS community family — the
   * reference core ships label propagation-style clustering via its graph
   * algorithms, and modularity is the standard score for any partition):
   * Q = Σ_c [ L_c/m − (D_c/2m)² ] with L_c intra-community edge weight,
   * D_c the community's total degree, m the total edge weight. One
   * edge-dedup, one degree aggregate, two broadcast-joined sums — no
   * iteration, partial-aggregable throughout.
   *
   * @param edges  (src, dst[, weight]) — direction ignored, parallel
   *               edges collapse to one (weight = first) like the
   *               undirected scans
   * @param assign (node, community)
   * @return one row (modularity DOUBLE rounded 6dp, communities BIGINT)
   */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("weight")) col("weight").cast("double")
      else lit(1.0)
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), w.as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))
      .localCheckpoint(false)
    val a = broadcast(assign.select(col("node"), col("community")))
    val tagged = und
      .join(a.withColumnRenamed("node", "u").withColumnRenamed("community", "cu"), "u")
      .join(a.withColumnRenamed("node", "v").withColumnRenamed("community", "cv"), "v")
      .localCheckpoint(false)
    val m = tagged.agg(sum("w")).first().getDouble(0)
    val deg = tagged.select(col("cu").as("c"), col("w"))
      .unionByName(tagged.select(col("cv").as("c"), col("w")))
      .groupBy("c").agg(sum("w").as("d"))
    val intra = tagged.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(sum("w").as("l"))
    deg.join(intra, Seq("c"), "left_outer")
      .select((coalesce(col("l"), lit(0.0)) / m
        - pow(col("d") / (2 * m), 2)).as("q"))
      .agg(round(sum("q"), 6).as("modularity"),
        count(lit(1)).as("communities"))
  }

  /**
   * Louvain community detection (Blondel et al. 2008; the reference
   * ecosystem's flagship community algorithm): greedy modularity
   * optimization in two phases per level — local moving, then community
   * contraction — repeated for `levels` levels.
   *
   * The single-machine formulation moves one node at a time off a queue;
   * that ordering doesn't distribute. Here each local-moving round is
   * SYNCHRONOUS and deterministic: every eligible node computes its best
   * neighboring community by modularity gain (argmax over
   * S_uc − k_u·D_c/2m, ties to the smallest community id) and all
   * improving moves apply at once. Synchronous moving can oscillate two
   * adjacent nodes between each other's communities, so rounds alternate
   * a parity gate — only nodes with (xxhash64(id) mod 2 + round) % 2 == 0
   * may move — the standard distributed-Louvain damping (Que et al. 2015).
   * The parity comes from a hash, not the raw id: id-structured
   * projections (all-even generator ids, shifted encodings) would
   * otherwise gate every node onto the same rounds and reintroduce the
   * synchronous two-node swap the gate exists to damp. Rounds
   * stop after two consecutive move-free rounds (both parities clean) or
   * `maxRounds`. Each round is a constant number of hash joins +
   * partial-aggregable sums on the node key; contraction is one
   * aggregate; nothing scans past |E| per round, so the shape survives
   * 100 TB the same way label propagation does.
   *
   * @param edges (src, dst[, weight]) — direction ignored, parallel
   *              edges collapse to one
   * @return (node, community) — community ids canonicalized to the
   *         smallest member node id
   */
  def louvain(edges: DataFrame, maxRounds: Int = 12,
      levels: Int = 2): DataFrame = {
    require(maxRounds >= 1 && levels >= 1, "louvain needs rounds and levels >= 1")
    val w0 = if (edges.columns.contains("weight")) col("weight").cast("double")
      else lit(1.0)
    // level-0 graph: undirected dedup, no self loops (self weight appears
    // only through contraction, tracked separately below)
    var g = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), w0.as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))
      .freshCkpt()
    // Small-graph fast path: classic sequential greedy (the single-machine
    // formulation the paper describes) over a collected edge list — the
    // distributed rounds below cost ~2 driver jobs each, which for a graph
    // that fits in one task is pure scheduling latency. Past
    // Placement.Louvain, the frontier-parallel rounds are the only shape
    // that survives 100 TB. Both paths greedily optimize the same
    // modularity with deterministic (gain desc, community asc)
    // tie-breaks; on tie-heavy graphs they may settle different local
    // optima (sequential moves see earlier moves within a round,
    // synchronous ones don't) — each is individually deterministic.
    for (rows <- Placement.local(g, Placement.Louvain)) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      return localLouvain(es, maxRounds, levels).toSeq.toDF("node", "community")
    }
    // per-node self-loop weight (intra weight of the contracted community)
    var self = g.sparkSession.range(0).select(col("id").as("u"),
      lit(0.0).as("sw"))
    // node -> community at the FINEST level (composed across levels)
    var flat: DataFrame = null

    for (_ <- 1 to levels) {
      val sym = g.select(col("u"), col("v"), col("w"))
        .unionByName(g.select(col("v").as("u"), col("u").as("v"), col("w")))
        .localCheckpoint(false)
      val nodes = sym.select(col("u")).distinct()
        .unionByName(self.select("u")).distinct().freshCkpt()
      // k_u includes twice the self weight (standard degree convention)
      val deg = nodes
        .join(sym.groupBy("u").agg(sum("w").as("kw")), Seq("u"), "left_outer")
        .join(self.withColumnRenamed("sw", "__sw"), Seq("u"), "left_outer")
        .select(col("u"), (coalesce(col("kw"), lit(0.0))
          + lit(2.0) * coalesce(col("__sw"), lit(0.0))).as("k"))
        .freshCkpt()
      val m2 = deg.agg(sum("k")).first().getDouble(0) // = 2m
      require(m2 > 0, "louvain needs at least one edge")
      var assign = nodes.withColumn("comm", col("u")).freshCkpt()
      var cleanRounds = 0
      var r = 0
      while (cleanRounds < 2 && r < maxRounds) {
        val dc = assign.join(deg, "u").groupBy("comm").agg(sum("k").as("d"))
        // S_uc: weight from u to each neighboring community
        val suc = sym
          .join(assign.select(col("u").as("v"), col("comm").as("c")), "v")
          .groupBy("u", "c").agg(sum("w").as("s"))
        // candidate value(u, c) = S_uc − k_u·(D_c − [c = own] k_u)/2m;
        // own community always among candidates (S_ua may be 0 for an
        // isolated-in-community node)
        val own = assign.select(col("u"), col("comm").as("c"))
          .join(suc, Seq("u", "c"), "left_outer")
          .select(col("u"), col("c"), coalesce(col("s"), lit(0.0)).as("s"))
        val cand = suc.unionByName(own)
          .groupBy("u", "c").agg(max("s").as("s"))
          .join(assign, "u").join(deg, "u")
          .join(dc.withColumnRenamed("comm", "c"), "c")
          .select(col("u"), col("c"), col("comm"),
            (col("s") - col("k") * (col("d")
              - when(col("c") === col("comm"), col("k")).otherwise(lit(0.0)))
              / m2).as("val"))
        val best = cand
          .groupBy("u")
          .agg(max(struct(col("val"), (-col("c")).as("nc"))).as("__b"),
            max(when(col("c") === col("comm"), col("val"))).as("ownVal"))
          .select(col("u"), (-col("__b.nc")).as("bc"),
            col("__b.val").as("bv"), col("ownVal"))
        val next = assign.join(best, Seq("u"), "left_outer")
          .select(col("u"), when(
              col("bv") > col("ownVal") + 1e-9 &&
              ((pmod(xxhash64(col("u")), lit(2)) + r) % 2 === 0), col("bc"))
            .otherwise(col("comm")).as("comm"),
            (col("comm") =!= when(
              col("bv") > col("ownVal") + 1e-9 &&
              ((pmod(xxhash64(col("u")), lit(2)) + r) % 2 === 0), col("bc"))
            .otherwise(col("comm"))).as("__moved"))
          .freshCkpt()
        val moves = next.filter(col("__moved")).count()
        assign = next.drop("__moved")
        cleanRounds = if (moves == 0) cleanRounds + 1 else 0
        r += 1
      }
      flat = if (flat == null) assign.select(col("u").as("node"), col("comm"))
        else flat.select(col("node"), col("comm").as("comm0"))
          .join(assign.select(col("u").as("comm0"), col("comm")), "comm0")
          .select(col("node"), col("comm"))
      flat = flat.freshCkpt()
      // contract: communities become nodes; intra weight becomes self weight
      val mapped = g
        .join(assign.select(col("u"), col("comm").as("cu")), "u")
        .join(assign.select(col("u").as("v"), col("comm").as("cv")), "v")
        .select(col("cu"), col("cv"), col("w"))
      self = mapped.filter(col("cu") === col("cv"))
        .groupBy(col("cu").as("u")).agg(sum("w").as("sw"))
        .unionByName(self.join(assign, "u")
          .groupBy(col("comm").as("u")).agg(sum("sw").as("sw")))
        .groupBy("u").agg(sum("sw").as("sw"))
        .freshCkpt()
      g = mapped.filter(col("cu") =!= col("cv"))
        .select(least(col("cu"), col("cv")).as("u"),
          greatest(col("cu"), col("cv")).as("v"), col("w"))
        .groupBy("u", "v").agg(sum("w").as("w"))
        .freshCkpt()
    }
    // canonical community id = smallest member node id
    val canon = flat.groupBy("comm").agg(min("node").as("community"))
    flat.join(canon, "comm").select(col("node"), col("community"))
  }

  /** Sequential greedy Louvain over a bounded, deduped, undirected edge
    * list — node order ascending, immediate move application, (gain desc,
    * community asc) tie-break, contraction between levels. Returns
    * node -> canonical (min-member) community. */
  private def localLouvain(edges: Array[(Long, Long, Double)],
      maxRounds: Int, levels: Int): Map[Long, Long] = {
    require(edges.nonEmpty, "louvain needs at least one edge")
    // current level's graph
    var adj: Map[Long, Array[(Long, Double)]] =
      (edges.map(e => (e._1, (e._2, e._3))) ++
        edges.map(e => (e._2, (e._1, e._3))))
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    var self: Map[Long, Double] = Map.empty
    // original node -> current-level node
    var mapping: Map[Long, Long] =
      adj.keysIterator.map(n => n -> n).toMap

    for (_ <- 1 to levels) {
      val nodes = adj.keys.toArray.sorted
      val k = nodes.map(n =>
        n -> (adj(n).map(_._2).sum + 2 * self.getOrElse(n, 0.0))).toMap
      val m2 = k.values.sum
      val comm = scala.collection.mutable.HashMap(nodes.map(n => n -> n): _*)
      val commDeg = scala.collection.mutable.HashMap(nodes.map(n => n -> k(n)): _*)
      var moved = true
      var r = 0
      while (moved && r < maxRounds) {
        moved = false
        r += 1
        for (u <- nodes) {
          val a = comm(u)
          val su = scala.collection.mutable.HashMap.empty[Long, Double]
          adj(u).foreach { case (v, w) =>
            if (v != u) su(comm(v)) = su.getOrElse(comm(v), 0.0) + w }
          def value(c: Long): Double =
            su.getOrElse(c, 0.0) -
              k(u) * (commDeg(c) - (if (c == a) k(u) else 0.0)) / m2
          // ascending candidate order + strictly-better update = argmax by
          // (gain desc, community asc), moving only on strict improvement —
          // the same rule as the distributed rounds
          val cands = (su.keys ++ Iterator(a)).toArray.distinct.sorted
          var bestC = a; var bestV = value(a)
          cands.foreach { c =>
            val v = value(c)
            if (v > bestV + 1e-9) { bestC = c; bestV = v }
          }
          if (bestC != a) {
            commDeg(a) -= k(u); commDeg(bestC) += k(u); comm(u) = bestC
            moved = true
          }
        }
      }
      mapping = mapping.map { case (orig, cur) => orig -> comm(cur) }
      // contract: communities become nodes
      val newSelf = scala.collection.mutable.HashMap.empty[Long, Double]
      self.foreach { case (n, w) =>
        val c = comm(n); newSelf(c) = newSelf.getOrElse(c, 0.0) + w }
      val newEdges = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
      adj.foreach { case (u, vs) => vs.foreach { case (v, w) =>
        if (u < v) { // each undirected edge once
          val (cu, cv) = (comm(u), comm(v))
          if (cu == cv) newSelf(cu) = newSelf.getOrElse(cu, 0.0) + w
          else {
            val key = (math.min(cu, cv), math.max(cu, cv))
            newEdges(key) = newEdges.getOrElse(key, 0.0) + w
          }
        }
      }}
      self = newSelf.toMap
      adj = (newEdges.toSeq.map { case ((u, v), w) => (u, (v, w)) } ++
          newEdges.toSeq.map { case ((u, v), w) => (v, (u, w)) } ++
          self.keys.map(n => (n, (n, 0.0))).toSeq) // keep isolated supernodes
        .groupBy(_._1)
        .map { case (kk, xs) => kk -> xs.map(_._2).filter(x => x._1 != kk).toArray }
    }
    // canonical min-member ids
    val minOf = mapping.toSeq.groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(_._1).min }
    mapping.map { case (n, c) => n -> minOf(c) }
  }
}
