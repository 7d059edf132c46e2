package graft.functions

import graft.graph.PropertyGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Procedure surface — the reference's callable procedures and user-function
 * registry (procedure-api/.../Procedure.java:111, UserFunction.java:103,
 * built-ins in community/procedure/.../builtin/BuiltInProcedures.java:
 * db.labels, db.relationshipTypes, db.propertyKeys, db.schema.*,
 * db.index.fulltext.queryNodes, db.index.vector.queryNodes).
 *
 * A procedure here is a named (SparkSession, PropertyGraph, args) =>
 * DataFrame — it returns a plan, so procedure calls compose with further
 * transforms and stay lazily optimized. User registration is a concurrent
 * map (the reference's global procedure registry); scalar user functions go
 * through spark.udf / SparkSessionExtensions (see NormalizeUnicode for the
 * native-Expression path, which is the preferred one — codegen, no boxing).
 */
object Procedures {

  type Proc = (SparkSession, PropertyGraph, Seq[Any]) => DataFrame

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Proc]()

  /** Register a user procedure (reference @Procedure annotation scan). */
  def register(name: String, p: Proc): Unit = registry.put(name.toLowerCase, p)

  /** GRAPH procedures (the reference's SCHEMA / WRITE mode procedures,
    * e.g. db.index.vector.createNodeIndex): return an updated snapshot
    * alongside their result rows. The planner threads the snapshot into
    * subsequent clauses; `Cypher.execute` returns it — under read-only
    * `Cypher.run` the mutation is discarded with the statement. */
  type GraphProc = (SparkSession, PropertyGraph, Seq[Any]) => (PropertyGraph, DataFrame)

  private val graphRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, GraphProc]()

  def registerGraph(name: String, p: GraphProc): Unit =
    graphRegistry.put(name.toLowerCase, p)

  def graphProc(name: String): Option[GraphProc] =
    Option(graphRegistry.get(name.toLowerCase))

  def call(spark: SparkSession, g: PropertyGraph, name: String, args: Any*): DataFrame = {
    val p = registry.get(name.toLowerCase)
    require(p != null, s"unknown procedure $name — registered: ${names.mkString(", ")}")
    p(spark, g, args)
  }

  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    (registry.keys.asScala.toSeq ++ graphRegistry.keys.asScala.toSeq).sorted
  }

  // ---- built-ins (registered once at class load) ------------------------

  // reference BuiltInProcedures.java:99 — db.labels yields the single
  // `label` column (counts live in the count store, not the procedure)
  register("db.labels", (_, g, _) =>
    g.nodes.select(explode(col("labels")).as("label")).distinct())

  register("db.relationshiptypes", (_, g, _) =>
    g.rels.select(col("type").as("relationshipType")).distinct())

  /** Surplus (graft.*): label/type cardinalities off the count store —
    * the counts the reference surfaces through db.stats/SHOW, kept OFF
    * db.labels()/db.relationshipTypes() for signature parity. */
  register("graft.stats.labels", (_, g, _) =>
    g.nodes.select(explode(col("labels")).as("label"))
      .groupBy("label").agg(count(lit(1)).as("nodeCount")))

  register("graft.stats.relationshiptypes", (_, g, _) =>
    g.rels.groupBy(col("type").as("relationshipType"))
      .agg(count(lit(1)).as("relCount")))

  register("db.propertykeys", (_, g, _) => {
    val nodeKeys = g.nodes.columns.filterNot(Set("id", "labels"))
      .map(graft.graph.PropertyGraph.colProp)
    val relKeys = g.rels.columns.filterNot(Set("id", "src", "dst", "type"))
      .map(graft.graph.PropertyGraph.colProp)
    val s = g.nodes.sparkSession
    import s.implicits._
    (nodeKeys.map(k => (k, "node")) ++ relKeys.map(k => (k, "relationship")))
      .toSeq.toDF("propertyKey", "entity")
  })

  /** db.schema.visualization: the (srcLabel)-[type]->(dstLabel) summary
    * graph — exactly the count-store triples. */
  register("db.schema.visualization", (_, g, _) =>
    g.stats.tripleCounts
      .select(col("srcLabel"), col("type"), col("dstLabel"), col("cnt")))

  /** db.awaitIndex(es): index population is synchronous in a columnar
    * engine (there is nothing to wait for) — no-op unit result so
    * `CALL db.awaitIndexes()` mid-query keeps its rows (reference
    * BuiltInProcedures.awaitIndexes). */
  register("db.awaitindexes", (spark, _, _) => spark.range(1).drop("id"))
  register("db.awaitindex", (spark, _, _) => spark.range(1).drop("id"))
  register("db.resampleindex", (spark, _, _) => spark.range(1).drop("id"))
  register("db.resampleoutdatedindexes", (spark, _, _) =>
    spark.range(1).drop("id"))

  /** db.indexes / db.constraints: schema catalog introspection (reference
    * BuiltInProcedures db.indexes / SHOW commands). */
  register("db.indexes", (spark, g, _) => {
    import spark.implicits._
    g.schema.indexes.map(i => (i.name, i.label, i.prop, i.kind))
      .toDF("name", "label", "property", "type")
  })

  register("db.constraints", (spark, g, _) => {
    import spark.implicits._
    g.schema.constraints.map(c => (c.name, c.label, c.prop, c.kind))
      .toDF("name", "label", "property", "type")
  })

  /** First arg of index procedures may be a catalog INDEX NAME (the
    * reference's calling convention — procedures take the index, not the
    * property) or a bare property name: resolve names of the wanted kind
    * to (label-scoped rows, property). */
  private def resolveIndex(g: PropertyGraph, arg: String, kind: String,
      nodes: Boolean): (DataFrame, String) =
    g.schema.indexes.find(i => i.name == arg && i.kind == kind) match {
      case Some(i) if nodes => (g.nodesByLabel(i.label), i.prop)
      case Some(i)          => (g.rels.filter(col("type") === i.label), i.prop)
      case None if nodes    => (g.nodes, arg)
      case None             => (g.rels, arg)
    }

  /** db.index.fulltext.queryNodes(indexNameOrProp, query, k[, analyzer]):
    * BM25 over a node property (reference FulltextProcedures.java:90;
    * analyzer selection per FulltextProcedures.java:202). */
  register("db.index.fulltext.querynodes", (_, g, args) => {
    val Seq(arg: String, query: String, k: Number) = args.take(3)
    val analyzer = args.lift(3).map(_.toString).getOrElse("standard")
    val (rows, prop) = resolveIndex(g, arg, "fulltext", nodes = true)
    require(rows.columns.contains(prop), s"unknown node property $prop")
    Fulltext.bm25TopK(rows.filter(col(prop).isNotNull), "id", prop, query,
      k.intValue, analyzer = analyzer)
  })

  /** db.index.fulltext.queryRelationships(textProp, query, k[, analyzer]):
    * BM25 over a relationship property (reference
    * FulltextProcedures.java:120). */
  register("db.index.fulltext.queryrelationships", (_, g, args) => {
    val Seq(arg: String, query: String, k: Number) = args.take(3)
    val analyzer = args.lift(3).map(_.toString).getOrElse("standard")
    val (rows, prop) = resolveIndex(g, arg, "fulltext", nodes = false)
    require(rows.columns.contains(prop), s"unknown relationship property $prop")
    Fulltext.bm25TopK(rows.filter(col(prop).isNotNull), "id", prop, query,
      k.intValue, analyzer = analyzer)
  })

  /** db.index.vector.queryRelationships(indexNameOrProp, k, queryVec):
    * brute-force cosine top-k over a relationship vector property
    * (reference VectorIndexProcedures.java:197 queryRelationships). */
  register("db.index.vector.queryrelationships", (spark, g, args) => {
    val Seq(arg: String, k: Number, qvec: Seq[_]) = args.take(3)
    import spark.implicits._
    val (rows, prop) = resolveIndex(g, arg, "vector", nodes = false)
    require(rows.columns.contains(prop), s"unknown relationship property $prop")
    val idx = g.schema.indexes.find(i => i.name == arg && i.kind == "vector")
    val metric = idx.flatMap(_.options.get("vector.similarity"))
      .getOrElse("COSINE")
    idx.flatMap(_.options.get("vector.dimensions")).foreach { d =>
      require(qvec.size == d.toInt,
        s"query vector has ${qvec.size} dimensions; index $arg expects $d")
    }
    val queries = Seq((0L, qvec.map(_.toString.toDouble).toArray))
      .toDF("qid", "qvec")
    Similarity.bruteForceTopK(
      rows.filter(col(prop).isNotNull).select(col("id"), col(prop).as("vec")),
      queries, k.intValue, metric, excludeSelf = false).drop("qid")
  })

  /** graft.shortestPath.dijkstra(srcIds, dstIds, weightProp[,
    * defaultWeight[, relTypes[, maxIter[, direction]]]]) — the
    * weighted-shortest-path procedure surface (reference graph-algo
    * Dijkstra.java / DijkstraBidirectional.java; classic
    * `algo.shortestPath`-style call). srcIds: node id or list; dstIds:
    * node id / list / [] = every reached node (SSSP output — no
    * sources × candidates pair set is ever built). Rels missing the
    * weight property take `defaultWeight` when given and are excluded
    * otherwise. direction OUT (default) / IN / BOTH orients the expansion
    * like the reference's PathExpander. Runs the frontier-parallel
    * relaxation of WeightedPaths (a priority queue doesn't distribute).
    * YIELDs (sourceNode, targetNode, totalCost, relIds, nodeIds). */
  register("graft.shortestpath.dijkstra", (spark, g, args) => {
    import spark.implicits._
    def longs(a: Any): Seq[Long] = a match {
      case n: Number  => Seq(n.longValue)
      case xs: Seq[_] => xs.map { case n: Number => n.longValue }
      case other => throw new IllegalArgumentException(
        s"expected node id(s), got $other")
    }
    val srcs = longs(args(0))
    val dsts = longs(args(1))
    val prop = args(2).asInstanceOf[String]
    val defaultW = args.lift(3).collect { case n: Number => n.doubleValue }
    val types: Seq[String] = args.lift(4).map {
      case xs: Seq[_] => xs.map(_.toString)
      case s: String  => Seq(s)
      case other => throw new IllegalArgumentException(
        s"expected relationship type(s), got $other")
    }.getOrElse(Seq.empty)
    val maxIter = args.lift(5).collect { case n: Number => n.intValue }.getOrElse(50)
    val direction = args.lift(6).map(_.toString.toUpperCase).getOrElse("OUT")
    require(g.rels.columns.contains(prop), s"unknown relationship property $prop")
    require(srcs.nonEmpty, "dijkstra needs at least one source node id")
    val base = if (types.isEmpty) g.rels else g.rels.filter(col("type").isin(types: _*))
    val w = defaultW match {
      case Some(d) => coalesce(col(prop).cast("double"), lit(d))
      case None    => col(prop).cast("double")
    }
    val fwd = base.select(col("id"), col("src"), col("dst"), w.as("weight"))
    val rev = base.select(col("id"), col("dst").as("src"), col("src").as("dst"),
      w.as("weight"))
    val edges0 = direction match {
      case "OUT"  => fwd
      case "IN"   => rev
      case "BOTH" => fwd.unionByName(rev)
      case other  => throw new IllegalArgumentException(
        s"direction must be OUT, IN or BOTH, got $other")
    }
    val edges = if (defaultW.isDefined) edges0 else edges0.filter(col("weight").isNotNull)
    val res = graft.ops.WeightedPaths.shortestPaths(edges, srcs.toDF("source"), maxIter)
    val restricted =
      if (dsts.isEmpty) res
      else res.join(broadcast(dsts.toDF("node")), Seq("node"), "left_semi")
    restricted.select(col("source").as("sourceNode"), col("node").as("targetNode"),
      col("dist").as("totalCost"), col("path").as("relIds"), col("nodes").as("nodeIds"))
  })

  /** Shared edge preparation for the single-pair path procedures:
    * type-filter + weight column (defaultWeight fills missing, else rels
    * without the property are excluded). */
  private def weightedEdges(g: graft.graph.PropertyGraph, prop: String,
      defaultW: Option[Double], types: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(g.rels.columns.contains(prop), s"unknown relationship property $prop")
    val base = if (types.isEmpty) g.rels else g.rels.filter(col("type").isin(types: _*))
    val w = defaultW match {
      case Some(d) => coalesce(col(prop).cast("double"), lit(d))
      case None    => col(prop).cast("double")
    }
    val e = base.select(col("id"), col("src"), col("dst"), w.as("weight"))
    if (defaultW.isDefined) e else e.filter(col("weight").isNotNull)
  }

  /** (id, src, dst) rel relation oriented per the direction argument the
    * graph-algo procedures share (reference Direction.OUTGOING/INCOMING/
    * BOTH on the PathExpander), read from the warm topology. */
  private def orientedEdges(g: graft.graph.PropertyGraph, types: Seq[String],
      direction: String): org.apache.spark.sql.DataFrame =
    g.orientTyped(types, direction match {
      case "OUT"  => graft.graph.Direction.Out
      case "IN"   => graft.graph.Direction.In
      case "BOTH" => graft.graph.Direction.Both
      case other  => throw new IllegalArgumentException(
        s"direction must be OUT, IN or BOTH, got $other")
    })

  private def relTypesArg(a: Option[Any]): Seq[String] = a.map {
    case xs: Seq[_] => xs.map(_.toString)
    case s: String  => Seq(s)
    case other => throw new IllegalArgumentException(
      s"expected relationship type(s), got $other")
  }.getOrElse(Seq.empty)

  /** graft.shortestPath.bidirectional(srcId, dstId, weightProp[,
    * defaultWeight[, relTypes[, maxIter]]]) — meet-in-the-middle
    * single-pair search (reference graph-algo DijkstraBidirectional.java):
    * O(b^(d/2)) states per side instead of the forward search's O(b^d).
    * YIELDs (sourceNode, targetNode, totalCost, relIds, nodeIds). */
  register("graft.shortestpath.bidirectional", (spark, g, args) => {
    val Seq(src: Number, dst: Number, prop: String) = args.take(3)
    val defaultW = args.lift(3).collect { case n: Number => n.doubleValue }
    val types = relTypesArg(args.lift(4))
    val maxIter = args.lift(5).collect { case n: Number => n.intValue }.getOrElse(200)
    graft.ops.WeightedPaths.bidirectional(
      weightedEdges(g, prop, defaultW, types), src.longValue, dst.longValue, maxIter)
      .select(col("source").as("sourceNode"), col("target").as("targetNode"),
        col("dist").as("totalCost"), col("path").as("relIds"),
        col("nodes").as("nodeIds"))
  })

  /** graft.shortestPath.astar(srcId, dstId, weightProp, xProp, yProp[,
    * defaultWeight[, relTypes[, scale[, maxIter]]]]) — A* single-pair
    * search (reference graph-algo AStar.java + EstimateEvaluator): node
    * coordinates come from two node properties; h = euclidean distance to
    * the target x scale. Admissibility (exactness) requires edge weights
    * >= scale x coordinate distance between endpoints. */
  register("graft.shortestpath.astar", (spark, g, args) => {
    val Seq(src: Number, dst: Number, prop: String) = args.take(3)
    val xProp = args(3).asInstanceOf[String]
    val yProp = args(4).asInstanceOf[String]
    val defaultW = args.lift(5).collect { case n: Number => n.doubleValue }
    val types = relTypesArg(args.lift(6))
    val scale = args.lift(7).collect { case n: Number => n.doubleValue }.getOrElse(1.0)
    val maxIter = args.lift(8).collect { case n: Number => n.intValue }.getOrElse(50)
    require(g.nodes.columns.contains(xProp) && g.nodes.columns.contains(yProp),
      s"unknown node coordinate properties $xProp/$yProp")
    val coords = g.nodes.select(col("id"), col(xProp).as("x"), col(yProp).as("y"))
    graft.ops.WeightedPaths.astar(weightedEdges(g, prop, defaultW, types),
      coords, src.longValue, dst.longValue, scale, maxIter)
      .select(col("source").as("sourceNode"), col("target").as("targetNode"),
        col("dist").as("totalCost"), col("path").as("relIds"),
        col("nodes").as("nodeIds"))
  })

  /** graft.louvain([relTypes[, maxRounds[, levels]]]) — Louvain community
    * detection over the undirected projection (Blondel et al. 2008; the
    * ecosystem's flagship community algorithm — see Ranking.louvain for
    * the synchronous distributed formulation). YIELDs (nodeId,
    * communityId) with community ids canonicalized to the smallest
    * member node id. */
  register("graft.louvain", (spark, g, args) => {
    val types = relTypesArg(args.lift(0))
    val maxRounds = args.lift(1).collect { case n: Number => n.intValue }.getOrElse(12)
    val levels = args.lift(2).collect { case n: Number => n.intValue }.getOrElse(2)
    val base = if (types.isEmpty) g.rels
      else g.rels.filter(col("type").isin(types: _*))
    graft.ops.Ranking.louvain(base.select(col("src"), col("dst")),
        maxRounds, levels)
      .select(col("node").as("nodeId"), col("community").as("communityId"))
  })

  /** graft.minimumSpanningTree(weightProp[, defaultWeight[, relTypes]])
    * — minimum spanning forest over the undirected projection (Borůvka;
    * the ecosystem's spanning-tree surface runs single-machine Prim).
    * YIELDs (relId, sourceNode, targetNode, weight). */
  register("graft.minimumspanningtree", (spark, g, args) => {
    val prop = args(0).asInstanceOf[String]
    val defaultW = args.lift(1).collect { case n: Number => n.doubleValue }
    val types = relTypesArg(args.lift(2))
    graft.ops.SpanningTree.minimumSpanningForest(
        weightedEdges(g, prop, defaultW, types))
      .select(col("id").as("relId"), col("src").as("sourceNode"),
        col("dst").as("targetNode"), col("weight"))
  })

  /** Shared melt for the db.schema.*TypeProperties procedures: per
    * (group, property column), observed presence + mandatory flag from ONE
    * wide aggregate pass; the collect is bounded by |groups| (labels/rel
    * types), never data size. */
  private def typeProperties(grouped: org.apache.spark.sql.DataFrame,
      groupCol: String, propCols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Seq[(String, String, String, Boolean)] = {
    val aggs = propCols.map { case (c, _) => count(col(c)).as(s"__n_$c") } :+
      count(lit(1)).as("__total")
    val stats = grouped.groupBy(groupCol).agg(aggs.head, aggs.tail: _*).collect()
    stats.toSeq.flatMap { r =>
      val grp = r.getString(0)
      val total = r.getAs[Long]("__total")
      propCols.flatMap { case (c, dt) =>
        val n = r.getAs[Long](s"__n_$c")
        if (n == 0) None
        else Some((grp, graft.graph.PropertyGraph.colProp(c),
          cypherTypeName(dt), n == total))
      }
    }
  }

  private def cypherTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType => "Long"
      case DoubleType | FloatType             => "Double"
      case StringType                         => "String"
      case BooleanType                        => "Boolean"
      case DateType                           => "Date"
      case TimestampNTZType                   => "LocalDateTime"
      case TimestampType                      => "DateTime"
      case ArrayType(StringType, _)           => "StringArray"
      case ArrayType(LongType, _)             => "LongArray"
      case ArrayType(DoubleType, _)           => "DoubleArray"
      case other                              => other.simpleString
    }
  }

  /** db.schema.nodeTypeProperties (reference BuiltInProcedures — the
    * schema-introspection surface drivers and UIs call): per (label,
    * property) the observed value type and whether every node of the
    * label carries it. Computed FROM DATA, not from a catalog — one wide
    * aggregate over the nodes relation. propertyTypes joins to a string
    * (reference yields a list; a scalar keeps the row hash-comparable). */
  register("db.schema.nodetypeproperties", (spark, g, args) => {
    import spark.implicits._
    val propCols = g.nodes.schema.fields
      .filterNot(f => f.name == "id" || f.name == "labels" ||
        f.dataType == org.apache.spark.sql.types.NullType)
      .map(f => f.name -> f.dataType).toSeq
    val base = g.nodes.select(
      (explode(col("labels")).as("label") +: propCols.map(p => col(p._1))): _*)
    typeProperties(base, "label", propCols)
      .map { case (l, p, t, m) => (s":`$l`", l, p, t, m) }
      .toDF("nodeType", "nodeLabels", "propertyName", "propertyTypes",
        "mandatory")
  })

  /** db.schema.relTypeProperties — the relationship twin. */
  register("db.schema.reltypeproperties", (spark, g, args) => {
    import spark.implicits._
    val propCols = g.rels.schema.fields
      .filterNot(f => Set("id", "src", "dst", "type")(f.name) ||
        f.dataType == org.apache.spark.sql.types.NullType)
      .map(f => f.name -> f.dataType).toSeq
    if (propCols.isEmpty)
      Seq.empty[(String, String, String, Boolean)]
        .toDF("relType", "propertyName", "propertyTypes", "mandatory")
    else typeProperties(g.rels.select(
        (col("type") +: propCols.map(p => col(p._1))): _*), "type", propCols)
      .map { case (t, p, ty, m) => (s":`$t`", p, ty, m) }
      .toDF("relType", "propertyName", "propertyTypes", "mandatory")
  })

  /** graft.fastRP([relTypes[, dim[, iterationWeights[, seed]]]]) — FastRP
    * node embeddings (Chen et al. 2019; the ecosystem's default
    * embedding) over the undirected projection. YIELDs (nodeId,
    * embedding). */
  register("graft.fastrp", (spark, g, args) => {
    val types = relTypesArg(args.lift(0))
    val dim = args.lift(1).collect { case n: Number => n.intValue }.getOrElse(64)
    val weights = args.lift(2).collect {
      case xs: Seq[_] => xs.map { case n: Number => n.doubleValue }
    }.getOrElse(Seq(0.0, 1.0, 1.0))
    val seed = args.lift(3).collect { case n: Number => n.longValue }.getOrElse(42L)
    val base = if (types.isEmpty) g.rels
      else g.rels.filter(col("type").isin(types: _*))
    val sym = base.select(col("src"), col("dst"))
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
    graft.ops.Walks.fastRP(sym, dim, weights, seed)
      .select(col("node").as("nodeId"), col("embedding"))
  })

  /** graft.hits([relTypes[, iterations]]) — HITS hubs & authorities
    * (Kleinberg 1999) over the directed projection; see Centrality.hits.
    * YIELDs (nodeId, hub, authority). */
  register("graft.hits", (spark, g, args) => {
    val types = relTypesArg(args.lift(0))
    val iters = args.lift(1).collect { case n: Number => n.intValue }.getOrElse(3)
    val base = if (types.isEmpty) g.rels
      else g.rels.filter(col("type").isin(types: _*))
    graft.ops.Centrality.hits(base.select("src", "dst"), iters)
      .select(col("node").as("nodeId"), col("hub"), col("authority"))
  })

  /** graft.eigenvector([relTypes[, iterations[, direction]]]) —
    * eigenvector centrality power iteration; direction BOTH symmetrizes.
    * YIELDs (nodeId, score). */
  register("graft.eigenvector", (spark, g, args) => {
    val types = relTypesArg(args.lift(0))
    val iters = args.lift(1).collect { case n: Number => n.intValue }.getOrElse(10)
    val direction = args.lift(2).map(_.toString.toUpperCase).getOrElse("OUT")
    val edges = orientedEdges(g, types, direction).select("src", "dst")
    graft.ops.Centrality.eigenvector(edges, iters)
      .select(col("node").as("nodeId"), col("score"))
  })

  /** graft.shortestPath.kCheapest(srcIds, dstIds, k, weightProp[,
    * defaultWeight[, relTypes[, maxDepth[, direction]]]]) — ranked
    * k-cheapest trails per (source, target) with a hop cap (reference
    * graph-algo Dijkstra.java findAllPaths returns the equal-cost tie
    * set; this extends it to a ranked top-k, the Yen's-shape output).
    * YIELDs (sourceNode, targetNode, totalCost, hops, relIds, rank). */
  register("graft.shortestpath.kcheapest", (spark, g, args) => {
    import spark.implicits._
    def longs(a: Any): Seq[Long] = a match {
      case n: Number  => Seq(n.longValue)
      case xs: Seq[_] => xs.map { case n: Number => n.longValue }
      case other => throw new IllegalArgumentException(
        s"expected node id(s), got $other")
    }
    val srcs = longs(args(0))
    val dsts = longs(args(1))
    val k = args(2).asInstanceOf[Number].intValue
    val prop = args(3).asInstanceOf[String]
    val defaultW = args.lift(4).collect { case n: Number => n.doubleValue }
    val types = relTypesArg(args.lift(5))
    val maxDepth = args.lift(6).collect { case n: Number => n.intValue }.getOrElse(20)
    val direction = args.lift(7).map(_.toString.toUpperCase).getOrElse("OUT")
    require(srcs.nonEmpty && dsts.nonEmpty,
      "kCheapest needs source and target node id(s)")
    val we = weightedEdges(g, prop, defaultW, types)
    val edges = direction match {
      case "OUT"  => we
      case "IN"   => we.select(col("id"), col("dst").as("src"),
        col("src").as("dst"), col("weight"))
      case "BOTH" => we.unionByName(we.select(col("id"), col("dst").as("src"),
        col("src").as("dst"), col("weight")))
      case other  => throw new IllegalArgumentException(
        s"direction must be OUT, IN or BOTH, got $other")
    }
    val pairs = (for (s <- srcs; d <- dsts) yield (s, d)).toDF("source", "target")
    graft.ops.WeightedPaths.kCheapest(edges, pairs, k, maxDepth)
      .select(col("source").as("sourceNode"), col("target").as("targetNode"),
        col("dist").as("totalCost"), col("hops"), col("path").as("relIds"),
        col("rank"))
  })

  /** graft.shortestPath.alt(srcId, dstId, weightProp, landmarkIds[,
    * defaultWeight[, relTypes[, maxIter]]]) — ALT single-pair search
    * (A* + Landmarks + Triangle inequality, Goldberg & Harrelson 2005):
    * coordinate-free goal direction from precomputed landmark distance
    * tables; see WeightedPaths.astarAlt. YIELDs (sourceNode, targetNode,
    * totalCost, relIds, nodeIds). */
  register("graft.shortestpath.alt", (spark, g, args) => {
    val Seq(src: Number, dst: Number, prop: String) = args.take(3)
    val lms = args(3) match {
      case xs: Seq[_] => xs.map { case n: Number => n.longValue }
      case n: Number  => Seq(n.longValue)
      case other => throw new IllegalArgumentException(
        s"expected landmark node id(s), got $other")
    }
    val defaultW = args.lift(4).collect { case n: Number => n.doubleValue }
    val types = relTypesArg(args.lift(5))
    val maxIter = args.lift(6).collect { case n: Number => n.intValue }.getOrElse(50)
    val we = weightedEdges(g, prop, defaultW, types)
    val (toL, fromL) = graft.ops.Landmarks.build(we, lms, maxIter)
    graft.ops.WeightedPaths.astarAlt(we, toL, fromL,
        src.longValue, dst.longValue, maxIter)
      .select(col("source").as("sourceNode"), col("target").as("targetNode"),
        col("dist").as("totalCost"), col("path").as("relIds"),
        col("nodes").as("nodeIds"))
  })

  /** graft.allSimplePaths(srcId, dstId, maxDepth[, relTypes[, direction]])
    * — bounded simple-path (node-unique) enumeration between two nodes
    * (reference graph-algo AllSimplePaths.java). direction OUT (default) /
    * IN / BOTH. YIELDs (hops, relIds, nodeIds). */
  register("graft.allsimplepaths", (spark, g, args) => {
    val Seq(src: Number, dst: Number, depth: Number) = args.take(3)
    val edges = orientedEdges(g, relTypesArg(args.lift(3)),
      args.lift(4).map(_.toString.toUpperCase).getOrElse("OUT"))
    graft.ops.Bfs.allSimplePaths(edges, src.longValue, dst.longValue,
        depth.intValue)
      .select(col("hops"), col("path").as("relIds"), col("nodes").as("nodeIds"))
  })

  /** graft.allPaths(srcId, dstId, maxDepth[, relTypes[, direction]]) —
    * every path between two nodes up to maxDepth under RELATIONSHIP_PATH
    * uniqueness (reference graph-algo AllPaths.java): rels may not repeat
    * within a path, nodes may. YIELDs (hops, relIds, nodeIds). */
  register("graft.allpaths", (spark, g, args) => {
    val Seq(src: Number, dst: Number, depth: Number) = args.take(3)
    val edges = orientedEdges(g, relTypesArg(args.lift(3)),
      args.lift(4).map(_.toString.toUpperCase).getOrElse("OUT"))
    import spark.implicits._
    graft.ops.Trail.trail(edges, Seq(src.longValue).toDF("__src"), "__src",
        1, Some(depth.intValue), endAlias = "__to", relsAlias = "relIds",
        nodesAlias = Some("nodeIds"), hopsAlias = "hops", checkpointEvery = 3)
      .filter(col("__to") === dst.longValue)
      .select(col("hops"), col("relIds"), col("nodeIds"))
  })

  /** graft.pathsWithLength(srcId, dstId, depth[, relTypes[, direction[,
    * allowLoops]]]) — paths of EXACTLY the given length (reference
    * graph-algo ExactDepthPathFinder.java / GraphAlgoFactory
    * .pathsWithLength): node-unique by default; allowLoops=true relaxes to
    * relationship-uniqueness (the reference's RELATIONSHIP_GLOBAL mode), so
    * paths may revisit nodes but not rels. YIELDs (hops, relIds, nodeIds). */
  register("graft.pathswithlength", (spark, g, args) => {
    val Seq(src: Number, dst: Number, depth: Number) = args.take(3)
    val edges = orientedEdges(g, relTypesArg(args.lift(3)),
      args.lift(4).map(_.toString.toUpperCase).getOrElse("OUT"))
    val allowLoops = args.lift(5).collect {
      case b: java.lang.Boolean => b.booleanValue }.getOrElse(false)
    val d = depth.intValue
    if (allowLoops) {
      import spark.implicits._
      graft.ops.Trail.trail(edges, Seq(src.longValue).toDF("__src"), "__src",
          d, Some(d), endAlias = "__to", relsAlias = "relIds",
          nodesAlias = Some("nodeIds"), hopsAlias = "hops", checkpointEvery = 3)
        .filter(col("__to") === dst.longValue)
        .select(col("hops"), col("relIds"), col("nodeIds"))
    } else {
      // node-uniqueness: a simple path of length d is an allSimplePaths row
      // at exactly d hops (touching the target earlier would repeat it)
      graft.ops.Bfs.allSimplePaths(edges, src.longValue, dst.longValue, d)
        .filter(col("hops") === d)
        .select(col("hops"), col("path").as("relIds"),
          col("nodes").as("nodeIds"))
    }
  })

  /** graft.allPairsShortestPaths(weightProp[, defaultWeight[, relTypes[,
    * direction[, maxIter]]]]) — all-pairs shortest path costs (reference
    * graph-algo FloydWarshall.java, which is O(V^3) time / O(V^2) memory
    * and documented for small dense graphs; same operating envelope here).
    * Every node seeds ONE shared Bellman-Ford frontier, so the work is
    * O(V·E) spread over hop-bounded rounds with two (source, node)-keyed
    * shuffles per round — nothing materializes a V×V matrix, and at 100 TB
    * the caller restricts to a subgraph or pivot set first (as with
    * closeness centrality). YIELDs (sourceNode, targetNode, totalCost);
    * the self-pair (v, v, 0.0) is included, matching FloydWarshall's
    * zero-initialized diagonal. */
  register("graft.allpairsshortestpaths", (spark, g, args) => {
    val prop = args(0).asInstanceOf[String]
    val defaultW = args.lift(1).collect { case n: Number => n.doubleValue }
    val types = relTypesArg(args.lift(2))
    val direction = args.lift(3).map(_.toString.toUpperCase).getOrElse("OUT")
    val maxIter = args.lift(4).collect { case n: Number => n.intValue }.getOrElse(50)
    val we = weightedEdges(g, prop, defaultW, types)
    val rev = we.select(col("id"), col("dst").as("src"), col("src").as("dst"),
      col("weight"))
    val e = direction match {
      case "OUT"  => we
      case "IN"   => rev
      case "BOTH" => we.unionByName(rev)
      case other  => throw new IllegalArgumentException(
        s"direction must be OUT, IN or BOTH, got $other")
    }
    graft.ops.WeightedPaths.allPairsDistances(
        e, g.nodes.select(col("id").as("source")), maxIter)
      .select(col("source").as("sourceNode"), col("node").as("targetNode"),
        col("dist").as("totalCost"))
  })

  /** db.index.vector.queryNodes(indexNameOrProp, k, queryVec): brute-force
    * cosine top-k (reference VectorIndexProcedures.java:144). Index names
    * come from `CREATE VECTOR INDEX … FOR (n:Label) ON (n.prop)` and scope
    * the scan to the indexed label. */
  /** graft.centrality.closeness(sourceIds[, relTypes[, direction[,
    * maxDepth]]]) — closeness + harmonic centrality from the given pivot
    * nodes (empty list = every node: exact, O(|V|·|E|) — pass pivots at
    * scale). YIELDs (node, reached, closeness, harmonic). */
  register("graft.centrality.closeness", (spark, g, args) => {
    import spark.implicits._
    val srcs = args(0) match {
      case xs: Seq[_] => xs.map { case n: Number => n.longValue }
      case n: Number  => Seq(n.longValue)
      case other => throw new IllegalArgumentException(
        s"expected source node id(s), got $other")
    }
    val edges = orientedEdges(g, relTypesArg(args.lift(1)),
      args.lift(2).map(_.toString.toUpperCase).getOrElse("OUT"))
    val maxDepth = args.lift(3).collect { case n: Number => n.intValue }
      .getOrElse(15)
    val sources = if (srcs.nonEmpty) srcs.toDF("source")
      else g.nodes.select(col("id").as("source"))
    graft.ops.Centrality.closenessHarmonic(edges, sources, maxDepth)
  })

  /** graft.centrality.betweenness(sourceIds[, relTypes[, direction[,
    * maxDepth]]]) — Brandes betweenness; empty source list = exact (all
    * nodes), otherwise the pivot-sampled estimate (scale by
    * |V|/|pivots| downstream). YIELDs (node, betweenness). */
  register("graft.centrality.betweenness", (spark, g, args) => {
    import spark.implicits._
    val srcs = args(0) match {
      case xs: Seq[_] => xs.map { case n: Number => n.longValue }
      case n: Number  => Seq(n.longValue)
      case other => throw new IllegalArgumentException(
        s"expected source node id(s), got $other")
    }
    val edges = orientedEdges(g, relTypesArg(args.lift(1)),
      args.lift(2).map(_.toString.toUpperCase).getOrElse("OUT"))
    val maxDepth = args.lift(3).collect { case n: Number => n.intValue }
      .getOrElse(15)
    val sources = if (srcs.nonEmpty) srcs.toDF("source")
      else g.nodes.select(col("id").as("source"))
    graft.ops.Centrality.betweenness(edges, sources, maxDepth)
  })

  /** graft.kcore(k[, relTypes]) — members of the k-core of the
    * undirected graph. YIELDs (node). */
  register("graft.kcore", (spark, g, args) => {
    val k = args(0) match { case n: Number => n.intValue }
    val edges = orientedEdges(g, relTypesArg(args.lift(1)), "OUT")
    graft.ops.Centrality.kCore(edges, k)
  })

  /** graft.generate.rmat(scale, edges[, seed]) — deterministic R-MAT
    * synthetic graph corpus (Chakrabarti et al. 2004; see
    * Walks.rmatEdges). Ignores the bound graph — a generator, surfaced
    * for scale experiments from the Cypher shell. YIELDs (src, dst). */
  register("graft.generate.rmat", (spark, g, args) => {
    val scale = args(0) match { case n: Number => n.intValue }
    val nEdges = args(1) match { case n: Number => n.longValue }
    val seed = args.lift(2).collect { case n: Number => n.longValue }.getOrElse(42L)
    graft.ops.Walks.rmatEdges(spark, scale, nEdges, seed)
  })

  /** graft.ktruss(k[, relTypes]) — k-truss decomposition (see
    * Centrality.kTruss). YIELDs (u, v) surviving undirected edges. */
  register("graft.ktruss", (spark, g, args) => {
    val k = args(0) match { case n: Number => n.intValue }
    val edges = orientedEdges(g, relTypesArg(args.lift(1)), "OUT")
    graft.ops.Centrality.kTruss(edges, k)
  })

  /** graft.randomwalks(steps, walksPerNode[, relTypes[, direction]]) —
    * deterministic hash-seeded walk corpus from every node (DeepWalk
    * input layer). YIELDs (walk, step, node). */
  register("graft.randomwalks", (spark, g, args) => {
    val steps = args(0) match { case n: Number => n.intValue }
    val per = args(1) match { case n: Number => n.intValue }
    val edges = orientedEdges(g, relTypesArg(args.lift(2)),
      args.lift(3).map(_.toString.toUpperCase).getOrElse("OUT"))
    graft.ops.Walks.randomWalks(edges,
      g.nodes.select(col("id").as("start")), steps, per)
  })

  /** graft.topologicallayers([relTypes]) — longest-path DAG layering;
    * throws on cycles. YIELDs (node, layer). */
  register("graft.topologicallayers", (spark, g, args) => {
    val edges = orientedEdges(g, relTypesArg(args.lift(0)), "OUT")
    graft.ops.Walks.topologicalLayers(edges)
  })

  /** graft.hyperball(maxT[, relTypes[, direction[, log2m]]]) — HyperBall
    * approximate neighborhood function N(t) (Boldi & Vigna 2013).
    * YIELDs (t, nf). */
  register("graft.hyperball", (spark, g, args) => {
    val maxT = args(0) match { case n: Number => n.intValue }
    val edges = orientedEdges(g, relTypesArg(args.lift(1)),
      args.lift(2).map(_.toString.toUpperCase).getOrElse("OUT"))
    val log2m = args.lift(3).collect { case n: Number => n.intValue }
      .getOrElse(8)
    graft.ops.Centrality.hyperBall(edges, maxT, log2m)
  })

  /** graft.nodesimilarity(topK[, relTypes[, direction[, fanoutCap]]]) —
    * Jaccard node similarity over out-neighborhoods, top-k pairs per
    * node. YIELDs (n1, n2, similarity, rank). */
  register("graft.nodesimilarity", (spark, g, args) => {
    val k = args(0) match { case n: Number => n.intValue }
    val edges = orientedEdges(g, relTypesArg(args.lift(1)),
      args.lift(2).map(_.toString.toUpperCase).getOrElse("OUT"))
    val cap = args.lift(3).collect { case n: Number => n.intValue }
      .getOrElse(100000)
    graft.ops.Centrality.nodeSimilarity(edges, k, cap)
  })

  /** db.index.vector.createNodeIndex(name, label, prop, dim, simFn) —
    * reference VectorIndexProcedures.java:105 (SCHEMA mode): records a
    * vector index catalog entry that db.index.vector.queryNodes resolves
    * by name (scoping the scan to the label). simFn COSINE|EUCLIDEAN,
    * case-insensitive, like the reference. */
  registerGraph("db.index.vector.createnodeindex", (spark, g, args) => {
    val Seq(name: String, label: String, prop: String) = args.take(3)
    val dim = args.lift(3).collect { case n: Number => n.intValue }.getOrElse(1)
    val sim = args.lift(4).map(_.toString.toUpperCase).getOrElse("COSINE")
    require(dim >= 1, s"'vectorDimension' must be >= 1, got $dim")
    require(Set("COSINE", "EUCLIDEAN")(sim),
      s"unknown vector similarity function $sim")
    val g2 = graft.graph.Schema.createIndex(g, name, label, prop, "vector",
      options = Map("vector.dimensions" -> dim.toString,
        "vector.similarity" -> sim))
    // VOID like the reference (VectorIndexProcedures.java:105 `public
    // void createIndex`): one empty row so mid-query CALL keeps its rows
    (g2, spark.range(1).drop("id"))
  })

  private def vectorArgs(args: Seq[Any]): (Seq[Long], String, Array[Float]) = {
    val ids = args(0) match {
      case xs: Seq[_] => xs.map { case n: Number => n.longValue }
      case n: Number  => Seq(n.longValue)
      case other => throw new IllegalArgumentException(
        s"expected node/relationship id(s), got $other")
    }
    val vec = args(2) match {
      case xs: Seq[_] => xs.map { case n: Number => n.floatValue }.toArray
      case other => throw new IllegalArgumentException(
        s"'vector' must be a list of numbers, got $other")
    }
    (ids, args(1).toString, vec)
  }

  /** db.create.setNodeVectorProperty(nodeIdOrIds, key, vector) — reference
    * VectorIndexProcedures.java:197 (WRITE mode): stores the vector as
    * float32 (`array<float>`) — the reference's "more space efficient
    * representation than Cypher's SET", at half the footprint of Cypher's
    * double lists. An existing column keeps its type (the value casts). */
  registerGraph("db.create.setnodevectorproperty", (spark, g, args) => {
    val (ids, key, vec) = vectorArgs(args)
    val nodes2 =
      if (g.nodes.columns.contains(key)) {
        val dt = g.nodes.schema(key).dataType
        g.nodes.withColumn(key,
          when(col("id").isin(ids: _*), lit(vec).cast(dt)).otherwise(col(key)))
      } else g.nodes.withColumn(key,
        when(col("id").isin(ids: _*), lit(vec)))
    // VOID like the reference (VectorIndexProcedures.java:198)
    (g.copy(nodes = nodes2), spark.range(1).drop("id"))
  })

  /** db.create.setRelationshipVectorProperty — the relationship twin
    * (reference VectorIndexProcedures.java:217). */
  registerGraph("db.create.setrelationshipvectorproperty", (spark, g, args) => {
    val (ids, key, vec) = vectorArgs(args)
    val rels2 =
      if (g.rels.columns.contains(key)) {
        val dt = g.rels.schema(key).dataType
        g.rels.withColumn(key,
          when(col("id").isin(ids: _*), lit(vec).cast(dt)).otherwise(col(key)))
      } else g.rels.withColumn(key,
        when(col("id").isin(ids: _*), lit(vec)))
    // VOID like the reference (VectorIndexProcedures.java:217)
    (g.copy(rels = rels2), spark.range(1).drop("id"))
  })

  register("db.index.vector.querynodes", (spark, g, args) => {
    val Seq(arg: String, k: Number, qvec: Seq[_]) = args.take(3)
    import spark.implicits._
    val (rows, prop) = resolveIndex(g, arg, "vector", nodes = true)
    require(rows.columns.contains(prop), s"unknown node property $prop")
    // honor the index's configured similarity function and dimension
    // (createNodeIndex options; default COSINE for bare-property queries)
    val idx = g.schema.indexes.find(i => i.name == arg && i.kind == "vector")
    val metric = idx.flatMap(_.options.get("vector.similarity"))
      .getOrElse("COSINE")
    idx.flatMap(_.options.get("vector.dimensions")).foreach { d =>
      require(qvec.size == d.toInt,
        s"query vector has ${qvec.size} dimensions; index $arg expects $d")
    }
    val queries = Seq((0L, qvec.map(_.toString.toDouble).toArray))
      .toDF("qid", "qvec")
    Similarity.bruteForceTopK(
      rows.filter(col(prop).isNotNull).select(col("id"), col(prop).as("vec")),
      queries, k.intValue, metric, excludeSelf = false).drop("qid")
  })
}
