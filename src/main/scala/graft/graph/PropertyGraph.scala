package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Labeled property graph as two columnar tables — the Spark-native
 * replacement for the reference's record stores + index-free adjacency
 * (neo4j NodeRecord/RelationshipRecord linked lists,
 * community/record-storage-engine/.../record/NodeRecord.java:32-35,
 * RelationshipRecord.java:29-37). Adjacency here is an equi-join on id
 * columns, which Spark executes as broadcast/shuffled hash joins and
 * which scales horizontally — the linked-list layout would not.
 *
 * Canonical schemas (SURVEY §1.4):
 *   nodes: id LONG, labels ARRAY<STRING>, <typed property columns…>
 *   rels:  id LONG, src LONG, dst LONG, type STRING, <typed property columns…>
 *
 * Property columns are promoted typed columns (Parquet dictionary/RLE +
 * min-max pruning apply); absent properties are NULL, matching Cypher's
 * "missing property IS NULL" semantics exactly.
 */
final case class PropertyGraph(nodes: DataFrame, rels: DataFrame,
    schema: GraphSchema = GraphSchema.empty) {

  /**
   * Warm compact adjacency — (id, src, dst, type) materialized ONCE per
   * graph snapshot as a lazy local checkpoint, the Spark analog of the
   * reference's page-cached relationship store (a real engine keeps its
   * adjacency hot; it does not re-derive it from base tables per query).
   * Traversal operators that read no relationship properties build edge
   * sets from this; property hydration and rel-property predicates keep
   * using `rels`, whose parquet lineage gives predicate pushdown. At
   * cluster scale the same role is played by the type-partitioned bucketed
   * layout (`PropertyGraph.saveBucketed`); the in-memory checkpoint is the
   * single-node analog. Registered with RddGuard so benchmark RDD sweeps
   * don't free blocks a live snapshot still references.
   */
  @transient lazy val topology: DataFrame =
    warm(rels.select(col("id"), col("src"), col("dst"), col("type")))

  /** Undirected view of the compact adjacency (both orientations). */
  def undirectedTopo: DataFrame = PropertyGraph.bothWays(topology)

  /**
   * Warm DISTINCT (src, dst) reachability pairs — what every untyped
   * BFS/shortest/pruning traversal actually iterates over. Deduped and
   * checkpointed ONCE per snapshot (parallel edges — e.g. one rel per
   * lineitem between the same order and part — would otherwise be
   * re-deduped by every query); RddGuard-protected like [[topology]].
   */
  @transient lazy val topologyPairs: DataFrame =
    warm(topology.select(col("src"), col("dst")).distinct())

  /** Distinct undirected reachability pairs (both orientations). */
  @transient lazy val undirectedTopoPairs: DataFrame =
    warm(topologyPairs
      .unionByName(topologyPairs.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct())

  /** Lazy local checkpoint of `df`, registered with RddGuard for the life
    * of this snapshot. */
  private def warm(df: DataFrame): DataFrame = {
    val t = df.localCheckpoint(false)
    t.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        RddGuard.protect(lr.rdd.id, this)
      case _ => ()
    }
    t
  }

  /** The distinct-pair set oriented for a traversal direction. */
  def orientedPairs(dir: Direction): DataFrame = dir match {
    case Direction.Out  => topologyPairs
    case Direction.In   => topologyPairs
      .select(col("dst").as("src"), col("src").as("dst"))
    case Direction.Both => undirectedTopoPairs
  }

  /**
   * Oriented, type-filtered (id, src, dst) relationship view — the one
   * edge orientation every traversal builds on (`types` empty = any
   * type). `pre`, a per-step predicate over raw rel columns (the inline
   * property map of `[r:T*1..3 {k: v}]`), applies BEFORE orientation
   * drops the property columns; without one the warm compact [[topology]]
   * suffices. `base` overrides the raw rels (a per-step WHERE pre-filters
   * them).
   */
  def orientTyped(types: Seq[String], dir: Direction,
      pre: Option[Column] = None, base: Option[DataFrame] = None): DataFrame = {
    val raw = base.getOrElse(if (pre.isEmpty) topology else rels)
    val both = if (dir == Direction.Both) PropertyGraph.bothWays(raw) else raw
    val filtered = pre.fold(both)(both.filter)
    val typed =
      if (types.isEmpty) filtered else filtered.filter(col("type").isin(types: _*))
    dir match {
      case Direction.In =>
        typed.select(col("id"), col("dst").as("src"), col("src").as("dst"))
      case _ => typed.select(col("id"), col("src"), col("dst"))
    }
  }

  /** NodeByLabelScan (reference LogicalPlan.scala:2703): label predicate on
    * the labels array. With nodes partitioned by primary label this becomes
    * partition pruning at scale. */
  def nodesByLabel(label: String): DataFrame =
    nodes.filter(array_contains(col("labels"), label))

  /** UnionNodeByLabelsScan :4748 — nodes having ANY of the labels. */
  def nodesByAnyLabel(labels: Seq[String]): DataFrame =
    nodes.filter(arrays_overlap(col("labels"), lit(labels.toArray)))

  /** IntersectionNodeByLabelsScan :2413 — nodes having ALL labels. */
  def nodesByAllLabels(labels: Seq[String]): DataFrame =
    nodes.filter(labels.map(l => array_contains(col("labels"), l)).reduce(_ && _))

  /** SubtractionNodeByLabelsScan :4106 — nodes with ALL of `include` and
    * NONE of `exclude`. */
  def nodesBySubtraction(include: Seq[String], exclude: Seq[String]): DataFrame =
    nodes.filter(
      include.map(l => array_contains(col("labels"), l)).reduce(_ && _) &&
        !arrays_overlap(col("labels"), lit(exclude.toArray)))

  /** NodeByIdSeek :2684. For a large id set, pass ids as a DataFrame and
    * join instead (broadcast if small). */
  def nodesById(ids: Seq[Long]): DataFrame =
    nodes.filter(col("id").isin(ids: _*))

  /** DirectedRelationshipByIdSeek :1621. */
  def relsById(ids: Seq[Long]): DataFrame =
    rels.filter(col("id").isin(ids: _*))

  /** DirectedRelationshipTypeScan :1732. */
  def relsByType(tpe: String): DataFrame = rels.filter(col("type") === tpe)

  def relsByTypes(types: Seq[String]): DataFrame =
    rels.filter(col("type").isin(types: _*))

  /** Undirected view: every relationship in both orientations
    * (UndirectedAllRelationshipsScan :4220). Narrow map-only union — no
    * shuffle, 2× rows, which is exactly what the reference's undirected
    * iteration does per node. */
  def undirectedRels: DataFrame = PropertyGraph.bothWays(rels)

  /** Degree per node (GetDegree rewrite, reference getDegreeRewriter.scala):
    * one shuffle, reusable; at scale this is the pre-aggregated degree table. */
  def degrees(direction: Direction = Direction.Out): DataFrame = direction match {
    case Direction.Out  => rels.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    case Direction.In   => rels.groupBy(col("dst").as("id")).agg(count(lit(1)).as("degree"))
    case Direction.Both => undirectedRels.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }

  def cache(): PropertyGraph = copy(nodes = nodes.cache(), rels = rels.cache())
}

sealed trait Direction
object Direction {
  case object Out  extends Direction
  case object In   extends Direction
  case object Both extends Direction
}

object PropertyGraph {
  /** Every row of a (…, src, dst, …) relation plus its src/dst swap. */
  private def bothWays(df: DataFrame): DataFrame = {
    val swapped = df
      .withColumnRenamed("src", "__tmp_src")
      .withColumnRenamed("dst", "src")
      .withColumnRenamed("__tmp_src", "dst")
    df.unionByName(swapped.select(df.columns.map(col).toIndexedSeq: _*))
  }

  /** Storage column for a Cypher property KEY. A property legally named
    * `id` (`CREATE (n {id: 1})` — pervasive in the reference's acceptance
    * corpus) must not collide with the structural id column, so it stores
    * under an escaped name; every other key stores verbatim. Hydrated
    * columns (`v$id`) keep the Cypher-visible name — only the storage
    * layer escapes. (`labels`/`src`/`dst`/`type` as property names remain
    * unsupported: the planner's needed-property bookkeeping shares those
    * names with structural requests like labels(n)/type(r).) */
  /** property keys that would collide with a STRUCTURAL column under
    * Spark's default case-insensitive resolution (`Id` vs the node table's
    * `id`, `Type` vs the rel table's `type`) — escaped with a `p#` prefix
    * in storage. Original case is preserved after the prefix. */
  private val reservedProp =
    Set("id", "labels", "src", "dst", "type")
  def propCol(key: String): String =
    if (key == "id" ||
        (reservedProp(key.toLowerCase) && key != key.toLowerCase))
      "p#" + key
    // a user key literally starting with "p#" doubles the prefix so the
    // propCol/colProp round trip stays injective (otherwise a stored
    // `p#x` reads back as key `x` and can collide with an escaped
    // reserved key)
    else if (key.startsWith("p#")) "p#" + key
    else key

  /** Cypher property name of a storage column (inverse of [[propCol]]). */
  def colProp(column: String): String =
    if (column.startsWith("p#")) column.substring(2) else column

  /** Load a graph persisted as parquet (nodes/, rels/ under `dir`). */
  def load(spark: SparkSession, dir: String): PropertyGraph =
    PropertyGraph(
      spark.read.parquet(s"$dir/nodes"),
      spark.read.parquet(s"$dir/rels"))

  /** Persist; at cluster scale partition rels by type then bucket by src so
    * expand() joins are co-partitioned. */
  def save(g: PropertyGraph, dir: String): Unit = {
    g.nodes.write.mode("overwrite").parquet(s"$dir/nodes")
    g.rels.write.mode("overwrite").partitionBy("type").parquet(s"$dir/rels")
  }

  /** Bucketed persistence: nodes bucketed+sorted by id, rels by src, with
    * the SAME bucket count — the expand join (rels.src = nodes.id) then
    * needs NO shuffle on either side (bucket-aware scan feeds sort-merge
    * join directly). This is the managed-table analog of the reference's
    * index-free adjacency: adjacency locality comes from layout, and at
    * 100 TB it removes the dominant shuffle from every traversal.
    * BucketedGraphSpec asserts the no-Exchange plan. */
  def saveBucketed(g: PropertyGraph, prefix: String, buckets: Int = 32): Unit = {
    g.nodes.write.mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${prefix}_nodes")
    g.rels.write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .format("parquet").saveAsTable(s"${prefix}_rels")
  }

  def loadBucketed(spark: SparkSession, prefix: String): PropertyGraph =
    PropertyGraph(spark.table(s"${prefix}_nodes"), spark.table(s"${prefix}_rels"))
}
