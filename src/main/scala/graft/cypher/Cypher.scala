package graft.cypher

import graft.functions.expressions.ParamSlot
import graft.graph.PropertyGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftplan.Plans

/**
 * The engine's query surface: submit a Cypher string against a
 * PropertyGraph, get back a DataFrame (lazily planned — nothing executes
 * until an action). The Spark-native counterpart of the reference's
 * GraphDatabaseService#execute path (community/kernel/.../GraphDatabaseAPI →
 * cypher compiler); here parse → plan happen on the driver and the returned
 * DataFrame carries the whole declarative plan, so Catalyst optimizes across
 * the Cypher/DataFrame boundary (filter pushdown into the node/rel parquet
 * scans, broadcast of small sides, AQE re-planning).
 *
 * What is done once rather than per request:
 *  - per query text: the parse;
 *  - per (text, parameter types, snapshot): the plan. Scalar parameters
 *    that become value columns are typed slots (`ParamSlot`) in one
 *    analyzed plan, bound to each request's values before Catalyst
 *    optimizes; a template that reads a value while it plans (SKIP/LIMIT,
 *    CALL arguments, dynamic keys, `shortestPath`'s plan-time BFS, a
 *    `Placement` probe of a filtered input) keeps one plan per value;
 *  - per graph snapshot: the count store (`PropertyGraph.stats`, read by
 *    the planner's scan-side choice) and the warm topology;
 *  - per template: the generated code — comparison constants in filters
 *    are read by reference (`ReferencedLiteral`), so a new parameter value
 *    reuses the classes compiled for the first one.
 * Every request still gets its own `QueryExecution`: Catalyst optimizes
 * and plans the bound plan physically each time, and the executed plan
 * and its broadcasts go when the client drops the DataFrame.
 *
 * Supported subset: MATCH (incl. OPTIONAL, multi-pattern, var-length,
 * undirected), WHERE (incl. EXISTS{} / NOT EXISTS{} pattern predicates),
 * WITH / RETURN (DISTINCT, aggregation, ORDER BY, SKIP, LIMIT), UNWIND,
 * UNION [ALL], parameters (`$p`), and the expression language (CASE,
 * list comprehensions, string/math/list/temporal functions, null-aware
 * three-valued logic via Spark SQL semantics).
 *
 * Notable divergences, documented:
 *  - RETURN of a bare node/relationship variable yields its LONG id (the
 *    reference materializes a NodeValue; a columnar engine returns the key —
 *    project properties explicitly to read them).
 *  - unbounded var-length (`*`): endpoints-only queries plan as frontier
 *    BFS (|V|-bounded state); path enumeration iterates the trail
 *    expansion to an empty frontier — relationship uniqueness terminates
 *    it, exactly like the reference's VarLengthExpand (a runaway guard
 *    raises after 1000 rounds instead of looping forever).
 *  - Cypher's cross-type orderability (reference Values comparator): mixed
 *    literal lists (`UNWIND [1,'a',true,null]`) and CASE expressions whose
 *    branches return different types compile to a sortable struct encoding
 *    whose field order reproduces the global type-rank order
 *    (String < Boolean < Number, null last ascending); toString() decodes.
 *    Mixed-type COLUMNS from UNION branches of different types lift into
 *    the same encoding (top-level results decode to their toString() text;
 *    inside CALL {} the encoding is kept so outer ORDER BY / min / max /
 *    DISTINCT follow the global value order). LISTS participate (rank
 *    List < String, element-wise global order, shorter prefix first)
 *    including nested lists up to 3 levels, and MAPS participate (rank
 *    Map < List; reference MapValue order: size, then sorted keys, then
 *    values); nesting beyond 3 levels remains a compile-time error.
 *    NULL placement in ORDER BY follows Cypher (last ASC, first DESC).
 */
object Cypher {

  /** LRU caches mirroring the reference's QueryCache (QueryCache.scala:122,
    * 1000-entry default, keyed on query text and parameter types): parse
    * results keyed by query text; analyzed logical plans keyed by (text,
    * parameter types) — or by (text, parameter values) for templates that
    * read a value while planning — and by the graph snapshot they were
    * planned on: a new snapshot re-plans, and snapshots queried in turn
    * keep one entry each. The cache holds plans, never a DataFrame,
    * QueryExecution or SparkPlan, so it pins no executed state. Updating
    * queries (execute) are never cached — each run re-plans with a fresh
    * runTag. */
  private final class Lru[K, V](max: Int)
      extends java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size > max
  }
  private val parseCache = new Lru[String, Ast.Query](1000)
  /** (snapshot identity hash, text, Left(parameter types) or
    * Right(parameter values)): each live snapshot keeps its own entry */
  private type PlanKey = (Int, String, Either[Map[String, Any], Map[String, Any]])
  /** Under a types key, a null plan marks a template planned per value. */
  private val planCache =
    new Lru[PlanKey, (java.lang.ref.WeakReference[PropertyGraph], LogicalPlan)](256)
  /** cache observability (specs + operational parity with the reference's
    * cache hit/miss metrics) */
  @volatile var planCacheHits: Long = 0L

  def run(spark: SparkSession, graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): DataFrame = {
    // EXPLAIN <query> (reference EXPLAIN): one row per physical-plan line
    val explained = "(?is)^\\s*EXPLAIN\\b(.*)".r
    // PROFILE <query> (reference PROFILE, per-operator rows in the result
    // plan): execute to completion, then walk the final (post-AQE) physical
    // tree emitting each operator's runtime numOutputRows metric
    val profiled = "(?is)^\\s*PROFILE\\b(.*)".r
    query match {
      case explained(rest) =>
        // columnar EXPLAIN (the reference's operator table shape):
        // operator | details | estimatedRows, one row per plan operator,
        // depth-indented like the reference's plan rendering
        import spark.implicits._
        val qe = run(spark, graph, rest, params).queryExecution
        def walk(p: LogicalPlan, depth: Int): Seq[(String, String, Option[Long])] = {
          val details = p.simpleString(100)
            .stripPrefix(p.nodeName).trim.take(200)
          (("  " * depth) + "+" + p.nodeName, details,
            p.stats.rowCount.map(_.toLong)) +:
            p.children.flatMap(walk(_, depth + 1))
        }
        return walk(qe.optimizedPlan, 0)
          .toDF("operator", "details", "estimatedRows")
      case profiled(rest) =>
        import spark.implicits._
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        // a cached plan is fine: every request gets its own QueryExecution,
        // so the metric accumulators count this run only
        val df = run(spark, graph, rest, params)
        // drive THIS QueryExecution to completion (a write would spawn its
        // own QueryExecution and leave these metrics untouched)
        df.queryExecution.toRdd.foreach(_ => ())
        def walk(p: SparkPlan, depth: Int): Seq[(String, Int, Option[Long])] =
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
            case q: QueryStageExec        => walk(q.plan, depth)
            case _ =>
              (p.nodeName, depth,
                p.metrics.get("numOutputRows").map(_.value)) +:
                p.children.flatMap(walk(_, depth + 1))
          }
        return walk(df.queryExecution.executedPlan, 0)
          .toDF("operator", "depth", "rows")
      case _ => ()
    }
    Plans.ofRows(spark, ParamSlot.bind(cachedPlan(spark, graph, query, params), params))
  }

  /** A parameter value as a cache key: lists and maps by content, arrays
    * by element class and content, scalars with their class (Scala's `==`
    * would equate 1 and 1.0). */
  private def valueKey(v: Any): Any = v match {
    case null => null
    case a: Array[_] => (a.getClass, a.toSeq.map(valueKey))
    case s: Seq[_] => s.map(valueKey)
    case m: Map[_, _] => m.map { case (k, x) => k -> valueKey(x) }
    case x => (x.getClass, x)
  }

  private def cachedPlan(spark: SparkSession, graph: PropertyGraph,
      query: String, params: Map[String, Any]): LogicalPlan = {
    val snapshot = System.identityHashCode(graph)
    val byType: PlanKey = (snapshot, query, Left(params.map { case (n, v) =>
      n -> ParamSlot.literal(v).fold(valueKey(v))(_.dataType) }))
    val byValue: PlanKey = (snapshot, query, Right(params.map { case (n, v) => n -> valueKey(v) }))
    def lookup(key: PlanKey) =
      Option(planCache.get(key)).collect {
        case (ref, plan) if ref.get eq graph => Option(plan)
      }
    // the hit is counted inside the lookup's lock: concurrent clients
    // would otherwise lose increments of the volatile counter
    val (perValue, cached) = planCache.synchronized {
      val t = lookup(byType)
      val hit = if (t.contains(None)) lookup(byValue).flatten else t.flatten
      if (hit.isDefined) planCacheHits += 1
      (t.contains(None), hit)
    }
    cached.getOrElse {
      val (plan, isTemplate) =
        Planner.template(spark, graph, parse(query), params, slots = !perValue)
      planCache.synchronized {
        // evict entries whose graph snapshot is gone: they can never be
        // returned again (lookup requires `ref.get eq graph`) but their
        // plans would keep the dead snapshot's checkpointed RDDs alive
        val it = planCache.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue._1.get == null) it.remove()
        val ref = new java.lang.ref.WeakReference(graph)
        if (isTemplate) planCache.put(byType, (ref, plan))
        else {
          planCache.put(byType, (ref, null))
          planCache.put(byValue, (ref, plan))
        }
      }
      plan
    }
  }

  /** Drop all cached parses/plans (operational parity with the reference's
    * `db.clearQueryCaches()` procedure). Benchmarks call this between
    * queries so each query pays its own planning and no cached plan reads
    * RDD blocks a sweep has freed. */
  def clearCaches(): Unit = {
    parseCache.synchronized(parseCache.clear())
    planCache.synchronized(planCache.clear())
  }

  /**
   * Updating queries (CREATE / MERGE / SET / REMOVE / DELETE, freely mixed
   * with read clauses): returns the updated graph snapshot plus the final
   * RETURN's rows if present. Writes become visible to subsequent clauses
   * (Eager semantics via immutable snapshots), and SET/REMOVE refresh the
   * touched variables' hydrated property AND label columns, so a trailing
   * RETURN observes post-update values — including labels() after a SET
   * label (openCypher visibility; both TCK-pinned, WriteClauses.feature +
   * Divergences.feature; the TCK denylist is currently empty).
   */
  def execute(spark: SparkSession, graph: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty,
      txCommit: PropertyGraph => PropertyGraph = Planner.defaultTxCommit)
      : (PropertyGraph, Option[DataFrame]) = {
    // EXPLAIN under execute follows the REFERENCE result contract: the
    // query is planned but NOT run — no side effects, and the result is
    // the query's output columns with zero rows (nothing when the query
    // returns no columns). The plan text itself stays on the read-only
    // `run` surface, which renders the columnar operator table.
    val explained = "(?is)^\\s*EXPLAIN\\b(.*)".r
    query match {
      case explained(rest) =>
        val q = parse(rest)
        if (Planner.hasWrites(q)) (graph, None)
        else {
          val (_, res) = Planner.execute(spark, graph, q, params, txCommit)
          (graph, res.map(_.limit(0)))
        }
      case _ => Planner.execute(spark, graph, parse(query), params, txCommit)
    }
  }

  /** Parse entry (cached), also used by run/execute. */
  def parse(query: String): Ast.Query = parseCache.synchronized {
    parseCache.computeIfAbsent(query, q => CypherParser.parse(q))
  }
}
