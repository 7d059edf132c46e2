package graft.cypher

import graft.graph.PropertyGraph
import org.apache.spark.sql.{DataFrame, SparkSession}

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
 *  - per (text, parameter values, snapshot): the planned DataFrame;
 *  - per graph snapshot: the count store (`PropertyGraph.stats`, read by
 *    the planner's scan-side choice) and the warm topology;
 *  - per template: the generated code — comparison constants in filters
 *    are read by reference (`ReferencedLiteral`), so a new parameter value
 *    reuses the classes compiled for the first one.
 * Planning a new parameter value still builds a fresh DataFrame and runs
 * Catalyst on it, and `shortestPath` still runs its BFS rounds at plan
 * time (about 1 s of planning on the benchmark's tpch_read `shortest`
 * template; ROADMAP #5).
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
    * 1000-entry default): parse results keyed by query text, planned
    * DataFrames keyed by (text, params) and validated against the graph
    * snapshot by reference (a new snapshot must re-plan). Read-only plans
    * are immutable DataFrames, so handing the same instance back is safe;
    * updating queries (execute) are never cached — each run re-plans with a
    * fresh runTag. */
  private final class Lru[K, V](max: Int)
      extends java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size > max
  }
  private val parseCache = new Lru[String, Ast.Query](1000)
  private val planCache =
    new Lru[(String, Map[String, Any]),
      (java.lang.ref.WeakReference[PropertyGraph], DataFrame)](256)
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
        def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            depth: Int): Seq[(String, String, Option[Long])] = {
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
        // plan FRESH (not from the plan cache): metric accumulators live on
        // the physical plan, and a cached instance would report totals
        // accumulated across every prior run of the same query
        val df = Planner.plan(spark, graph, parse(rest), params)
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
    val key = (query, params)
    // the hit is counted inside the lookup's lock: concurrent clients
    // would otherwise lose increments of the volatile counter
    val cached = planCache.synchronized {
      val hit = Option(planCache.get(key)).collect {
        case (ref, df) if ref.get != null && (ref.get eq graph) => df
      }
      if (hit.isDefined) planCacheHits += 1
      hit
    }
    cached match {
      case Some(df) => df
      case None =>
        val df = Planner.plan(spark, graph, parse(query), params)
        planCache.synchronized {
          // evict entries whose graph snapshot is gone: their DataFrames can
          // never be returned again (lookup requires `ref.get eq graph`) but
          // would pin the dead snapshot's checkpointed RDD blocks in the
          // block manager for as long as the cache keeps them
          val it = planCache.entrySet().iterator()
          while (it.hasNext) if (it.next().getValue._1.get == null) it.remove()
          planCache.put(key, (new java.lang.ref.WeakReference(graph), df))
        }
        df
    }
  }

  /** Drop all cached parses/plans (operational parity with the reference's
    * `db.clearQueryCaches()` procedure). Benchmarks call this between
    * queries so one query's retained plans can't skew another's memory. */
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
