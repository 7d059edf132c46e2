package graft.queries

import graft.graph.TpchGraph
import graft.ops.{Trail, WeightedPaths}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Path-operator coverage: Trail/QPP group variables and weighted shortest
 * paths (reference TrailPipe.scala:65 and graph-algo Dijkstra.java), both
 * with full path output — oracles re-derive the same answers with unrolled
 * joins / argmin windows in DuckDB.
 */
object PathQueries {
  import QueryDef.t

  /** 10x10 weighted grid graph derived from the customer table: node k at
    * (row, col) = (k/10, k%10) with coordinates as properties; right edges
    * weigh 1+k%3, down edges 1+k%5 (type E). Deterministic and
    * scale-invariant (keys 1..100 exist at every SF). */
  private def gridGraph(s: org.apache.spark.sql.SparkSession,
      d: String): graft.graph.PropertyGraph = {
    val base = t(s, d, "customer")
      .filter(col("c_custkey").between(1, 100))
      .select((col("c_custkey") - 1).cast("long").as("id"))
    val nodes = base.select(col("id"), array(lit("G")).as("labels"),
      (col("id") / 10).cast("long").as("row"), (col("id") % 10).as("col"))
    val right = base.filter(col("id") % 10 < 9)
      .select((col("id") + 1000).as("id"), col("id").as("src"),
        (col("id") + 1).as("dst"), lit("E").as("type"),
        (lit(1.0) + col("id") % 3).as("w"))
    val down = base.filter(col("id") < 90)
      .select((col("id") + 2000).as("id"), col("id").as("src"),
        (col("id") + 10).as("dst"), lit("E").as("type"),
        (lit(1.0) + col("id") % 5).as("w"))
    graft.graph.PropertyGraph(nodes, right.unionByName(down))
  }

  val defs: Seq[QueryDef] = Seq(

    // Trail {1,3} over the per-customer order-succession chain, collecting
    // the node group variable (order-key sequence). Paths are unique per
    // (start, hops) because the chain is linear — the oracle unrolls 1/2/3
    // hops explicitly.
    QueryDef("q_trail",
      (s, d) => {
        val orders = t(s, d, "orders")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        val seq0 = orders.select(col("o_custkey"), col("o_orderkey").cast("long").as("ok"),
          row_number().over(w).as("rn"))
        val edges = seq0.alias("a").join(seq0.alias("b"),
            col("a.o_custkey") === col("b.o_custkey") && col("b.rn") === col("a.rn") + 1)
          .select(col("b.ok").as("id"), col("a.ok").as("src"), col("b.ok").as("dst"))
        val starts = seq0.filter(col("rn") === 1)
          .select(col("o_custkey").as("custkey"), col("ok").as("start"))
        Trail.trail(edges, starts, "start", min = 1, max = Some(3))
          .select(col("custkey"), array_join(col("trail_nodes"), ",").as("path"), col("hops"))
      },
      Some("""WITH seq AS (SELECT o_custkey, o_orderkey,
             |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
             |  FROM orders)
             |SELECT s1.o_custkey AS custkey,
             |  s1.o_orderkey || ',' || s2.o_orderkey AS path, 1 AS hops
             |FROM seq s1 JOIN seq s2 ON s2.o_custkey = s1.o_custkey AND s2.rn = 2
             |WHERE s1.rn = 1
             |UNION ALL
             |SELECT s1.o_custkey, s1.o_orderkey || ',' || s2.o_orderkey || ',' || s3.o_orderkey, 2
             |FROM seq s1 JOIN seq s2 ON s2.o_custkey = s1.o_custkey AND s2.rn = 2
             |JOIN seq s3 ON s3.o_custkey = s1.o_custkey AND s3.rn = 3
             |WHERE s1.rn = 1
             |UNION ALL
             |SELECT s1.o_custkey,
             |  s1.o_orderkey || ',' || s2.o_orderkey || ',' || s3.o_orderkey || ',' || s4.o_orderkey, 3
             |FROM seq s1 JOIN seq s2 ON s2.o_custkey = s1.o_custkey AND s2.rn = 2
             |JOIN seq s3 ON s3.o_custkey = s1.o_custkey AND s3.rn = 3
             |JOIN seq s4 ON s4.o_custkey = s1.o_custkey AND s4.rn = 4
             |WHERE s1.rn = 1""".stripMargin)),

    // Weighted shortest path customer → part over PLACED (weight 1) and
    // CONTAINS (weight = quantity) edges, with the edge-id path in the
    // output. Distances tie when two orders ship the same min quantity —
    // resolved deterministically to the smallest edge-id sequence on both
    // sides (struct-min in Spark, ORDER BY dist, e1, e2 in the oracle).
    QueryDef("q_weighted_shortest",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val placed = g.relsByType("PLACED")
          .select(col("id"), col("src"), col("dst"), lit(1.0).as("weight"))
        val contains = g.relsByType("CONTAINS")
          .select(col("id"), col("src"), col("dst"), col("qty").cast("double").as("weight"))
        val edges = placed.unionByName(contains)
        val sources = g.nodesByLabel("Customer").filter(col("key") < 50)
          .select(col("id").as("source"), col("key").as("custkey"))
        val parts = g.nodesByLabel("Part").select(col("id").as("node"), col("key").as("partkey"))
        WeightedPaths.shortestPaths(edges, sources.select("source"), maxIter = 5)
          .join(parts, "node").join(sources, "source")
          .select(col("custkey"), col("partkey"),
            round(col("dist"), 2).as("dist"), array_join(col("path"), ",").as("path"))
      },
      // edge-id scheme mirrors TpchGraph: PLACED id = (23<<44)+orderkey,
      // CONTAINS id = (24<<44)+orderkey*16+linenumber
      Some("""WITH cand AS (
             |  SELECT c.c_custkey AS custkey, l.l_partkey AS partkey,
             |    1.0 + l.l_quantity AS dist,
             |    CAST(404620279021568 + o.o_orderkey AS BIGINT) AS e1,
             |    CAST(422212465065984 + o.o_orderkey * 16 + l.l_linenumber AS BIGINT) AS e2
             |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
             |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  WHERE c.c_custkey < 50),
             |ranked AS (SELECT *,
             |    row_number() OVER (PARTITION BY custkey, partkey ORDER BY dist, e1, e2) AS rn
             |  FROM cand)
             |SELECT custkey, partkey, round(dist, 2) AS dist, e1 || ',' || e2 AS path
             |FROM ranked WHERE rn = 1""".stripMargin)),

    // StatefulShortestPath / SHORTEST k (LogicalPlan.scala:2290 + NFA.scala)
    // — the 2 shortest customer→part trails over PLACED/CONTAINS, ranked by
    // (hops, rel-id sequence); every such trail is 2 hops, so ties resolve
    // purely on the deterministic path order.
    QueryDef("q_shortest_k",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        val placed = g.relsByType("PLACED").select(col("id"), col("src"), col("dst"))
        val contains = g.relsByType("CONTAINS").select(col("id"), col("src"), col("dst"))
        val custs = g.nodesByLabel("Customer").filter(col("key") < 20)
          .select(col("id").as("source"), col("key").as("source_key"))
        val parts = g.nodesByLabel("Part").select(col("id").as("target"), col("key").as("part_key"))
        val pairs = custs.join(placed, col("source") === col("src"))
          .select(col("source"), col("dst").as("o"))
          .join(contains.select(col("src").as("o"), col("dst").as("target")), "o")
          .select("source", "target").distinct()
        graft.ops.Trail.shortestK(placed.unionByName(contains), pairs, k = 2, maxDepth = 2)
          .join(custs, "source").join(parts, "target")
          .select(col("source_key"), col("part_key"), col("hops"),
            array_join(col("path"), ",").as("path"), col("rank"))
      },
      Some("""WITH cand AS (
             |  SELECT c_custkey AS source_key, l_partkey AS part_key,
             |    CAST(404620279021568 + o_orderkey AS BIGINT) AS e1,
             |    CAST(422212465065984 + o_orderkey * 16 + l_linenumber AS BIGINT) AS e2
             |  FROM customer JOIN orders ON o_custkey = c_custkey
             |  JOIN lineitem ON l_orderkey = o_orderkey
             |  WHERE c_custkey < 20),
             |ranked AS (SELECT *, row_number() OVER (
             |    PARTITION BY source_key, part_key ORDER BY e1, e2) AS rank FROM cand)
             |SELECT source_key, part_key, 2 AS hops,
             |  e1 || ',' || e2 AS path, CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 2""".stripMargin)),

    // SHORTEST k at depth: 25-node circulant graph with +1 and -1 edges, so
    // 2-hop cycles exist and trails revisit nodes within maxDepth=6 —
    // exercising rel-uniqueness AND the per-(source,node) top-k pruning of
    // the frontier search against an exhaustive recursive-CTE oracle.
    QueryDef("q_shortest_k_deep",
      (s, d) => {
        val nation = t(s, d, "nation").select(col("n_nationkey").cast("long").as("key"))
        val edges = nation.select((col("key") + 1000).as("id"), col("key").as("src"),
            ((col("key") + 1) % 25).as("dst"))
          .unionByName(nation.select((col("key") + 2000).as("id"), col("key").as("src"),
            ((col("key") + 24) % 25).as("dst")))
        val pairs = nation.filter(col("key") < 5).select(col("key").as("source"))
          .crossJoin(nation.select(col("key").as("target")))
        Trail.shortestK(edges, pairs, k = 3, maxDepth = 6)
          .select(col("source"), col("target"), col("hops"),
            array_join(col("path"), ",").as("path"), col("rank"))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey + 1000 AS BIGINT) AS id,
             |    CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
             |  UNION ALL
             |  SELECT CAST(n_nationkey + 2000 AS BIGINT),
             |    CAST(n_nationkey AS BIGINT),
             |    CAST((n_nationkey + 24) % 25 AS BIGINT) FROM nation),
             |walk AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS source,
             |    CAST(n_nationkey AS BIGINT) AS node, 0 AS hops,
             |    CAST([] AS BIGINT[]) AS path
             |  FROM nation WHERE n_nationkey < 5
             |  UNION ALL
             |  SELECT w.source, e.dst, w.hops + 1, list_append(w.path, e.id)
             |  FROM walk w JOIN e ON e.src = w.node
             |  WHERE w.hops < 6 AND NOT list_contains(w.path, e.id)),
             |ranked AS (
             |  SELECT source, node AS target, hops, path,
             |    row_number() OVER (PARTITION BY source, node ORDER BY hops, path) AS rank
             |  FROM walk)
             |SELECT source, target, hops,
             |  coalesce(array_to_string(path, ','), '') AS path,
             |  CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 3""".stripMargin)),

    // SHORTEST k over a segment CONCATENATION (linear NFA product-graph
    // search): forward +1 leg *1..3 then backward -1 leg *1..3 on the
    // 25-node ring. Every (i, j) hop combination is a valid trail (edge id
    // spaces are disjoint), so the oracle enumerates them in closed form
    // and ranks by (hops, path).
    QueryDef("q_shortest_k_nfa",
      (s, d) => {
        val nation = t(s, d, "nation").select(col("n_nationkey").cast("long").as("key"))
        val fwd = nation.select((col("key") + 1000).as("id"), col("key").as("src"),
          ((col("key") + 1) % 25).as("dst"))
        val bwd = nation.select((col("key") + 2000).as("id"), col("key").as("src"),
          ((col("key") + 24) % 25).as("dst"))
        val pairs = nation.filter(col("key") < 5).select(col("key").as("source"))
          .crossJoin(nation.select(col("key").as("target")))
        Trail.shortestKSegments(
          Seq(Trail.PathSegment(fwd, 1, 3), Trail.PathSegment(bwd, 1, 3)),
          pairs, k = 2)
          .select(col("source"), col("target"), col("hops"),
            array_join(col("path"), ",").as("path"), col("rank"))
      },
      Some("""WITH combos AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS s, i.i AS i, j.j AS j
             |  FROM nation,
             |    (SELECT unnest(generate_series(1, 3)) AS i) i,
             |    (SELECT unnest(generate_series(1, 3)) AS j) j
             |  WHERE n_nationkey < 5),
             |paths AS (
             |  SELECT s AS source, ((s + i - j) % 25 + 25) % 25 AS target,
             |    CAST(i + j AS INT) AS hops,
             |    array_to_string(list_concat(
             |      [CAST(1000 + (s + x) % 25 AS BIGINT) for x in generate_series(0, i - 1)],
             |      [CAST(2000 + ((s + i - x) % 25 + 25) % 25 AS BIGINT) for x in generate_series(0, j - 1)]
             |    ), ',') AS path
             |  FROM combos),
             |ranked AS (
             |  SELECT source, target, hops, path,
             |    row_number() OVER (PARTITION BY source, target
             |      ORDER BY hops, string_split(path, ',')) AS rank
             |  FROM paths)
             |SELECT source, target, hops, path, CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 2""".stripMargin)),

    // ProjectEndpoints :3115 — bound rel ids resolve to their endpoints
    // (id scheme from TpchGraph: PLACED id = (23<<44)+orderkey).
    QueryDef("q_project_endpoints",
      (s, d) => {
        val g = graft.graph.TpchGraph.load(s, d)
        val relIds = g.relsByType("PLACED").filter(col("id") % 7 === 0)
          .select(col("id").as("r"))
        graft.ops.Expand.projectEndpoints(g, relIds, "r", "c", "o")
          .join(g.nodes.select(col("id").as("c"), col("key").as("ckey")), "c")
          .join(g.nodes.select(col("id").as("o"), col("key").as("okey")), "o")
          .select(col("ckey"), col("okey"))
      },
      Some("""SELECT o_custkey AS ckey, CAST(o_orderkey AS BIGINT) AS okey
             |FROM orders WHERE (404620279021568 + o_orderkey) % 7 = 0""".stripMargin)),

    // ConditionalApply :1108 — the subplan (order aggregation) runs only for
    // rows satisfying the condition; other rows pass through null-extended.
    QueryDef("q_conditional_apply",
      (s, d) => {
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("ckey"), col("c_acctbal"))
        val (hit, miss) = (cust.filter(col("c_acctbal") > 0),
          cust.filter(!(col("c_acctbal") > 0)))
        val applied = hit.join(
          t(s, d, "orders").groupBy(col("o_custkey").as("ckey"))
            .agg(count(lit(1)).as("n_orders")),
          Seq("ckey"), "left_outer")
          .select(col("ckey"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        applied.unionByName(miss.select(col("ckey"), lit(null).cast("long").as("n_orders")))
      },
      Some("""SELECT c_custkey AS ckey,
             |  CASE WHEN c_acctbal > 0 THEN (SELECT count(*) FROM orders WHERE o_custkey = c_custkey)
             |  ELSE NULL END AS n_orders
             |FROM customer""".stripMargin)),

    // A* on the Cypher procedure surface (reference graph-algo AStar.java
    // + geoEstimateEvaluator): a 10x10 weighted grid graph derived from
    // the customer table (node k at (row, col) = (k/10, k%10); right edges
    // weigh 1+k%3, down edges 1+k%5), coordinates stored as node
    // properties. h = euclidean distance x 1.0 is admissible (every edge
    // weight >= 1 >= unit step), so the result is the exact shortest
    // distance 0 -> 99 — the oracle recomputes it by enumerating all
    // monotone grid paths with a recursive CTE.
    QueryDef("q_cypher_astar",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.shortestPath.astar(0, 99, 'w', 'row', 'col')
          |YIELD totalCost, relIds
          |RETURN totalCost AS dist, size(relIds) AS hops""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e AS (
             |  SELECT k AS s, k + 1 AS d, 1.0 + (k % 3) AS w FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL
             |  SELECT k, k + 10, 1.0 + (k % 5) FROM grid WHERE k < 90),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS dist,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, p.dist + e.w, p.hops + 1 FROM p
             |  JOIN e ON e.s = p.node WHERE p.hops < 18)
             |SELECT min(dist) AS dist, CAST(18 AS INT) AS hops
             |FROM p WHERE node = 99""".stripMargin)),

    // ALT on the procedure surface (A* + Landmarks + Triangle inequality,
    // Goldberg & Harrelson 2005): the same exact 0 -> 99 distance as
    // q_cypher_astar, but goal direction comes from landmark distance
    // tables instead of coordinates — the variant that works on graphs
    // with no geometry. Same monotone-path oracle.
    QueryDef("q_cypher_astar_alt",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.shortestPath.alt(0, 99, 'w', [0, 99])
          |YIELD totalCost, relIds
          |RETURN totalCost AS dist, size(relIds) AS hops""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e AS (
             |  SELECT k AS s, k + 1 AS d, 1.0 + (k % 3) AS w FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL
             |  SELECT k, k + 10, 1.0 + (k % 5) FROM grid WHERE k < 90),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS dist,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, p.dist + e.w, p.hops + 1 FROM p
             |  JOIN e ON e.s = p.node WHERE p.hops < 18)
             |SELECT min(dist) AS dist, CAST(18 AS INT) AS hops
             |FROM p WHERE node = 99""".stripMargin)),

    // allSimplePaths on the procedure surface (reference graph-algo
    // AllSimplePaths.java): UNDIRECTED simple paths 0 -> 33 on the grid
    // with length <= 8 — the 20 monotone 6-hop paths plus every 8-hop
    // path that takes one backtracking detour; node-uniqueness is what
    // keeps the undirected walk from oscillating. The oracle enumerates
    // the same set with a recursive CTE carrying the visited list.
    QueryDef("q_all_simple_paths",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.allSimplePaths(0, 33, 8, ['E'], 'BOTH')
          |YIELD hops, relIds
          |RETURN hops, count(*) AS n""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e0 AS (
             |  SELECT k AS s, k + 1 AS d FROM grid WHERE k % 10 < 9
             |  UNION ALL SELECT k, k + 10 FROM grid WHERE k < 90),
             |e AS (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, [CAST(0 AS BIGINT)] AS visited,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, list_append(p.visited, e.d), p.hops + 1
             |  FROM p JOIN e ON e.s = p.node
             |  WHERE p.hops < 8 AND p.node <> 33
             |    AND NOT list_contains(p.visited, e.d))
             |SELECT CAST(hops AS INT) AS hops, count(*) AS n
             |FROM p WHERE node = 33 GROUP BY hops""".stripMargin)),

    // pathsWithLength on the procedure surface (reference graph-algo
    // ExactDepthPathFinder.java, allowLoops=true → RELATIONSHIP_GLOBAL
    // uniqueness): undirected trails 0 -> 33 of EXACTLY 8 hops — nodes may
    // repeat, rels may not, so this counts strictly more paths than the
    // node-unique q_all_simple_paths 8-hop rows. The oracle walks the same
    // set with a recursive CTE carrying the used-rel-id list (grid edge ids
    // are deterministic: right = node+1000, down = node+2000).
    QueryDef("q_paths_with_length",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.pathsWithLength(0, 33, 8, ['E'], 'BOTH', true)
          |YIELD hops, relIds
          |RETURN count(*) AS n""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e0 AS (
             |  SELECT k + 1000 AS rid, k AS s, k + 1 AS d FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL SELECT k + 2000, k, k + 10 FROM grid WHERE k < 90),
             |e AS (
             |  SELECT rid, s, d FROM e0 UNION ALL SELECT rid, d, s FROM e0),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST([] AS BIGINT[]) AS used,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, list_append(p.used, e.rid), p.hops + 1
             |  FROM p JOIN e ON e.s = p.node
             |  WHERE p.hops < 8 AND NOT list_contains(p.used, e.rid))
             |SELECT count(*) AS n FROM p
             |WHERE node = 33 AND hops = 8""".stripMargin)),

    // allPaths on the procedure surface (reference graph-algo
    // AllPaths.java, RELATIONSHIP_PATH uniqueness): every trail 0 -> 33 of
    // length <= 8 on the undirected grid, counted per length — supersets
    // the node-unique q_all_simple_paths rows at each depth.
    QueryDef("q_all_paths",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.allPaths(0, 33, 8, ['E'], 'BOTH')
          |YIELD hops, relIds
          |RETURN hops, count(*) AS n""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e0 AS (
             |  SELECT k + 1000 AS rid, k AS s, k + 1 AS d FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL SELECT k + 2000, k, k + 10 FROM grid WHERE k < 90),
             |e AS (
             |  SELECT rid, s, d FROM e0 UNION ALL SELECT rid, d, s FROM e0),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST([] AS BIGINT[]) AS used,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, list_append(p.used, e.rid), p.hops + 1
             |  FROM p JOIN e ON e.s = p.node
             |  WHERE p.hops < 8 AND NOT list_contains(p.used, e.rid))
             |SELECT CAST(hops AS INT) AS hops, count(*) AS n
             |FROM p WHERE node = 33 GROUP BY hops""".stripMargin)),

    // SHORTEST k GROUPS (GQL group selector; reference
    // StatefulShortestPath.Selector.ShortestGroups): every path whose
    // length is among the 2 smallest distinct lengths 0 -> 33 on the
    // undirected grid. Trail parity means lengths 6 and 8 — the oracle
    // enumerates all trails <= 8 and keeps the two smallest hop groups.
    QueryDef("q_cypher_shortest_groups",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """MATCH (a:G {row: 0, col: 0}), (b:G {row: 3, col: 3})
          |MATCH p = SHORTEST 2 GROUPS (a)-[:E*1..8]-(b)
          |RETURN length(p) AS hops, count(*) AS n""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e0 AS (
             |  SELECT k + 1000 AS rid, k AS s, k + 1 AS d FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL SELECT k + 2000, k, k + 10 FROM grid WHERE k < 90),
             |e AS (
             |  SELECT rid, s, d FROM e0 UNION ALL SELECT rid, d, s FROM e0),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST([] AS BIGINT[]) AS used,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, list_append(p.used, e.rid), p.hops + 1
             |  FROM p JOIN e ON e.s = p.node
             |  WHERE p.hops < 8 AND NOT list_contains(p.used, e.rid)),
             |g AS (SELECT CAST(hops AS INT) AS hops, count(*) AS n
             |  FROM p WHERE node = 33 AND hops >= 1 GROUP BY hops)
             |SELECT hops, n FROM g ORDER BY hops LIMIT 2""".stripMargin)),

    // SHORTEST k GROUPS with an UNBOUND, label+property-constrained
    // target (source-driven search, accepted ends semi-joined against the
    // boundary scan — no sources x candidates pair set): on the directed
    // grid every monotone path 0 -> (2, c) has exactly 2+c hops, so group
    // 1 holds all C(2+c, 2) of them — closed form per column.
    QueryDef("q_cypher_shortest_groups_open",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """MATCH (a:G {row: 0, col: 0})
          |MATCH p = SHORTEST 1 GROUPS (a)-[:E*1..6]->(b:G {row: 2})
          |RETURN b.col AS bcol, length(p) AS hops, count(*) AS n""".stripMargin),
      Some("""SELECT CAST(c AS BIGINT) AS bcol, CAST(2 + c AS INT) AS hops,
             |  CAST((c + 2) * (c + 1) / 2 AS BIGINT) AS n
             |FROM (SELECT unnest(generate_series(0, 4)) AS c)""".stripMargin)),

    // SHORTEST k GROUPS over an ALTERNATION of path shapes (the general
    // selector form: branches compile to composite whole-branch edges and
    // the group search runs on the product graph): 1-rel and 2-rel
    // branches quantified {1,4} cover every undirected trail of 1..8
    // rels, so the two smallest length groups 0 -> 33 are the same
    // {6, 8} the plain GROUPS query finds — the oracle enumerates trails
    // and keeps the two smallest hop groups.
    QueryDef("q_cypher_shortest_groups_alt",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """MATCH (a:G {row: 0, col: 0}), (b:G {row: 3, col: 3})
          |MATCH p = SHORTEST 2 GROUPS (a) (-[:E]-()|-[:E]-()-[:E]-()){1,4} (b)
          |RETURN length(p) AS hops, count(*) AS n""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e0 AS (
             |  SELECT k + 1000 AS rid, k AS s, k + 1 AS d FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL SELECT k + 2000, k, k + 10 FROM grid WHERE k < 90),
             |e AS (
             |  SELECT rid, s, d FROM e0 UNION ALL SELECT rid, d, s FROM e0),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST([] AS BIGINT[]) AS used,
             |    0 AS hops
             |  UNION ALL
             |  SELECT e.d, list_append(p.used, e.rid), p.hops + 1
             |  FROM p JOIN e ON e.s = p.node
             |  WHERE p.hops < 8 AND NOT list_contains(p.used, e.rid)),
             |g AS (SELECT CAST(hops AS INT) AS hops, count(*) AS n
             |  FROM p WHERE node = 33 AND hops >= 1 GROUP BY hops)
             |SELECT hops, n FROM g ORDER BY hops LIMIT 2""".stripMargin)),

    // Ranked k-cheapest paths on the procedure surface (reference
    // graph-algo Dijkstra.java findAllPaths returns the equal-cost tie
    // set; kCheapest extends it to a ranked top-k). Directed weighted
    // grid = a DAG, so the hop-synchronized per-(source, node) top-k
    // pruning is exact and the oracle can enumerate every monotone path
    // with its cost in a recursive CTE, ranking by (dist, path) with
    // DuckDB's elementwise list comparison — the same total order as the
    // engine's array<long> sort.
    QueryDef("q_k_cheapest",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.shortestPath.kCheapest([0], [33, 66], 4, 'w')
          |YIELD targetNode, totalCost, hops, relIds, rank
          |RETURN targetNode, totalCost AS dist, hops, relIds, rank""".stripMargin)
        .select(col("targetNode"), col("dist"), col("hops"),
          array_join(col("relIds"), ",").as("path"), col("rank")),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e AS (
             |  SELECT k + 1000 AS rid, k AS s, k + 1 AS d, 1.0 + (k % 3) AS w
             |  FROM grid WHERE k % 10 < 9
             |  UNION ALL
             |  SELECT k + 2000, k, k + 10, 1.0 + (k % 5) FROM grid WHERE k < 90),
             |p AS (
             |  SELECT CAST(0 AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS dist,
             |    0 AS hops, CAST([] AS BIGINT[]) AS path
             |  UNION ALL
             |  SELECT e.d, p.dist + e.w, p.hops + 1, list_append(p.path, e.rid)
             |  FROM p JOIN e ON e.s = p.node WHERE p.hops < 12),
             |ranked AS (
             |  SELECT node AS targetNode, dist, hops, path,
             |    row_number() OVER (PARTITION BY node ORDER BY dist, path) AS rank
             |  FROM p WHERE node IN (33, 66))
             |SELECT targetNode, dist, CAST(hops AS INT) AS hops,
             |  array_to_string(path, ',') AS path, CAST(rank AS INT) AS rank
             |FROM ranked WHERE rank <= 4""".stripMargin)),

    // All-pairs shortest path costs on the directed weighted grid
    // (reference graph-algo FloydWarshall.java): every node seeds one
    // shared Bellman-Ford frontier — no V×V matrix, no per-pair jobs. The
    // grid's right/down orientation is a DAG, so the oracle's recursive
    // CTE enumerates every monotone path (hop-bounded at 18) and takes the
    // per-pair minimum.
    QueryDef("q_all_pairs_shortest",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.allPairsShortestPaths('w')
          |YIELD sourceNode, targetNode, totalCost
          |RETURN sourceNode, targetNode, totalCost""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e AS (
             |  SELECT k AS s, k + 1 AS d, 1.0 + k % 3 AS w FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL SELECT k, k + 10, 1.0 + k % 5 FROM grid WHERE k < 90),
             |p AS (
             |  SELECT k AS src, k AS node, CAST(0 AS DOUBLE) AS dist, 0 AS hops
             |  FROM grid
             |  UNION ALL
             |  SELECT p.src, e.d, p.dist + e.w, p.hops + 1
             |  FROM p JOIN e ON e.s = p.node WHERE p.hops < 18)
             |SELECT src AS sourceNode, node AS targetNode,
             |  min(dist) AS totalCost
             |FROM p GROUP BY 1, 2""".stripMargin)),

    // Landmark distance sketch (Potamias et al. 2009): exact distances to
    // and from 3 landmarks built once; every pair query becomes two
    // id-keyed joins + a min (the triangle-inequality upper bound) — no
    // traversal at read time. The oracle derives the same estimates from
    // its recursive-CTE hop distances restricted to the landmark rows.
    QueryDef("q_landmark_distance",
      (s, d) => {
        val g = gridGraph(s, d)
        val e = g.rels.select(col("id"), col("src"), col("dst"),
          lit(1.0).as("weight"))
        val (toL, fromL) = graft.ops.Landmarks.build(
          e, Seq(0L, 55L, 99L), maxIter = 30)
        graft.ops.Landmarks.estimateAll(toL, fromL)
      },
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e AS (
             |  SELECT k AS s, k + 1 AS d FROM grid WHERE k % 10 < 9
             |  UNION ALL SELECT k, k + 10 FROM grid WHERE k < 90),
             |p AS (
             |  SELECT k AS src, k AS node, 0 AS hops FROM grid
             |  UNION ALL
             |  SELECT p.src, e.d, p.hops + 1
             |  FROM p JOIN e ON e.s = p.node WHERE p.hops < 18),
             |sp AS (SELECT src, node, CAST(min(hops) AS DOUBLE) AS dist
             |  FROM p GROUP BY 1, 2)
             |SELECT a.src AS u, b.node AS v, min(a.dist + b.dist) AS estimate
             |FROM sp a JOIN sp b ON a.node = b.src
             |WHERE a.node IN (0, 55, 99)
             |GROUP BY 1, 2""".stripMargin)),

    // Per-node eccentricity over the weighted grid (graph profiling on top
    // of APSP — ecc(v) = max over reachable targets of d(v, t); the graph
    // diameter is the max row). Reuses the FloydWarshall surface, so the
    // oracle is the same recursive-CTE minimum plus a per-source max.
    QueryDef("q_eccentricity",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """CALL graft.allPairsShortestPaths('w')
          |YIELD sourceNode, targetNode, totalCost
          |RETURN sourceNode AS node, max(totalCost) AS eccentricity""".stripMargin),
      Some("""WITH RECURSIVE grid AS (
             |  SELECT CAST(c_custkey - 1 AS BIGINT) AS k FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 100),
             |e AS (
             |  SELECT k AS s, k + 1 AS d, 1.0 + k % 3 AS w FROM grid
             |  WHERE k % 10 < 9
             |  UNION ALL SELECT k, k + 10, 1.0 + k % 5 FROM grid WHERE k < 90),
             |p AS (
             |  SELECT k AS src, k AS node, CAST(0 AS DOUBLE) AS dist, 0 AS hops
             |  FROM grid
             |  UNION ALL
             |  SELECT p.src, e.d, p.dist + e.w, p.hops + 1
             |  FROM p JOIN e ON e.s = p.node WHERE p.hops < 18),
             |sp AS (SELECT src, node, min(dist) AS dist FROM p GROUP BY 1, 2)
             |SELECT src AS node, max(dist) AS eccentricity
             |FROM sp GROUP BY src""".stripMargin)),

    // SHORTEST with VAR-LENGTH branches inside an alternation (reference
    // NFA.scala arbitrary regular path patterns): {1,2} traversals of
    // (E*1..2 | E*3..3) reach exactly the rel-path lengths 1..6, so on the
    // monotone grid every node at Manhattan distance d <= 6 from node 0 is
    // found at min hops = d. The oracle is that closed form.
    QueryDef("q_shortest_nfa_varlen",
      (s, d) => graft.cypher.Cypher.run(s, gridGraph(s, d),
        """MATCH p = SHORTEST 1 (a {row: 0, col: 0}) (-[:E*1..2]->()|-[:E*3..3]->()){1,2} (x)
          |RETURN x AS target, length(p) AS hops""".stripMargin),
      Some("""SELECT CAST(c_custkey - 1 AS BIGINT) AS target,
             |  CAST((c_custkey - 1) // 10 + (c_custkey - 1) % 10 AS INT) AS hops
             |FROM customer
             |WHERE c_custkey BETWEEN 1 AND 100
             |  AND (c_custkey - 1) // 10 + (c_custkey - 1) % 10 BETWEEN 1 AND 6""".stripMargin))
  )
}
