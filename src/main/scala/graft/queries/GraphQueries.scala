package graft.queries

import graft.graph.{Direction, TpchGraph}
import graft.ops.{Bfs, Centrality, Expand, Ranking, SpanningTree, Trail, Triadic, VarExpand, Walks}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Graph-operator coverage (SURVEY §2.3): these run through the engine's
 * actual traversal operators (Expand/VarExpand/Bfs/Triadic over the
 * PropertyGraph projection of the driver tables), while the oracle
 * re-derives the same answer relationally in DuckDB — so the oracle is an
 * independent implementation, not a restatement.
 */
object GraphQueries {
  import QueryDef.t

  val defs: Seq[QueryDef] = Seq(

    // Expand (All) :2012 through the PropertyGraph: Customer-[:PLACED]->Order
    // then filter on the far node's property (hydration join).
    QueryDef("q_graph_expand",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val custs = g.nodesByLabel("Customer").select(col("id").as("c"), col("key").as("c_key"))
        val expanded = Expand.expandAll(g, custs, "c", Some("PLACED"), Direction.Out, "r", "o")
        val orders = g.nodesByLabel("Order")
          .select(col("id").as("o"), col("totalprice"))
        expanded.join(orders, "o").filter(col("totalprice") > 300000)
          .groupBy(col("c_key")).agg(count(lit(1)).as("n_big_orders"))
      },
      Some("""SELECT c_custkey AS c_key, count(*) AS n_big_orders
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |WHERE o_totalprice > 300000 GROUP BY c_custkey""".stripMargin)),

    // ExpandInto :2012 — both endpoints already bound (here: every
    // nation×region candidate pair), the operator verifies the edge exists
    // on the composite (src, dst) key and binds the rel.
    QueryDef("q_graph_expand_into",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val nations = g.nodesByLabel("Nation").select(col("id").as("n"), col("name").as("nation"))
        val regions = g.nodesByLabel("Region").select(col("id").as("rg"), col("name").as("region"))
        val candidates = nations.crossJoin(regions) // tiny×tiny
        Expand.expandInto(g, candidates, "n", "rg", Some("IN_REGION"), Direction.Out, "r")
          .select(col("nation"), col("region"))
      },
      Some("""SELECT n_name AS nation, r_name AS region
             |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // VarExpand :2057 — (c:Customer)-[*1..2]->(x) over FROM/IN_REGION edges:
    // depth 1 reaches the nation, depth 2 the region. Exercises the bounded
    // iterative-join loop incl. rel-uniqueness bookkeeping.
    QueryDef("q_var_expand",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val start = g.nodesByLabel("Customer").filter(col("key") < 200)
          .select(col("id").as("c"), col("key").as("c_key"))
        val paths = VarExpand.varExpand(g, start, "c",
          relTypes = Seq("FROM", "IN_REGION"), Direction.Out, minHops = 1, maxHops = 2)
        val names = g.nodes.select(col("id").as("end"), col("name"))
        paths.join(names, "end")
          .select(col("c_key"), col("name").as("reached"), col("depth"))
      },
      Some("""SELECT c_custkey AS c_key, n_name AS reached, 1 AS depth
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_custkey < 200
             |UNION ALL
             |SELECT c_custkey, r_name, 2
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE c_custkey < 200""".stripMargin)),

    // VarExpand with NO type filter — the default Cypher `(c)-[*1..2]->(x)`
    // form (regression coverage for the any-type edge construction). Counts
    // distinct paths per (customer, depth).
    QueryDef("q_var_expand_anytype",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val start = g.nodesByLabel("Customer").filter(col("key") < 100)
          .select(col("id").as("c"), col("key").as("c_key"))
        VarExpand.varExpand(g, start, "c",
          relTypes = Seq.empty, Direction.Out, minHops = 1, maxHops = 2)
          .groupBy(col("c_key"), col("depth")).agg(count(lit(1)).as("n_paths"))
      },
      // depth1 = nation + orders; depth2 = region + (CONTAINS + SUPPLIED_BY)
      // per lineitem of those orders
      Some("""WITH src AS (SELECT c_custkey FROM customer WHERE c_custkey < 100),
             |o AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
             |li AS (SELECT o.o_custkey, count(*) AS n
             |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  GROUP BY o.o_custkey)
             |SELECT s.c_custkey AS c_key, 1 AS depth,
             |  CAST(1 + coalesce(o.n, 0) AS BIGINT) AS n_paths
             |FROM src s LEFT JOIN o ON o.o_custkey = s.c_custkey
             |UNION ALL
             |SELECT s.c_custkey, 2, CAST(1 + 2 * coalesce(li.n, 0) AS BIGINT)
             |FROM src s LEFT JOIN li ON li.o_custkey = s.c_custkey""".stripMargin)),

    // PruningVarExpand :2089 / BFSPruningVarExpand :2119 — distinct nodes at
    // hop distance 1..2, via the frontier BFS (not path enumeration).
    QueryDef("q_pruning_expand",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val sources = g.nodesByLabel("Customer").filter(col("key") < 100)
          .select(col("id").as("source"))
        Bfs.pruningExpand(g.topologyPairs, sources, 1, 2, edgesDeduped = true)
          .join(g.nodes.select(col("id").as("node"), element_at(col("labels"), 1).as("label")), "node")
          .groupBy(col("label"), col("dist")).agg(count(lit(1)).as("n"))
      },
      // customers reach: dist1 = their nation + their orders; dist2 = the
      // region + parts/suppliers of those orders (distinct per source).
      Some("""WITH src AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey < 100),
             |d1n AS (SELECT c_custkey, c_nationkey FROM src),
             |d1o AS (SELECT s.c_custkey, o.o_orderkey FROM src s JOIN orders o ON o.o_custkey = s.c_custkey),
             |d2r AS (SELECT DISTINCT s.c_custkey, n.n_regionkey FROM src s JOIN nation n ON s.c_nationkey = n.n_nationkey),
             |d2p AS (SELECT DISTINCT o.c_custkey, l.l_partkey FROM d1o o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
             |d2s AS (SELECT DISTINCT o.c_custkey, l.l_suppkey FROM d1o o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
             |SELECT 'Nation' AS label, 1 AS dist, count(*) AS n FROM d1n
             |UNION ALL SELECT 'Order', 1, count(*) FROM d1o
             |UNION ALL SELECT 'Region', 2, count(*) FROM d2r
             |UNION ALL SELECT 'Part', 2, count(*) FROM d2p
             |UNION ALL SELECT 'Supplier', 2, count(*) FROM d2s""".stripMargin)),

    // FindShortestPaths :2178 over the per-customer order succession chain
    // (order_i -> order_{i+1} by date). The chain is a successor relation
    // (in/out degree ≤ 1), so the scale path is pointer-doubling list
    // ranking — ⌈log₂ L⌉ rounds — rather than frontier BFS's O(L) rounds
    // (generic BFS stays covered by q_pruning_expand).
    QueryDef("q_shortest_chain",
      (s, d) => {
        val orders = t(s, d, "orders")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        // materialized once: both the successor edges and the rn==1 heads
        // tail read the ranked sequence — without this the window sort
        // runs twice (plus once more in listRanks' bounded-input probe)
        val seq0 = orders.select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"))
          .localCheckpoint(false)
        val edges = seq0.alias("a").join(seq0.alias("b"),
            col("a.o_custkey") === col("b.o_custkey") && col("b.rn") === col("a.rn") + 1)
          .select(col("a.o_orderkey").as("src"), col("b.o_orderkey").as("dst"))
        val agg = Bfs.listRanks(edges, maxLength = 64)
          .groupBy(col("head")).agg(max(col("rank")).as("chain_hops"))
        // single-order customers have no edges — their heads rank 0
        seq0.filter(col("rn") === 1)
          .select(col("o_orderkey").as("head"), col("o_custkey"))
          .join(agg, Seq("head"), "left_outer")
          .select(col("o_custkey").as("custkey"),
            coalesce(col("chain_hops"), lit(0L)).cast("int").as("chain_hops"))
      },
      Some("""SELECT o_custkey AS custkey, CAST(count(*) - 1 AS INT) AS chain_hops
             |FROM orders GROUP BY o_custkey""".stripMargin)),

    // Trail semantics on a CYCLIC graph: 25-node circulant ring with +1/-1
    // edges (2-hop cycles), so rel-uniqueness rejection actually fires —
    // unlike linear-chain q_trail. Exhaustive recursive-CTE oracle.
    QueryDef("q_trail_cyclic",
      (s, d) => {
        val nation = t(s, d, "nation").select(col("n_nationkey").cast("long").as("key"))
        val edges = nation.select((col("key") + 1000).as("id"), col("key").as("src"),
            ((col("key") + 1) % 25).as("dst"))
          .unionByName(nation.select((col("key") + 2000).as("id"), col("key").as("src"),
            ((col("key") + 24) % 25).as("dst")))
        val starts = nation.filter(col("key") < 5).select(col("key").as("start"))
        Trail.trail(edges, starts, "start", min = 1, max = 4)
          .select(col("start"), col("end"), col("hops"),
            array_join(col("trail_rels"), ",").as("path"))
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
             |  SELECT CAST(n_nationkey AS BIGINT) AS start,
             |    CAST(n_nationkey AS BIGINT) AS node, 0 AS hops,
             |    CAST([] AS BIGINT[]) AS path
             |  FROM nation WHERE n_nationkey < 5
             |  UNION ALL
             |  SELECT w.start, e.dst, w.hops + 1, list_append(w.path, e.id)
             |  FROM walk w JOIN e ON e.src = w.node
             |  WHERE w.hops < 4 AND NOT list_contains(w.path, e.id))
             |SELECT start, node AS "end", hops,
             |  coalesce(array_to_string(path, ','), '') AS path
             |FROM walk WHERE hops >= 1""".stripMargin)),

    // PageRank (power iteration, Pregel form) over the Customer/Supplier →
    // Nation → Region DAG: converges exactly in 3 iterations there, so the
    // oracle is the closed-form rank per tier.
    QueryDef("q_pagerank",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val edges = g.rels.filter(col("type").isin("FROM", "IN_REGION"))
          .select(col("src"), col("dst"))
        val ranks = Ranking.pageRank(edges, iterations = 5, damping = 0.85)
        g.nodes.select(col("id").as("node"), col("labels"), col("key"))
          .join(ranks, "node")
          .filter(array_contains(col("labels"), "Nation") ||
            array_contains(col("labels"), "Region"))
          // rounded to 9dp first: a tier rank whose exact value sits on a
          // 4dp half (35.68425 at sf0.01) arrives as 35.684249999…; the
          // oracle's exact decimal arithmetic rounds it up
          .select(element_at(col("labels"), 1).as("label"), col("key"),
            round(round(col("rank"), 9), 4).as("rank"))
      },
      Some("""WITH members AS (
             |  SELECT n_nationkey, n_regionkey,
             |    (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) +
             |    (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS m
             |  FROM nation),
             |nranks AS (
             |  SELECT n_nationkey, n_regionkey,
             |    0.15 + 0.85 * 0.15 * m AS rank FROM members)
             |SELECT 'Nation' AS label, CAST(n_nationkey AS BIGINT) AS key,
             |  round(rank, 4) AS rank FROM nranks
             |UNION ALL
             |SELECT 'Region', CAST(r_regionkey AS BIGINT),
             |  round(0.15 + 0.85 * (SELECT sum(rank) FROM nranks
             |    WHERE n_regionkey = r_regionkey), 4)
             |FROM region""".stripMargin)),

    // Personalized PageRank (Haveliwala 2002): teleport mass restarts at
    // the BUILDING-segment customers; on the Customer→Nation→Region DAG
    // the ranks close-form per tier, which the oracle computes directly.
    QueryDef("q_personalized_pagerank",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val edges = g.rels.filter(col("type").isin("FROM", "IN_REGION"))
          .select(col("src"), col("dst"))
        val sources = g.nodesByLabel("Customer")
          .filter(col("mktsegment") === "BUILDING")
          .select(col("id").as("source"))
        val ranks = Ranking.personalizedPageRank(edges, sources, iterations = 5)
        g.nodes.select(col("id").as("node"), col("labels"), col("key"))
          .join(ranks, "node")
          .filter(array_contains(col("labels"), "Nation") ||
            array_contains(col("labels"), "Region"))
          .select(element_at(col("labels"), 1).as("label"), col("key"),
            round(col("rank"), 4).as("rank"))
      },
      Some("""WITH s AS (SELECT c_custkey, c_nationkey FROM customer
             |  WHERE c_mktsegment = 'BUILDING'),
             |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM s),
             |nr AS (SELECT n_nationkey, n_regionkey,
             |    0.85 * 0.15 * (SELECT count(*) FROM s
             |      WHERE c_nationkey = n_nationkey) / ns AS rank
             |  FROM nation, cnt)
             |SELECT 'Nation' AS label, CAST(n_nationkey AS BIGINT) AS key,
             |  round(rank, 4) AS rank FROM nr
             |UNION ALL
             |SELECT 'Region', CAST(r_regionkey AS BIGINT),
             |  round(0.85 * (SELECT sum(rank) FROM nr
             |    WHERE n_regionkey = r_regionkey), 4)
             |FROM region""".stripMargin)),

    // Label propagation (community detection; synchronous, deterministic
    // min-tie-break) over the same-region nation cliques: a clique of
    // size ≥ 3 stabilizes at its min member id within 2 rounds, so the
    // oracle is the per-region minimum.
    QueryDef("q_label_propagation",
      (s, d) => {
        val n = t(s, d, "nation")
        val edges = n.alias("a").join(n.alias("b"),
            col("a.n_regionkey") === col("b.n_regionkey") &&
              col("a.n_nationkey") < col("b.n_nationkey"))
          .select(col("a.n_nationkey").cast("long").as("src"),
            col("b.n_nationkey").cast("long").as("dst"))
        Ranking.labelPropagation(edges, iterations = 4)
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS node,
             |  CAST(min(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT) AS label
             |FROM nation""".stripMargin)),

    // k-truss decomposition (Cohen 2008) on the ring of 25 six-cliques:
    // intra-clique edges close 4 triangles each, bridges close none — the
    // 4-truss is exactly the union of the cliques, which the oracle lists
    // in closed form. Bridges must peel in round one and nothing may
    // cascade further.
    QueryDef("q_ktruss",
      (s, d) => {
        val base = t(s, d, "customer")
          .filter(col("c_custkey").between(0, 149))
          .select(col("c_custkey").cast("long").as("k"))
        val intra = base.alias("a").join(base.alias("b"),
            floor(col("a.k") / 6) === floor(col("b.k") / 6) &&
              col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        val bridges = base.filter(col("k") % 6 === 5)
          .select(col("k").as("src"), ((col("k") + 1) % 150).as("dst"))
        Centrality.kTruss(intra.unionByName(bridges), k = 4)
      },
      Some("""SELECT a.k AS u, b.k AS v FROM
             |  (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
             |   WHERE c_custkey BETWEEN 0 AND 149) a,
             |  (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
             |   WHERE c_custkey BETWEEN 0 AND 149) b
             |WHERE a.k // 6 = b.k // 6 AND a.k < b.k""".stripMargin)),

    // Full core decomposition on a tiered fixture: a K4 (coreness 3), a
    // K6 (coreness 5) and a 4-node chain (coreness 1), disjoint — closed
    // form per tier for the oracle.
    QueryDef("q_core_decomposition",
      (s, d) => {
        val base = t(s, d, "customer")
          .filter(col("c_custkey").between(1, 24))
          .select((col("c_custkey") - 1).cast("long").as("k"))
        val k4 = base.filter(col("k") < 4).alias("a")
          .join(base.filter(col("k") < 4).alias("b"), col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        val k6 = base.filter(col("k").between(10, 15)).alias("a")
          .join(base.filter(col("k").between(10, 15)).alias("b"),
            col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        val chain = base.filter(col("k").between(20, 22))
          .select(col("k").as("src"), (col("k") + 1).as("dst"))
        Centrality.coreDecomposition(k4.unionByName(k6).unionByName(chain))
      },
      Some("""WITH n AS (SELECT CAST(c_custkey - 1 AS BIGINT) AS k
             |  FROM customer WHERE c_custkey BETWEEN 1 AND 24)
             |SELECT k AS node, 3 AS coreness FROM n WHERE k < 4
             |UNION ALL SELECT k, 5 FROM n WHERE k BETWEEN 10 AND 15
             |UNION ALL SELECT k, 1 FROM n WHERE k BETWEEN 20 AND 23""".stripMargin)),

    // Temporal earliest-arrival paths (time-respecting reachability, Wu
    // et al. VLDB 2014): ring edges k -> k+1 and shortcut edges
    // k -> k+5, both available at instant k — a path may continue only on
    // edges no earlier than its arrival, so the wrap edges dead-end and
    // shortcuts genuinely change arrivals (node 5 is reachable at t=0 via
    // the shortcut vs t=4 on the ring). The oracle enumerates every
    // time-respecting path with a recursive CTE and takes the min.
    QueryDef("q_temporal_reach",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val ring = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"),
          col("k").as("ts"))
        val hops = n.select(col("k").as("src"), ((col("k") + 5) % 25).as("dst"),
          col("k").as("ts"))
        val sources = n.filter(col("k").isin(0L, 13L))
          .select(col("k").as("source"))
        Bfs.earliestArrival(ring.unionByName(hops), sources)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst,
             |    CAST(n_nationkey AS BIGINT) AS ts FROM nation
             |  UNION ALL
             |  SELECT CAST(n_nationkey AS BIGINT),
             |    CAST((n_nationkey + 5) % 25 AS BIGINT),
             |    CAST(n_nationkey AS BIGINT) FROM nation),
             |r AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS source,
             |    CAST(n_nationkey AS BIGINT) AS node,
             |    CAST(0 AS BIGINT) AS arrival, 0 AS hops
             |  FROM nation WHERE n_nationkey IN (0, 13)
             |  UNION ALL
             |  SELECT r.source, e.dst, e.ts, r.hops + 1
             |  FROM r JOIN e ON e.src = r.node
             |  WHERE r.arrival <= e.ts AND r.hops < 25)
             |SELECT source, node, min(arrival) AS arrival
             |FROM r GROUP BY source, node""".stripMargin)),

    // Full truss decomposition on the same fixture: every intra-clique
    // edge of a K6 closes 4 triangles (trussness 6), bridges close none
    // (floor trussness 2) — both in closed form for the oracle.
    QueryDef("q_truss_decomposition",
      (s, d) => {
        val base = t(s, d, "customer")
          .filter(col("c_custkey").between(0, 149))
          .select(col("c_custkey").cast("long").as("k"))
        val intra = base.alias("a").join(base.alias("b"),
            floor(col("a.k") / 6) === floor(col("b.k") / 6) &&
              col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        val bridges = base.filter(col("k") % 6 === 5)
          .select(col("k").as("src"), ((col("k") + 1) % 150).as("dst"))
        Centrality.trussDecomposition(intra.unionByName(bridges))
      },
      Some("""WITH n AS (SELECT CAST(c_custkey AS BIGINT) AS k
             |  FROM customer WHERE c_custkey BETWEEN 0 AND 149)
             |SELECT a.k AS u, b.k AS v, 6 AS trussness FROM n a JOIN n b
             |ON a.k // 6 = b.k // 6 AND a.k < b.k
             |UNION ALL
             |SELECT LEAST(k, (k + 1) % 150), GREATEST(k, (k + 1) % 150), 2
             |FROM n WHERE k % 6 = 5""".stripMargin)),

    // GNN neighbor sampling (GraphSAGE, Hamilton et al. 2017): from each
    // Region seed, at most 2 nations at hop 1 and 3 members per nation
    // at hop 2, chosen by the deterministic multiplicative hash — the
    // oracle rebuilds the tagged ids and replays every rank, so the
    // sampled minibatch matches edge for edge.
    QueryDef("q_neighbor_sample",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val down = g.rels.filter(col("type") === "IN_REGION")
          .select(col("dst").as("src"), col("src").as("dst"))
          .unionByName(g.rels.filter(col("type") === "FROM")
            .select(col("dst").as("src"), col("src").as("dst")))
        val seeds = g.nodesByLabel("Region").select(col("id").as("seed"))
        Walks.neighborSample(down, seeds, Seq(2, 3))
      },
      Some("""WITH e1 AS (
             |  SELECT CAST(17592186044416 + n_regionkey AS BIGINT) AS src,
             |    CAST(35184372088832 + n_nationkey AS BIGINT) AS dst
             |  FROM nation),
             |e2 AS (
             |  SELECT CAST(35184372088832 + c_nationkey AS BIGINT) AS src,
             |    CAST(52776558133248 + c_custkey AS BIGINT) AS dst FROM customer
             |  UNION ALL
             |  SELECT CAST(35184372088832 + s_nationkey AS BIGINT),
             |    CAST(70368744177664 + s_suppkey AS BIGINT) FROM supplier),
             |h1 AS (SELECT src AS seed, 1 AS hop, src, dst, row_number() OVER (
             |    PARTITION BY src ORDER BY
             |      ((src % 1000003) * 2654435761 + (dst % 1000003) * 40503
             |        + 1 * 97) % 1000003, dst) AS rk
             |  FROM e1),
             |f1 AS (SELECT seed, dst FROM h1 WHERE rk <= 2),
             |h2 AS (SELECT f1.seed, 2 AS hop, e2.src, e2.dst, row_number() OVER (
             |    PARTITION BY f1.seed, e2.src ORDER BY
             |      ((e2.src % 1000003) * 2654435761 + (e2.dst % 1000003) * 40503
             |        + 2 * 97) % 1000003, e2.dst) AS rk
             |  FROM f1 JOIN e2 ON e2.src = f1.dst)
             |SELECT seed, CAST(hop AS INT) AS hop, src, dst
             |FROM h1 WHERE rk <= 2
             |UNION ALL
             |SELECT seed, CAST(hop AS INT), src, dst FROM h2 WHERE rk <= 3""".stripMargin)),

    // Minimum spanning tree (Borůvka) on the 25-nation weighted ring plus
    // heavy chord edges: the MST of a cycle is the cycle minus its
    // heaviest edge under the (weight, id) total order, and the weight-10
    // chords must never be chosen — both derivable in closed form, so the
    // oracle ranks the ring edges and drops exactly one.
    QueryDef("q_mst",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("key"))
        val ring = n.select((col("key") + 1000).as("id"), col("key").as("src"),
          ((col("key") + 1) % 25).as("dst"),
          (lit(1.0) + col("key") % 7).as("weight"))
        val chords = n.select((col("key") + 2000).as("id"), col("key").as("src"),
          ((col("key") + 5) % 25).as("dst"), lit(10.0).as("weight"))
        SpanningTree.minimumSpanningForest(ring.unionByName(chords))
          .orderBy("id")
      },
      Some("""WITH ring AS (
             |  SELECT CAST(n_nationkey + 1000 AS BIGINT) AS id,
             |    CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst,
             |    CAST(1 + n_nationkey % 7 AS DOUBLE) AS weight
             |  FROM nation),
             |ranked AS (SELECT *, row_number() OVER (
             |    ORDER BY weight DESC, id DESC) AS rn FROM ring)
             |SELECT id, src, dst, weight FROM ranked WHERE rn > 1
             |ORDER BY id""".stripMargin)),

    // FastRP node embeddings (Chen et al. 2019; the ecosystem's default
    // embedding) on the same-region nation cliques. The projection matrix
    // is xxhash64-seeded so DuckDB cannot replay the raw vectors; the
    // oracle instead pins the structural guarantee the embedding exists
    // for — every region's mean intra-clique cosine beats the global
    // cross-region mean — plus the row set itself.
    QueryDef("q_fastrp",
      (s, d) => {
        val n = t(s, d, "nation")
        val sym = n.alias("a").join(n.alias("b"),
            col("a.n_regionkey") === col("b.n_regionkey") &&
              col("a.n_nationkey") =!= col("b.n_nationkey"))
          .select(col("a.n_nationkey").cast("long").as("src"),
            col("b.n_nationkey").cast("long").as("dst"))
        val emb = Walks.fastRP(sym, dim = 16)
        val reg = n.select(col("n_nationkey").cast("long").as("node"),
          col("n_regionkey").cast("long").as("region"))
        val e2 = emb.join(reg, "node")
        val pairs = e2.alias("x").join(e2.alias("y"),
            col("x.node") < col("y.node"))
          .select(col("x.region").as("r1"), col("y.region").as("r2"),
            graft.functions.Similarity.dot(col("x.embedding"),
              col("y.embedding")).as("cos"))
        val inter = pairs.filter(col("r1") =!= col("r2"))
          .agg(avg("cos").as("interMean"))
        pairs.filter(col("r1") === col("r2"))
          .groupBy(col("r1").as("region")).agg(avg("cos").as("intra"))
          .crossJoin(broadcast(inter))
          .select(col("region"),
            (col("intra") > col("interMean")).as("intra_gt_inter"))
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS region,
             |  true AS intra_gt_inter FROM region""".stripMargin)),

    // FastRP -> kNN composition: every nation's nearest neighbor in
    // embedding space must come from its own region — the retrieval-level
    // guarantee (stronger than q_fastrp's mean separation) that makes
    // the embedding usable for similarity search downstream.
    QueryDef("q_fastrp_knn",
      (s, d) => {
        val n = t(s, d, "nation")
        val sym = n.alias("a").join(n.alias("b"),
            col("a.n_regionkey") === col("b.n_regionkey") &&
              col("a.n_nationkey") =!= col("b.n_nationkey"))
          .select(col("a.n_nationkey").cast("long").as("src"),
            col("b.n_nationkey").cast("long").as("dst"))
        val emb = Walks.fastRP(sym, dim = 16)
        val reg = n.select(col("n_nationkey").cast("long").as("node"),
          col("n_regionkey").cast("long").as("region"))
        val e2 = emb.join(reg, "node")
        val w = Window.partitionBy("node").orderBy(col("cos").desc, col("nb").asc)
        e2.alias("x").join(e2.alias("y"), col("x.node") =!= col("y.node"))
          .select(col("x.node").as("node"), col("x.region").as("r1"),
            col("y.node").as("nb"), col("y.region").as("r2"),
            graft.functions.Similarity.dot(col("x.embedding"),
              col("y.embedding")).as("cos"))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1)
          .select(col("node"), (col("r1") === col("r2")).as("nn_intra_region"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS node,
             |  true AS nn_intra_region FROM nation""".stripMargin)),

    // HITS hubs & authorities (Kleinberg 1999) on the bipartite FROM
    // edges (Customer/Supplier -> Nation): the L2-normalized power
    // iteration closed-forms to powers of the nations' member counts —
    // after t = 2 iterations authority(n) = m²/√Σm⁴ and every member of n
    // carries hub m²/√Σm⁵ (min = max per nation proves uniformity).
    QueryDef("q_hits",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val from = g.rels.filter(col("type") === "FROM")
        val r = Centrality.hits(from.select("src", "dst"), iterations = 2)
        val nations = g.nodesByLabel("Nation")
          .select(col("id").as("node"), col("key"))
        val auth = nations.join(r, "node").select(col("key"), col("authority"))
        val hubs = from.select(col("src").as("node"), col("dst"))
          .join(r.select(col("node"), col("hub")), "node")
          .groupBy(col("dst").as("node"))
          .agg(max("hub").as("member_hub"), min("hub").as("member_hub_min"))
          .join(nations, "node")
          .select(col("key"), col("member_hub"), col("member_hub_min"))
        auth.join(hubs, "key")
      },
      Some("""WITH members AS (
             |  SELECT n_nationkey,
             |    CAST((SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) +
             |      (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey)
             |      AS DOUBLE) AS m
             |  FROM nation),
             |norms AS (SELECT sum(power(m, 4)) AS s4, sum(power(m, 5)) AS s5
             |  FROM members)
             |SELECT CAST(n_nationkey AS BIGINT) AS key,
             |  round(power(m, 2) / sqrt(s4), 6) AS authority,
             |  round(power(m, 2) / sqrt(s5), 6) AS member_hub,
             |  round(power(m, 2) / sqrt(s5), 6) AS member_hub_min
             |FROM members, norms""".stripMargin)),

    // Eigenvector centrality (power iteration, no teleport) on the
    // directed 25-nation ring: a k-regular strongly-connected graph keeps
    // the uniform vector exactly — the oracle is 1/√25 per node, which
    // verifies normalization and the fixed-point shape; discrimination is
    // spec-gated on a planted-hub fixture.
    QueryDef("q_eigenvector",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("key"))
        val edges = n.select(col("key").as("src"),
          ((col("key") + 1) % 25).as("dst"))
        Centrality.eigenvector(edges, iterations = 5)
          .select(col("node").as("key"), col("score"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS key,
             |  round(1 / sqrt(25.0), 6) AS score
             |FROM nation""".stripMargin)),

    // Louvain community detection on a ring of 25 six-cliques (customer
    // keys 1..150; bridge edge from each clique's last node to the next
    // clique's first): the canonical Louvain fixture — single bridges
    // can't outweigh clique cohesion, so the modularity optimum is one
    // community per clique and the greedy local-moving rounds find it
    // deterministically. Canonical community id = smallest member.
    QueryDef("q_louvain",
      (s, d) => {
        val base = t(s, d, "customer")
          .filter(col("c_custkey").between(0, 149))
          .select(col("c_custkey").cast("long").as("k"))
        val intra = base.alias("a").join(base.alias("b"),
            floor(col("a.k") / 6) === floor(col("b.k") / 6) &&
              col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        val bridges = base.filter(col("k") % 6 === 5)
          .select(col("k").as("src"), ((col("k") + 1) % 150).as("dst"))
        Ranking.louvain(intra.unionByName(bridges))
      },
      Some("""SELECT CAST(c_custkey AS BIGINT) AS node,
             |  CAST(6 * (c_custkey // 6) AS BIGINT) AS community
             |FROM customer WHERE c_custkey BETWEEN 0 AND 149""".stripMargin)),

    // Modularity of a community assignment (Newman's Q — the score the
    // Louvain rounds optimize) on the same ring-of-cliques fixture with
    // the clique partition: the oracle recomputes Q from the edge list
    // with plain SQL aggregation.
    QueryDef("q_modularity",
      (s, d) => {
        val base = t(s, d, "customer")
          .filter(col("c_custkey").between(0, 149))
          .select(col("c_custkey").cast("long").as("k"))
        val intra = base.alias("a").join(base.alias("b"),
            floor(col("a.k") / 6) === floor(col("b.k") / 6) &&
              col("a.k") < col("b.k"))
          .select(col("a.k").as("src"), col("b.k").as("dst"))
        val bridges = base.filter(col("k") % 6 === 5)
          .select(col("k").as("src"), ((col("k") + 1) % 150).as("dst"))
        val assign = base.select(col("k").as("node"),
          (floor(col("k") / 6) * 6).cast("long").as("community"))
        Ranking.modularity(intra.unionByName(bridges), assign)
      },
      Some("""WITH n AS (SELECT CAST(c_custkey AS BIGINT) AS k
             |  FROM customer WHERE c_custkey BETWEEN 0 AND 149),
             |e AS (
             |  SELECT a.k AS u, b.k AS v FROM n a JOIN n b
             |  ON a.k // 6 = b.k // 6 AND a.k < b.k
             |  UNION ALL
             |  SELECT k, (k + 1) % 150 FROM n WHERE k % 6 = 5),
             |tagged AS (SELECT u, v, 6 * (u // 6) AS cu, 6 * (v // 6) AS cv
             |  FROM e),
             |m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM tagged),
             |deg AS (SELECT c, CAST(count(*) AS DOUBLE) AS d FROM (
             |    SELECT cu AS c FROM tagged
             |    UNION ALL SELECT cv FROM tagged) GROUP BY c),
             |intra AS (SELECT cu AS c, CAST(count(*) AS DOUBLE) AS l
             |  FROM tagged WHERE cu = cv GROUP BY cu)
             |SELECT round(sum(coalesce(intra.l, 0) / m.m
             |    - (deg.d / (2 * m.m)) ^ 2), 6) AS modularity,
             |  count(*) AS communities
             |FROM deg LEFT JOIN intra ON intra.c = deg.c, m""".stripMargin)),

    // Triangle counting: nations linked iff same region → each region is a
    // clique; triangles = Σ C(|region|, 3), counted by the two-join
    // canonical-orientation enumeration.
    QueryDef("q_triangle_count",
      (s, d) => {
        val n = t(s, d, "nation")
        val edges = n.alias("a").join(n.alias("b"),
            col("a.n_regionkey") === col("b.n_regionkey") &&
              col("a.n_nationkey") < col("b.n_nationkey"))
          .select(col("a.n_nationkey").cast("long").as("src"),
            col("b.n_nationkey").cast("long").as("dst"))
        val total = Ranking.triangles(edges).agg(count(lit(1)).as("triangles"))
        val perNode = Ranking.triangleCounts(edges)
          .agg(sum(col("triangles")).as("corner_sum"))
        total.crossJoin(perNode) // corner_sum must equal 3 * triangles
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS triangles,
             |  CAST(3 * count(*) AS BIGINT) AS corner_sum
             |FROM nation a
             |JOIN nation b ON b.n_regionkey = a.n_regionkey
             |  AND a.n_nationkey < b.n_nationkey
             |JOIN nation c ON c.n_regionkey = a.n_regionkey
             |  AND b.n_nationkey < c.n_nationkey""".stripMargin)),

    // Connected components (graph-algo surplus; reference ships shortest-path
    // variants in community/graph-algo) — nations linked iff same region;
    // component id = min nation key in the region.
    QueryDef("q_connected_components",
      (s, d) => {
        val n = t(s, d, "nation")
        val edges = n.alias("a").join(n.alias("b"),
            col("a.n_regionkey") === col("b.n_regionkey") &&
              col("a.n_nationkey") < col("b.n_nationkey"))
          .select(col("a.n_nationkey").cast("long").as("src"),
            col("b.n_nationkey").cast("long").as("dst"))
        Bfs.connectedComponents(edges)
          .select(col("node").as("nationkey"), col("component"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
             |  CAST(min(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT) AS component
             |FROM nation""".stripMargin)),

    // TriadicSelection :4160 — nation-level trade graph (customer's nation ->
    // supplier's nation via an order); find a->c reachable in 2 hops with no
    // direct edge.
    QueryDef("q_triadic",
      (s, d) => {
        val orders = t(s, d, "orders"); val li = t(s, d, "lineitem")
        val cust = t(s, d, "customer"); val supp = t(s, d, "supplier")
        val edges = orders
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .select(col("c_nationkey").cast("long").as("src"),
            col("s_nationkey").cast("long").as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        Triadic.triadicSelection(edges, positive = false)
          .select(col("a"), col("c")).distinct()
      },
      Some("""WITH e AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS src,
             |    CAST(s_nationkey AS BIGINT) AS dst
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  WHERE c_nationkey <> s_nationkey)
             |SELECT DISTINCT e1.src AS a, e2.dst AS c
             |FROM e e1 JOIN e e2 ON e1.dst = e2.src
             |WHERE e1.src <> e2.dst
             |  AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = e1.src AND e.dst = e2.dst)""".stripMargin)),

    // SubtractionNodeByLabelsScan :4106 — Customer AND NOT Debtor, after a
    // Cypher write pass adds the Debtor label to negative-balance customers.
    QueryDef("q_label_subtraction",
      (s, d) => {
        val (g2, _) = graft.cypher.Cypher.execute(s, TpchGraph.load(s, d),
          "MATCH (c:Customer) WHERE c.acctbal < 0 SET c:Debtor")
        g2.nodesBySubtraction(Seq("Customer"), Seq("Debtor"))
          .agg(count(lit(1)).as("n"), min(col("key")).as("min_key"))
      },
      Some("""SELECT count(*) AS n, min(c_custkey) AS min_key
             |FROM customer WHERE NOT (c_acctbal < 0)""".stripMargin)),

    // Undirected expand (UndirectedAllRelationshipsScan :4220): degree per
    // node label treating edges as undirected — 2|E| endpoints total.
    QueryDef("q_undirected_degree",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        g.degrees(Direction.Both)
          .join(g.nodes.select(col("id"), element_at(col("labels"), 1).as("label")), "id")
          .groupBy(col("label"))
          .agg(sum(col("degree")).as("total_degree"), count(lit(1)).as("n_nodes"))
      },
      // every edge contributes one endpoint row per side; total_degree per
      // label = endpoint count, n_nodes = distinct touched nodes.
      Some("""WITH endp AS (
             |  SELECT 'Nation' AS label, n_nationkey AS k FROM nation
             |  UNION ALL SELECT 'Region', n_regionkey FROM nation
             |  UNION ALL SELECT 'Customer', c_custkey FROM customer
             |  UNION ALL SELECT 'Nation', c_nationkey FROM customer
             |  UNION ALL SELECT 'Supplier', s_suppkey FROM supplier
             |  UNION ALL SELECT 'Nation', s_nationkey FROM supplier
             |  UNION ALL SELECT 'Customer', o_custkey FROM orders
             |  UNION ALL SELECT 'Order', o_orderkey FROM orders
             |  UNION ALL SELECT 'Order', l_orderkey FROM lineitem
             |  UNION ALL SELECT 'Part', l_partkey FROM lineitem
             |  UNION ALL SELECT 'Order', l_orderkey FROM lineitem
             |  UNION ALL SELECT 'Supplier', l_suppkey FROM lineitem)
             |SELECT label, count(*) AS total_degree, count(DISTINCT k) AS n_nodes
             |FROM endp GROUP BY label""".stripMargin)),

    // Closeness + harmonic centrality (Centrality.closenessHarmonic,
    // reference community/graph-algo closeness; harmonic per Boldi &
    // Vigna 2014) on a directed 25-node ring with +3 chords — strongly
    // connected, diameter 9, nontrivial distance spectrum. The oracle
    // recomputes every pairwise distance by recursive-CTE walk
    // enumeration — an independent single-node formulation.
    QueryDef("q_closeness",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val edges = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
          .unionByName(n.select(col("k").as("src"), ((col("k") + 3) % 25).as("dst")))
        Centrality.closenessHarmonic(edges, n.select(col("k").as("source")),
          maxDepth = 12)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
             |  UNION ALL
             |  SELECT CAST(n_nationkey AS BIGINT),
             |    CAST((n_nationkey + 3) % 25 AS BIGINT) FROM nation),
             |walks AS (
             |  SELECT src AS s, dst AS t, [src, dst] AS path, 1 AS len FROM e
             |  UNION ALL
             |  SELECT w.s, e.dst, list_append(w.path, e.dst), w.len + 1
             |  FROM walks w JOIN e ON e.src = w.t
             |  WHERE w.len < 10 AND NOT list_contains(w.path, e.dst)),
             |sp AS (SELECT s, t, min(len) AS m FROM walks WHERE s <> t
             |  GROUP BY s, t)
             |SELECT s AS node, count(*) AS reached,
             |  round(count(*) / CAST(sum(m) AS DOUBLE), 4) AS closeness,
             |  round(sum(1 / CAST(m AS DOUBLE)), 4) AS harmonic
             |FROM sp GROUP BY s""".stripMargin)),

    // Betweenness centrality — Brandes forward-σ/backward-δ frontier form
    // (Centrality.betweenness) on the same ring+chord graph, exact (all
    // 25 sources). The oracle enumerates ALL shortest paths per pair by
    // recursive CTE and counts interior-node pass-throughs weighted by
    // 1/σ(s,t) — the textbook definition, computed a completely
    // different way.
    QueryDef("q_betweenness",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val edges = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
          .unionByName(n.select(col("k").as("src"), ((col("k") + 3) % 25).as("dst")))
        Centrality.betweenness(edges, n.select(col("k").as("source")),
          maxDepth = 12)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
             |  UNION ALL
             |  SELECT CAST(n_nationkey AS BIGINT),
             |    CAST((n_nationkey + 3) % 25 AS BIGINT) FROM nation),
             |walks AS (
             |  SELECT src AS s, dst AS t, [src, dst] AS path, 1 AS len FROM e
             |  UNION ALL
             |  SELECT w.s, e.dst, list_append(w.path, e.dst), w.len + 1
             |  FROM walks w JOIN e ON e.src = w.t
             |  WHERE w.len < 10 AND NOT list_contains(w.path, e.dst)),
             |sp AS (SELECT s, t, min(len) AS m FROM walks WHERE s <> t
             |  GROUP BY s, t),
             |shortest AS (SELECT w.s, w.t, w.path FROM walks w
             |  JOIN sp ON sp.s = w.s AND sp.t = w.t AND w.len = sp.m),
             |sigma AS (SELECT s, t, count(*) AS c FROM shortest GROUP BY s, t),
             |thru AS (SELECT sh.s, sh.t, u.v AS v, count(*) AS cv
             |  FROM shortest sh, unnest(sh.path[2:-2]) AS u(v)
             |  GROUP BY sh.s, sh.t, u.v)
             |SELECT v AS node,
             |  round(sum(CAST(cv AS DOUBLE) / sigma.c), 4) AS betweenness
             |FROM thru JOIN sigma USING (s, t)
             |GROUP BY v HAVING sum(CAST(cv AS DOUBLE) / sigma.c) > 0""".stripMargin)),

    // k-core by iterative peeling (Centrality.kCore): a nation ring (all
    // degree ≥ 2), a 10-customer path that must peel inward over 5 rounds,
    // and a 3-customer triangle that survives. The oracle unrolls seven
    // peel rounds in chained CTEs — enough for this fixture's fixpoint.
    QueryDef("q_kcore",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val c = t(s, d, "customer")
          .select(col("c_custkey").cast("long").as("k"))
        val ring = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
        val path = c.filter(col("k").between(1, 9))
          .select((col("k") + 100).as("src"), (col("k") + 101).as("dst"))
        val tri = c.filter(col("k").between(1, 3)).as("a")
          .join(c.filter(col("k").between(1, 3)).as("b"),
            col("a.k") < col("b.k"))
          .select((col("a.k") + 200).as("src"), (col("b.k") + 200).as("dst"))
        Centrality.kCore(ring.unionByName(path).unionByName(tri), k = 2)
      },
      Some("""WITH base AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
             |  UNION ALL
             |  SELECT CAST(c_custkey + 100 AS BIGINT),
             |    CAST(c_custkey + 101 AS BIGINT) FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 9
             |  UNION ALL
             |  SELECT CAST(a.c_custkey + 200 AS BIGINT),
             |    CAST(b.c_custkey + 200 AS BIGINT)
             |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
             |  WHERE a.c_custkey BETWEEN 1 AND 3 AND b.c_custkey BETWEEN 1 AND 3),
             |e0 AS (SELECT src, dst FROM base
             |  UNION SELECT dst, src FROM base),
             |n1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 2),
             |e1 AS (SELECT e0.src, e0.dst FROM e0
             |  WHERE src IN (SELECT src FROM n1) AND dst IN (SELECT src FROM n1)),
             |n2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 2),
             |e2 AS (SELECT e1.src, e1.dst FROM e1
             |  WHERE src IN (SELECT src FROM n2) AND dst IN (SELECT src FROM n2)),
             |n3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 2),
             |e3 AS (SELECT e2.src, e2.dst FROM e2
             |  WHERE src IN (SELECT src FROM n3) AND dst IN (SELECT src FROM n3)),
             |n4 AS (SELECT src FROM e3 GROUP BY src HAVING count(*) >= 2),
             |e4 AS (SELECT e3.src, e3.dst FROM e3
             |  WHERE src IN (SELECT src FROM n4) AND dst IN (SELECT src FROM n4)),
             |n5 AS (SELECT src FROM e4 GROUP BY src HAVING count(*) >= 2),
             |e5 AS (SELECT e4.src, e4.dst FROM e4
             |  WHERE src IN (SELECT src FROM n5) AND dst IN (SELECT src FROM n5)),
             |n6 AS (SELECT src FROM e5 GROUP BY src HAVING count(*) >= 2),
             |e6 AS (SELECT e5.src, e5.dst FROM e5
             |  WHERE src IN (SELECT src FROM n6) AND dst IN (SELECT src FROM n6)),
             |n7 AS (SELECT src FROM e6 GROUP BY src HAVING count(*) >= 2),
             |e7 AS (SELECT e6.src, e6.dst FROM e6
             |  WHERE src IN (SELECT src FROM n7) AND dst IN (SELECT src FROM n7))
             |SELECT DISTINCT src AS node FROM e7""".stripMargin)),

    // Version diff (GraphStore.diff — the CDC changelog between two
    // committed snapshots): two customer-derived versions with disjoint
    // key windows and a property rewrite; added/removed/changed per
    // node/rel id, detected via sorted-column row hashes. Oracle derives
    // the same change sets from key arithmetic.
    QueryDef("q_graph_diff",
      (s, d) => {
        val c = t(s, d, "customer")
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_diffstore_" +
          Integer.toHexString(d.hashCode)
        def del(p: java.io.File): Unit = {
          if (p.isDirectory) p.listFiles.foreach(del)
          p.delete(); ()
        }
        del(new java.io.File(dir))
        val store = new graft.graph.GraphStore(s, dir)
        val key = col("c_custkey").cast("long")
        val g0 = graft.graph.PropertyGraph(
          c.filter(key <= 300).select(key.as("id"),
            array(lit("Customer")).as("labels"), col("c_acctbal").as("acctbal")),
          c.filter(key < 200).select(key.as("id"), key.as("src"),
            (key + 1).as("dst"), lit("NEXT").as("type")))
        val g1 = graft.graph.PropertyGraph(
          c.filter(key.between(100, 400)).select(key.as("id"),
            array(lit("Customer")).as("labels"),
            when(key <= 150, col("c_acctbal") * 2)
              .otherwise(col("c_acctbal")).as("acctbal")),
          c.filter(key.between(150, 350)).select(key.as("id"), key.as("src"),
            (key + 1).as("dst"), lit("NEXT").as("type")))
        store.commit(g0); store.commit(g1)
        store.diff(0, 1)
      },
      Some("""SELECT 'node' AS kind, 'added' AS change,
             |  CAST(c_custkey AS BIGINT) AS id FROM customer
             |WHERE c_custkey BETWEEN 301 AND 400
             |UNION ALL SELECT 'node', 'removed', CAST(c_custkey AS BIGINT)
             |FROM customer WHERE c_custkey <= 99
             |UNION ALL SELECT 'node', 'changed', CAST(c_custkey AS BIGINT)
             |FROM customer
             |WHERE c_custkey BETWEEN 100 AND 150 AND c_acctbal <> 0
             |UNION ALL SELECT 'rel', 'added', CAST(c_custkey AS BIGINT)
             |FROM customer WHERE c_custkey BETWEEN 200 AND 350
             |UNION ALL SELECT 'rel', 'removed', CAST(c_custkey AS BIGINT)
             |FROM customer WHERE c_custkey <= 149""".stripMargin)),

    // Degree distribution (db.stats-style graph profiling): orders per
    // customer, histogrammed.
    QueryDef("q_degree_distribution",
      (s, d) => Ranking.degreeDistribution(
        t(s, d, "orders").select(col("o_custkey").cast("long").as("src"),
          col("o_orderkey").cast("long").as("dst"))),
      Some("""SELECT degree, count(*) AS n FROM (
             |  SELECT CAST(count(*) AS BIGINT) AS degree
             |  FROM orders GROUP BY o_custkey)
             |GROUP BY degree""".stripMargin)),

    // Deterministic node-induced subgraph sample (md5-keyed, seedless —
    // the decimation step before prototyping on the full graph): sample
    // the Customer/Nation FROM subgraph at 25 % and count survivors; the
    // oracle replays the exact md5 keep decisions on the tagged node ids.
    QueryDef("q_graph_sample",
      (s, d) => {
        val g = TpchGraph.load(s, d)
        val custBase = TpchGraph.LabelBase("Customer")
        val supBase = TpchGraph.LabelBase("Supplier")
        val sub = graft.graph.PropertyGraph(
          g.nodes.filter(array_contains(col("labels"), "Customer") ||
            array_contains(col("labels"), "Nation")),
          g.rels.filter(col("type") === "FROM" &&
            col("src").between(custBase, supBase - 1)))
        val sampled = graft.ops.Sampling.nodeSample(sub, 0.25)
        sampled.nodes.select(
            sum(array_contains(col("labels"), "Customer").cast("long"))
              .as("n_customers"),
            sum(array_contains(col("labels"), "Nation").cast("long"))
              .as("n_nations"))
          .crossJoin(sampled.rels.agg(count(lit(1)).as("n_rels")))
      },
      Some("""WITH c AS (SELECT c_custkey AS k, c_nationkey AS nk FROM customer
             |  WHERE substr(md5(CAST(52776558133248 + c_custkey AS VARCHAR)), 1, 2) < '40'),
             |n AS (SELECT n_nationkey AS k FROM nation
             |  WHERE substr(md5(CAST(35184372088832 + n_nationkey AS VARCHAR)), 1, 2) < '40')
             |SELECT (SELECT count(*) FROM c) AS n_customers,
             |  (SELECT count(*) FROM n) AS n_nations,
             |  (SELECT count(*) FROM c JOIN n ON c.nk = n.k) AS n_rels""".stripMargin)),

    // Weighted PageRank (GDS-style relationship-weighted variant) on the
    // order→part incidence graph, weight = quantity: orders are sources
    // (rank fixed at 1-d), so part ranks close to
    // 0.15 + 0.85·Σ 0.15·qty/out-weight after one iteration and stay
    // there — the oracle computes that closed form; running 3 iterations
    // exercises the loop and must not drift.
    QueryDef("q_pagerank_weighted",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val edges = li.select(col("l_orderkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000000L).as("dst"),
          col("l_quantity").as("weight"))
        Ranking.weightedPageRank(edges, iterations = 3)
          .filter(col("node") >= 1000000000L)
          .select((col("node") - 1000000000L).as("part"),
            round(col("rank"), 4).as("rank"))
      },
      Some("""WITH ow AS (SELECT l_orderkey AS o, sum(l_quantity) AS ow
             |  FROM lineitem GROUP BY 1)
             |SELECT CAST(l_partkey AS BIGINT) AS part,
             |  round(0.15 + 0.85 * sum(0.15 * l_quantity / ow.ow), 4) AS rank
             |FROM lineitem JOIN ow ON l_orderkey = ow.o
             |GROUP BY l_partkey""".stripMargin)),

    // Directed degree assortativity (Newman 2002) on the supplier→part
    // incidence graph: do high-fanout suppliers supply high-fanin parts?
    // One corr over edge-joined degrees; the oracle replays it with
    // DuckDB's corr.
    QueryDef("q_assortativity",
      (s, d) => Ranking.degreeAssortativity(
        t(s, d, "lineitem").select(col("l_suppkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))),
      Some("""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
             |    CAST(l_partkey AS BIGINT) AS dst FROM lineitem),
             |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
             |ind AS (SELECT dst, count(*) AS id FROM e GROUP BY dst)
             |SELECT round(corr(CAST(od.od AS DOUBLE),
             |  CAST(ind.id AS DOUBLE)), 4) AS assortativity
             |FROM e JOIN od USING (src) JOIN ind USING (dst)""".stripMargin)),

    // Local clustering coefficients on region cliques + a cross-region
    // ring: clique interiors stay at 1.0, ring-bridged nodes dilute — the
    // oracle recounts triangles with its own 3-join.
    QueryDef("q_clustering_coeff",
      (s, d) => {
        val n = t(s, d, "nation")
        val clique = n.alias("a").join(n.alias("b"),
            col("a.n_regionkey") === col("b.n_regionkey") &&
              col("a.n_nationkey") < col("b.n_nationkey"))
          .select(col("a.n_nationkey").cast("long").as("src"),
            col("b.n_nationkey").cast("long").as("dst"))
        val ring = n.select(col("n_nationkey").cast("long").as("src"),
          ((col("n_nationkey") + 1) % 25).cast("long").as("dst"))
        Ranking.clusteringCoefficients(clique.unionByName(ring))
      },
      Some("""WITH base AS (
             |  SELECT CAST(a.n_nationkey AS BIGINT) AS u,
             |    CAST(b.n_nationkey AS BIGINT) AS v
             |  FROM nation a JOIN nation b
             |  ON a.n_regionkey = b.n_regionkey
             |    AND a.n_nationkey < b.n_nationkey
             |  UNION
             |  SELECT CAST(least(n_nationkey, (n_nationkey + 1) % 25) AS BIGINT),
             |    CAST(greatest(n_nationkey, (n_nationkey + 1) % 25) AS BIGINT)
             |  FROM nation),
             |deg AS (SELECT node, count(*) AS degree FROM (
             |    SELECT u AS node FROM base UNION ALL SELECT v FROM base)
             |  GROUP BY node),
             |corners AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM base e1 JOIN base e2 ON e2.u = e1.v
             |  JOIN base e3 ON e3.u = e1.u AND e3.v = e2.v),
             |tri AS (SELECT un.node, count(*) AS t
             |  FROM corners, unnest([a, b, c]) AS un(node) GROUP BY un.node)
             |SELECT d.node, d.degree, coalesce(t.t, 0) AS triangles,
             |  round(2 * coalesce(t.t, 0) /
             |    CAST(d.degree * (d.degree - 1) AS DOUBLE), 4) AS coeff
             |FROM deg d LEFT JOIN tri t ON t.node = d.node
             |WHERE d.degree >= 2""".stripMargin)),

    // Strongly connected components (trim + forward-backward pivot; the
    // driver-local Tarjan fast path fires here — the distributed loop is
    // CentralitySpec-covered): a directed 25-ring (one SCC), a directed
    // 9-edge path (singletons), and a 3-cycle. The oracle computes mutual
    // reachability from the recursive-CTE transitive closure.
    QueryDef("q_scc",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val c = t(s, d, "customer")
          .select(col("c_custkey").cast("long").as("k"))
        val ring = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
        val path = c.filter(col("k").between(1, 9))
          .select((col("k") + 100).as("src"), (col("k") + 101).as("dst"))
        val tri = c.filter(col("k").between(1, 3))
          .select((col("k") + 200).as("src"), ((col("k") % 3) + 201).as("dst"))
        Centrality.stronglyConnectedComponents(
          ring.unionByName(path).unionByName(tri))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
             |  UNION ALL
             |  SELECT CAST(c_custkey + 100 AS BIGINT),
             |    CAST(c_custkey + 101 AS BIGINT) FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 9
             |  UNION ALL
             |  SELECT CAST(c_custkey + 200 AS BIGINT),
             |    CAST((c_custkey % 3) + 201 AS BIGINT) FROM customer
             |  WHERE c_custkey BETWEEN 1 AND 3),
             |reach AS (
             |  SELECT src AS s, dst AS t FROM e
             |  UNION
             |  SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t),
             |nodes AS (SELECT DISTINCT node FROM (
             |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
             |mutual AS (SELECT a.s AS v, min(a.t) AS mn
             |  FROM reach a JOIN reach b ON b.s = a.t AND b.t = a.s
             |  GROUP BY a.s)
             |SELECT n.node, CAST(coalesce(least(n.node, m.mn), n.node)
             |  AS BIGINT) AS component
             |FROM nodes n LEFT JOIN mutual m ON m.v = n.node""".stripMargin)),

    // Condensation DAG of the SCC decomposition (the component-level
    // graph every SCC consumer builds next): edges mapped through the
    // component assignment, intra-component edges dropped, cross edges
    // deduped. On the fixture only the 9 path edges survive — but a wrong
    // SCC would leak ring or triangle edges into the output.
    QueryDef("q_scc_condensation",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val c = t(s, d, "customer")
          .select(col("c_custkey").cast("long").as("k"))
        val ring = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
        val path = c.filter(col("k").between(1, 9))
          .select((col("k") + 100).as("src"), (col("k") + 101).as("dst"))
        val tri = c.filter(col("k").between(1, 3))
          .select((col("k") + 200).as("src"), ((col("k") % 3) + 201).as("dst"))
        val edges = ring.unionByName(path).unionByName(tri)
        val comp = Centrality.stronglyConnectedComponents(edges)
        edges
          .join(comp.select(col("node").as("src"), col("component").as("cs")), "src")
          .join(comp.select(col("node").as("dst"), col("component").as("cd")), "dst")
          .filter(col("cs") =!= col("cd"))
          .select(col("cs"), col("cd")).distinct()
      },
      Some("""SELECT CAST(c_custkey + 100 AS BIGINT) AS cs,
             |  CAST(c_custkey + 101 AS BIGINT) AS cd
             |FROM customer WHERE c_custkey BETWEEN 1 AND 9""".stripMargin)),

    // HyperBall neighborhood function (Boldi & Vigna 2013) on the same
    // ring+chord graph: per-node HLL counters max-merged along edges, one
    // double collected per round. Under the portable md5 hash the
    // register INIT replays in DuckDB, and the max-merge rounds are exact
    // integer arithmetic — the oracle recomputes every register state and
    // the whole curve (per-node estimates fold the array left-to-right in
    // both engines; only the cross-node sum order differs, absorbed by
    // the 4dp round). CentralitySpec additionally pins the curve against
    // exact BFS within HLL error.
    QueryDef("q_hyperball",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val edges = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
          .unionByName(n.select(col("k").as("src"), ((col("k") + 3) % 25).as("dst")))
        Centrality.hyperBall(edges, maxT = 15, log2m = 8, portable = true)
          .select(col("t"), (round(col("nf") + 1e-9, 4) + 0.0).as("nf"))
      },
      Some("""WITH RECURSIVE nn AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
             |e AS (SELECT DISTINCT src, dst FROM (
             |  SELECT k AS src, (k+1) % 25 AS dst FROM nn
             |  UNION ALL SELECT k, (k+3) % 25 FROM nn)),
             |nd AS (SELECT DISTINCT node FROM (
             |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
             |init AS (SELECT node,
             |    CAST(concat('0x', substr(md5(node || ':hyperball'), 1, 15))
             |      AS BIGINT) AS h
             |  FROM nd),
             |regs0 AS (SELECT node, list_transform(generate_series(0, 255),
             |    i -> CASE WHEN i = h % 256 THEN
             |      CASE WHEN (h // 256) = 0 THEN 57
             |           ELSE CAST(log2(CAST(((h // 256) & -(h // 256))
             |             AS DOUBLE)) AS INT) + 1 END
             |    ELSE 0 END) AS regs
             |  FROM init),
             |bal AS (
             |  SELECT 0 AS t, node, regs FROM regs0
             |  UNION ALL
             |  SELECT t + 1, node, list(mx ORDER BY i) AS regs FROM (
             |    SELECT t, node, i, max(r) AS mx FROM (
             |      SELECT b.t, b.node, g.i, b.regs[g.i] AS r
             |      FROM bal b, LATERAL unnest(generate_series(1, 256)) AS g(i)
             |      UNION ALL
             |      SELECT b.t, e.src AS node, g.i, b.regs[g.i] AS r
             |      FROM bal b JOIN e ON e.dst = b.node,
             |        LATERAL unnest(generate_series(1, 256)) AS g(i))
             |    GROUP BY t, node, i)
             |  GROUP BY t, node
             |  HAVING t < 15
             |),
             |ests AS (SELECT t, node,
             |    list_sum(list_transform(regs, r -> pow(2.0, -r))) AS inv,
             |    len(list_filter(regs, r -> r = 0)) AS zeros
             |  FROM bal),
             |tot AS (SELECT t, sum(CASE
             |    WHEN (0.7213 / (1 + 1.079/256)) * 65536 / inv <= 640.0
             |         AND zeros > 0
             |      THEN 256 * ln(256.0 / zeros)
             |    ELSE (0.7213 / (1 + 1.079/256)) * 65536 / inv END) AS nf
             |  FROM ests GROUP BY t),
             |flag AS (SELECT t, nf,
             |    t > 0 AND NOT (nf > lag(nf) OVER (ORDER BY t) * (1 + 1e-12))
             |      AS stop
             |  FROM tot),
             |cutoff AS (SELECT coalesce(min(t), 99) AS c FROM flag WHERE stop)
             |SELECT CAST(t AS INT) AS t, round(nf + 1e-9, 4) + 0.0 AS nf
             |FROM flag, cutoff WHERE t < c""".stripMargin)),

    // Deterministic random-walk corpus (DeepWalk's input layer): 2 walks
    // × 8 steps from every ring+chord node; each hop moves to the
    // out-neighbor minimizing md5(salt:walk:step:src:dst) — seedless and
    // engine-replayable, so the DuckDB oracle regenerates the EXACT same
    // walks from a precomputed argmin choice table + recursive CTE.
    QueryDef("q_random_walks",
      (s, d) => {
        val n = t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"))
        val edges = n.select(col("k").as("src"), ((col("k") + 1) % 25).as("dst"))
          .unionByName(n.select(col("k").as("src"), ((col("k") + 3) % 25).as("dst")))
        Walks.randomWalks(edges, n.select(col("k").as("start")),
          steps = 8, walksPerNode = 2)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS src,
             |    CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
             |  UNION ALL
             |  SELECT CAST(n_nationkey AS BIGINT),
             |    CAST((n_nationkey + 3) % 25 AS BIGINT) FROM nation),
             |w0 AS (SELECT CAST(n_nationkey * 2 + j AS BIGINT) AS walk,
             |    CAST(n_nationkey AS BIGINT) AS node
             |  FROM nation, (SELECT unnest([0, 1]) AS j)),
             |ch AS (SELECT w.walk, s.step, e.src, e.dst, row_number() OVER (
             |    PARTITION BY w.walk, s.step, e.src
             |    ORDER BY md5(concat_ws(':', 'walk', w.walk, s.step, e.src,
             |      e.dst))) AS rk
             |  FROM (SELECT DISTINCT walk FROM w0) w,
             |    (SELECT unnest(range(1, 9)) AS step) s, e),
             |wk AS (
             |  SELECT walk, 0 AS step, node FROM w0
             |  UNION ALL
             |  SELECT w.walk, w.step + 1, c.dst
             |  FROM wk w JOIN ch c ON c.walk = w.walk AND c.step = w.step + 1
             |    AND c.src = w.node AND c.rk = 1
             |  WHERE w.step < 8)
             |SELECT walk, CAST(step AS INT) AS step, node FROM wk""".stripMargin)),

    // Longest-path DAG layering (topological generations) over the
    // region→nation→customer→order containment DAG — multi-round
    // Bellman-Ford relaxation must settle every type at its depth.
    QueryDef("q_topo_layers",
      (s, d) => {
        val n = t(s, d, "nation"); val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        val edges = n.select((col("n_regionkey").cast("long") + 900000000L).as("src"),
            (col("n_nationkey").cast("long") + 800000000L).as("dst"))
          .unionByName(c.select((col("c_nationkey").cast("long") + 800000000L).as("src"),
            (col("c_custkey").cast("long") + 700000000L).as("dst")))
          .unionByName(o.select((col("o_custkey").cast("long") + 700000000L).as("src"),
            col("o_orderkey").cast("long").as("dst")))
        Walks.topologicalLayers(edges)
          .groupBy("layer").agg(count(lit(1)).as("n"))
      },
      Some("""SELECT layer, count(*) AS n FROM (
             |  SELECT DISTINCT n_regionkey, 0 AS layer FROM nation
             |  UNION ALL SELECT n_nationkey, 1 FROM nation
             |  UNION ALL SELECT c_custkey, 2 FROM customer
             |  UNION ALL SELECT o_orderkey, 3 FROM orders)
             |GROUP BY layer""".stripMargin)),

    // Node similarity (gds.nodeSimilarity shape): Jaccard over supplier
    // out-neighborhoods in the supplier→part bipartite graph from
    // lineitem, top-5 pairs per supplier, ties by partner id. Candidate
    // pairs come from the shared-neighbor self-join; the fanout cap that
    // bounds hub cost at scale is left at its default (no part's supplier
    // fanout approaches it here, so the result is exact).
    QueryDef("q_node_similarity",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val edges = li.select(col("l_suppkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
        Centrality.nodeSimilarity(edges, topK = 5)
      },
      Some("""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
             |    CAST(l_partkey AS BIGINT) AS dst FROM lineitem),
             |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
             |inter AS (SELECT a.src AS n1, b.src AS n2, count(*) AS i
             |  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
             |  GROUP BY a.src, b.src),
             |sim AS (SELECT n1, n2,
             |    round(CAST(i AS DOUBLE) / (d1.d + d2.d - i), 4) AS similarity
             |  FROM inter JOIN deg d1 ON d1.src = n1 JOIN deg d2 ON d2.src = n2)
             |SELECT n1, n2, similarity, CAST(rank AS INT) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY n1
             |    ORDER BY similarity DESC, n2 ASC) AS rank FROM sim)
             |WHERE rank <= 5""".stripMargin))
  )
}
