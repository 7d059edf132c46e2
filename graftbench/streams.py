"""Seeded request streams for the benchmark's workloads.

Everything the program receives is generated here from `--seed`: the Cypher
texts and parameters of tpch_read, and the R-MAT generator settings of
rmat_analytics.
"""

import random

# name -> (Cypher, DuckDB twin, ordered result?). Shapes follow the query
# registry: key lookup, 1- and 2-hop expand with aggregation, OPTIONAL MATCH,
# *1..2 var-length, bounded shortestPath, ORDER BY/LIMIT top-k, correlated
# CALL {}. Eight templates keep a run (the cold block and two window blocks)
# near 50 s.
READ_TEMPLATES = {
    "lookup": (
        "MATCH (c:Customer {key: $k}) "
        "RETURN c.name AS name, c.acctbal AS acctbal, c.mktsegment AS segment",
        "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = $k",
        False),
    "orders_of": (
        "MATCH (c:Customer {key: $k})-[:PLACED]->(o:Order) "
        "RETURN count(o) AS orders, sum(o.totalprice) AS total",
        "SELECT count(*), coalesce(sum(o_totalprice), 0.0) FROM orders WHERE o_custkey = $k",
        False),
    "brands_of": (
        "MATCH (c:Customer {key: $k})-[:PLACED]->(:Order)-[l:CONTAINS]->(p:Part) "
        "RETURN p.brand AS brand, count(*) AS lines, sum(l.qty) AS qty "
        "ORDER BY lines DESC, brand ASC LIMIT 5",
        "SELECT p_brand, count(*) AS lines, sum(l_quantity) FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey "
        "WHERE o_custkey = $k GROUP BY p_brand ORDER BY lines DESC, p_brand ASC LIMIT 5",
        True),
    "nation_rich": (
        "MATCH (n:Nation {key: $k}) "
        "OPTIONAL MATCH (n)<-[:FROM]-(c:Customer) WHERE c.acctbal > $bal "
        "RETURN n.name AS nation, count(c) AS customers",
        "SELECT n_name, count(c_custkey) FROM nation LEFT JOIN customer "
        "ON c_nationkey = n_nationkey AND c_acctbal > $bal "
        "WHERE n_nationkey = $k GROUP BY n_name",
        False),
    "reach": (
        "MATCH (c:Customer)-[rs:FROM|IN_REGION*1..2]->(x) "
        "WHERE c.key >= $lo AND c.key < $hi "
        "RETURN c.key AS ckey, x.name AS reached, size(rs) AS depth",
        "SELECT c_custkey, n_name, 1 FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey >= $lo AND c_custkey < $hi "
        "UNION ALL SELECT c_custkey, r_name, 2 FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        "WHERE c_custkey >= $lo AND c_custkey < $hi",
        False),
    "shortest": (
        "MATCH (c:Customer) WHERE c.key >= $lo AND c.key < $hi "
        "MATCH p = shortestPath((c)-[:FROM|IN_REGION*..3]->(x)) "
        "WHERE x.name IS NOT NULL "
        "RETURN c.key AS ckey, x.name AS reached, length(p) AS hops",
        "SELECT c_custkey, n_name, 1 FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey >= $lo AND c_custkey < $hi "
        "UNION ALL SELECT c_custkey, r_name, 2 FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        "WHERE c_custkey >= $lo AND c_custkey < $hi",
        False),
    "top_customers": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.totalprice > $p "
        "RETURN c.name AS name, count(o) AS orders ORDER BY orders DESC, name ASC LIMIT 10",
        "SELECT c_name, count(*) AS n FROM customer JOIN orders ON o_custkey = c_custkey "
        "WHERE o_totalprice > $p GROUP BY c_name ORDER BY n DESC, c_name ASC LIMIT 10",
        True),
    "nation_balance": (
        "MATCH (n:Nation) WHERE n.key < $k "
        "CALL { WITH n MATCH (n)<-[:FROM]-(c:Customer) "
        "RETURN count(c) AS customers, sum(c.acctbal) AS balance } "
        "RETURN n.name AS nation, customers, balance",
        "SELECT n_name, count(*), sum(c_acctbal) FROM nation "
        "JOIN customer ON c_nationkey = n_nationkey WHERE n_nationkey < $k GROUP BY n_name",
        False),
}

WARMUP = ("MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
          "RETURN r.name AS region, count(n) AS nations")

N_CUSTOMERS = 15_000


def _fresh(rng, values, make):
    """Distinct parameter sets in a seeded order (reshuffled when used up)."""
    values = list(values)
    while True:
        rng.shuffle(values)
        yield from map(make, values)


def _read_params(rng):
    def keys(n):
        return rng.sample(range(n), 200)

    return {
        "lookup": _fresh(rng, keys(N_CUSTOMERS), lambda k: {"k": k}),
        "orders_of": _fresh(rng, keys(N_CUSTOMERS), lambda k: {"k": k}),
        "brands_of": _fresh(rng, keys(N_CUSTOMERS), lambda k: {"k": k}),
        "nation_rich": _fresh(rng, [(n, 5000.0 + 250.0 * b) for n in range(25) for b in range(20)],
                              lambda nb: {"k": nb[0], "bal": nb[1]}),
        "reach": _fresh(rng, range(0, N_CUSTOMERS, 50), lambda lo: {"lo": lo, "hi": lo + 50}),
        "shortest": _fresh(rng, range(0, N_CUSTOMERS, 20), lambda lo: {"lo": lo, "hi": lo + 20}),
        "top_customers": _fresh(rng, range(200), lambda i: {"p": 300_000.0 + 1000.0 * i}),
        "nation_balance": _fresh(rng, range(1, 26), lambda k: {"k": k}),
    }


REPEATED = "top_customers"


def tpch_read(seed, n=600):
    """The cold block runs every template once, in a fixed order. The window
    runs blocks of eight requests, one per template in a seeded order. In
    each block the `top_customers` request repeats one of its
    earlier (seeded) parameter sets and the others take fresh ones, so an
    eighth of the window's requests can hit the plan cache. The repeated
    template is fixed, and faster than the median request even on a miss,
    so the hits do not move the median."""
    rng = random.Random(seed)
    fresh = _read_params(rng)
    names = list(READ_TEMPLATES)
    issued = {t: [] for t in names}

    def request(t, repeat=False):
        p = rng.choice(issued[t]) if repeat else next(fresh[t])
        issued[t].append(p)
        return dict(template=t, params=p, text=READ_TEMPLATES[t][0])

    cold = [request(t) for t in names]
    window = []
    while len(window) < n:
        block = list(names)
        rng.shuffle(block)
        window.extend(request(t, t == REPEATED) for t in block)
    for i, r in enumerate(cold + window):
        r["id"] = i + 1
    return cold, window


# ---- rmat_analytics ----

def rmat(seed):
    """R-MAT settings: 2^14 node ids and 60k generated edges leave about
    59.8k distinct non-loop edges on about 13.5k nodes, with power-law hubs
    from quadrant probabilities (0.45, 0.22, 0.22, 0.11): max degree about
    430, Σdeg² about 4.1M. The program calls connectedComponents with its
    local threshold at 0, so all five operators run their distributed
    branches (the other four have no local branch). Operator time here is
    mostly per-round job overhead, not data: at 210k edges a pass took 19 s,
    at 60k 13 s. The smaller graph lets a window hold two passes, which the
    median needs to be steady. BFS depth 6 (of the graph's 8-10 levels) and
    5 PageRank rounds are also chosen for run length."""
    return {"scale": 14, "edges": 60_000, "seed": seed,
            "a": 0.45, "b": 0.22, "c": 0.22,
            "bfs_sources": 4, "bfs_depth": 6,
            "pagerank_iterations": 5, "similarity_topk": 5}
