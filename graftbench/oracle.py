"""Reference checks of the program's outputs, run after the JVM has exited
(outside every timed window). Each check returns a list of failed request
ids; a request whose output does not match counts as a failed operation.

- tpch_read: a DuckDB SQL twin of each template on the same parquet files.
- rmat_analytics: networkx on the same edge list. BFS, connected components,
  triangle counts and top-k Jaccard are exact; PageRank must agree within a
  relative 1e-9 with the same 10-iteration power iteration run over the
  networkx graph (networkx's own pagerank iterates to convergence and
  redistributes dangling mass, which graft's fixed-round form does not).
"""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

PAGERANK_RTOL = 1e-9


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def rows_match(got, want, ordered):
    def key(r):
        return [(v is None, isinstance(v, str), 0 if v is None else v) for v in r]
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def check_read(records, by_id, templates, data_dir):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failed = []
    for rec in records:
        if not rec["ok"]:
            continue
        req = by_id[rec["id"]]
        _, sql, ordered = templates[req["template"]]
        used = {k: v for k, v in req["params"].items() if f"${k}" in sql}
        want = [list(r) for r in con.execute(sql, used).fetchall()]
        if not rows_match(rec["rows"], want, ordered):
            failed.append(rec["id"])
    con.close()
    return failed


def _round4(x):
    """Spark's round(x, 4): HALF_UP on the decimal form of the double."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _table(path, cols):
    t = pq.read_table(path, columns=cols)
    return list(zip(*(c.to_pylist() for c in t.columns)))


def edge_list(verify_dir):
    return _table(f"{verify_dir}/edges", ["src", "dst"])


def graph_properties(edges):
    """Workload properties: nodes, distinct edges, max degree, Σdeg² (the
    wedge count a degree-unaware wedge join pays)."""
    deg = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    return {"nodes": len(deg), "edges": len(edges),
            "max_degree": max(deg.values()),
            "wedges_sum_deg2": sum(v * v for v in deg.values())}


def check_rmat(verify_dir, edges, sources, cfg, sample_seed):
    """Return the names of operators whose output differs from networkx."""
    import random

    import networkx as nx

    g = nx.DiGraph()
    g.add_edges_from(edges)
    u = g.to_undirected()
    bad = []

    got = {}
    for s, n, d in _table(f"{verify_dir}/bfs", ["source", "node", "dist"]):
        got.setdefault(s, {})[n] = d
    for s in sources:
        want = nx.single_source_shortest_path_length(g, s, cutoff=cfg["bfs_depth"])
        if got.get(s, {}) != want:
            bad.append("bfs")
            break
    if set(got) - set(sources):
        bad.append("bfs")

    nodes = list(g.nodes)
    index = {n: i for i, n in enumerate(nodes)}
    src = np.array([index[s] for s, _ in g.edges])
    dst = np.array([index[d] for _, d in g.edges])
    outdeg = np.bincount(src, minlength=len(nodes)).astype(float)
    rank = np.full(len(nodes), 0.15)
    for _ in range(cfg["pagerank_iterations"]):
        rank = 0.15 + 0.85 * np.bincount(dst, rank[src] / outdeg[src], len(nodes))
    pr = dict(_table(f"{verify_dir}/pagerank", ["node", "rank"]))
    if pr.keys() != index.keys() or any(
            abs(pr[n] - r) > PAGERANK_RTOL * max(1.0, abs(r)) for n, r in zip(nodes, rank)):
        bad.append("pagerank")

    comp = {}
    for n, c in _table(f"{verify_dir}/cc", ["node", "component"]):
        comp.setdefault(c, set()).add(n)
    if {frozenset(c) for c in comp.values()} != \
            {frozenset(c) for c in nx.connected_components(u)}:
        bad.append("cc")

    tri = dict(_table(f"{verify_dir}/triangles", ["node", "triangles"]))
    if tri != {n: t for n, t in nx.triangles(u).items() if t > 0}:
        bad.append("triangles")

    sim = {}
    for n1, n2, s, r in _table(f"{verify_dir}/similarity",
                               ["n1", "n2", "similarity", "rank"]):
        sim.setdefault(n1, []).append((r, n2, s))
    rng = random.Random(sample_seed)
    heads = sorted(n for n in g.nodes if g.out_degree(n) > 0)
    for n1 in rng.sample(heads, min(50, len(heads))):
        mine = set(g.successors(n1))
        inter = {}
        for w in mine:
            for n2 in g.predecessors(w):
                if n2 > n1:
                    inter[n2] = inter.get(n2, 0) + 1
        scored = sorted(((-_round4(i / (len(mine) + g.out_degree(n2) - i)), n2)
                         for n2, i in inter.items()))[:cfg["similarity_topk"]]
        want = [(k + 1, n2, -s) for k, (s, n2) in enumerate(scored)]
        if sorted(sim.get(n1, [])) != want:
            bad.append("similarity")
            break
    return bad
