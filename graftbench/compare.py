#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

    python3 graftbench/compare.py parent.jsonl change.jsonl

Each file holds the records `run.py --log FILE` appends, one per run. Make
the runs in alternating pairs (parent, change, change, parent, ...) with the
same seeds and --seconds on both sides; the i-th run of a workload on one
side is paired with the i-th run of that workload on the other.

For every (end-to-end metric, workload) row it prints both sides' medians
and quartiles and a verdict:

- improved:   the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range, in the metric's better direction;
- worse:      the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
- unresolved: the spread (IQR / median) of either side exceeds the bound,
              unless every change run reads better than every parent run;
- unchanged:  otherwise.

A gain does not count when the change fails a larger share of its operations
than the parent: such a row reads "unchanged (more failures)".

Traced runs (--trace 1) are listed separately with the tracing overhead:
the traced latency p50 minus the untraced one, on each side.
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(p, c, bound, lower_better, more_failures=False):
    def better(a, b):
        return a < b if lower_better else a > b
    p1, pm, p3 = quartiles(p)
    c1, cm, c3 = quartiles(c)
    pairs = list(zip(p, c))
    wins = sum(better(cv, pv) for pv, cv in pairs)
    all_better = all(better(cv, pv) for cv in c for pv in p)
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    worse_by = (cm - pm) / abs(pm) if lower_better else (pm - cm) / abs(pm)
    if spread > bound and not all_better:
        v = "unresolved"
    elif wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1) and better(cm, pm):
        v = "unchanged (more failures)" if more_failures else "improved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "unchanged"
    return v, (p1, pm, p3), (c1, cm, c3), wins, len(pairs), spread


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = [w["name"] for w in bench["workloads"]] + sorted(
        {r["workload"] for r in parent + change} - {w["name"] for w in bench["workloads"]})
    print(f"{'workload':16} {'metric':16} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>6} {'spread':>7}  verdict")
    for wl in workloads:
        p_runs = [r for r in parent if r["workload"] == wl and r["trace"] == 0]
        c_runs = [r for r in change if r["workload"] == wl and r["trace"] == 0]
        if not p_runs or not c_runs:
            continue
        failed = {side: (sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs))
                  for side, runs in (("parent", p_runs), ("change", c_runs))}
        more_failures = (failed["change"][0] / failed["change"][1]
                         > failed["parent"][0] / failed["parent"][1])
        for m in bench["end_to_end"]:
            p = [r["end_to_end"][m["name"]] for r in p_runs]
            c = [r["end_to_end"][m["name"]] for r in c_runs]
            v, pq, cq, wins, n, spread = verdict(p, c, m["bound"], m["better"] == "lower",
                                                 more_failures)
            print(f"{wl:16} {m['name']:16} {'%.4g/%.4g/%.4g' % pq:>30} "
                  f"{'%.4g/%.4g/%.4g' % cq:>30} {wins:>3}/{n:<2} {spread:7.3f}  {v}")
        for side, (f, n) in failed.items():
            print(f"{wl:16} {'error_rate':16} {side}: {f}/{n} failed")
    for side, runs in (("parent", parent), ("change", change)):
        for wl in workloads:
            traced = [r for r in runs if r["workload"] == wl and r["trace"] == 1]
            plain = [r for r in runs if r["workload"] == wl and r["trace"] == 0]
            if traced and plain:
                t = statistics.median(r["metrics"]["trace.latency_p50_s"]["value"] for r in traced)
                u = statistics.median(r["end_to_end"]["latency_p50_s"] for r in plain)
                print(f"{wl:16} tracing overhead ({side}): {t - u:+.4f} s on a "
                      f"{u:.4f} s untraced latency p50 ({len(traced)} traced runs)")


if __name__ == "__main__":
    main()
