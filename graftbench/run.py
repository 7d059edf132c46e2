#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 graftbench/run.py --workload tpch_read --seed 1 --seconds 5 --trace 0

Builds graft and the benchmark's JVM program from source on first use (sbt,
into .bench_build/), writes the seeded inputs of one workload, runs them in
one JVM on local[<cores>] with one closed-loop client, checks every output
against an independent reference, and prints one JSON object as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are the per-layer metrics, measured in a separate traced run.
--log FILE appends the full run record (metrics, workload properties, tail
percentile) for compare.py. See README.md for what each workload and metric
is for.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import streams  # noqa: E402

# the TPC-H tables (scale factor 0.1) that graft's own bench reads
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("tpch_read", "rmat_analytics")
SETUP_REPS = 3
CORES = len(os.sched_getaffinity(0))
HEAP = "4g"
JVM_TIMEOUT_S = 165
RMAT_OPS = ("bfs", "pagerank", "cc", "triangles", "similarity")
PLAN_CACHE_ENTRIES = 256
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, files in sorted(os.walk(r)):
            for f in sorted(files):
                yield os.path.join(d, f)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile graft plus the JVM program with sbt when the sources changed, and
    return the runtime classpath."""
    stamp = _stamp(list(_sources()))
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building graft and the benchmark program (sbt)...")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts keeps its temporary files inside the checkout
    env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
        ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=700)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        sys.exit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def _typed(params):
    def t(v):
        return "long" if isinstance(v, int) else "double" if isinstance(v, float) else "string"
    return [[k, t(v), v] for k, v in params.items()]


def _wire(r):
    return {"id": r["id"], "template": r["template"], "text": r["text"],
            "params": _typed(r["params"])}


def cpu_times():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(v[:3]) + sum(v[4:7]), v[7] if len(v) > 7 else 0


def run_jvm(classpath, cfg, run_dir):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", cfg_path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed ({code})")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- statistics

def pct(xs, q):
    """Percentile q (0-100) with linear interpolation."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs):
    """The highest percentile with at least ten samples beyond it; below 21
    samples there is none above the median, and the median is reported."""
    q = max(50.0, 100.0 * (1 - 10.0 / len(xs)))
    return pct(xs, q), q


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------------------------- metrics

def end_to_end(res, window, cold):
    lat = [r["latency_s"] for r in window if r["ok"]] or [r["latency_s"] for r in window]
    t, q = tail(lat)
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "cold_mean_s": (mean([r["latency_s"] for r in cold]), "s"),
        "throughput_rps": (len(window) / res["window_s"], "req/s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }, {"latency_tail_s": t, "tail_percentile": round(q, 1), "samples": len(lat)}


def span_sums(spans_path):
    by_req = {}
    with open(spans_path) as f:
        for line in f:
            s = json.loads(line)
            d = by_req.setdefault(s["req"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + (s["endUs"] - s["startUs"]) / 1e6
    return by_req


def per_layer(res, workload, window, spans):
    lay = [r["layers"] for r in window]

    def m(k):
        return mean([x[k] for x in lay])

    def span_mean(name, rs=window):
        return mean([spans.get(r["id"], {}).get(name, 0.0) for r in rs])

    tasks = sum(x["exec.tasks"] for x in lay)
    skew_w = sum(x["exec.skew_weight"] for x in lay)
    out = {
        "cypher.parse_s": (span_mean("cypher.parse"), "s"),
        "cypher.plan_s": (span_mean("cypher.plan"), "s"),
        "cypher.execute_s": (span_mean("cypher.execute"), "s"),
        "cypher.plan_cache_hit_ratio": (
            res.get("plan_cache_hits", 0) / len(window) if workload != "rmat_analytics" else 0.0,
            "ratio"),
        "catalyst.analysis_s": (m("catalyst.analysis_s"), "s"),
        "catalyst.optimization_s": (m("catalyst.optimization_s"), "s"),
        "catalyst.planning_s": (m("catalyst.planning_s"), "s"),
        "codegen.compile_s": (m("codegen.compile_s"), "s"),
        "codegen.classes": (m("codegen.classes"), "count"),
        "exec.jobs": (m("exec.jobs"), "count"),
        "exec.tasks": (m("exec.tasks"), "count"),
        "exec.task_run_s": (m("exec.task_run_s"), "s"),
        "exec.scheduler_delay_s": (m("exec.scheduler_delay_s"), "s"),
        "exec.empty_task_ratio": (
            sum(x["exec.empty_tasks"] for x in lay) / tasks if tasks else 0.0, "ratio"),
        "exec.shuffle_write_mb": (m("exec.shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (m("exec.shuffle_read_mb"), "MB"),
        "exec.spill_mb": (m("exec.spill_mb"), "MB"),
        "exec.task_skew": (
            sum(x["exec.skew_weighted"] for x in lay) / skew_w if skew_w else 1.0, "ratio"),
        "exec.peak_exec_mem_mb": (max(x["exec.peak_exec_mem_mb"] for x in lay), "MB"),
    }
    for op in RMAT_OPS:
        calls = [r for r in window if r["template"] == op]
        out[f"ops.{op}.build_s"] = (span_mean(f"ops.{op}.build", calls), "s")
        out[f"ops.{op}.force_s"] = (span_mean(f"ops.{op}.force", calls), "s")
        out[f"ops.{op}.jobs"] = (mean([r["layers"]["exec.jobs"] for r in calls]), "count")
    out.update({
        "graph.load_s": (statistics.median(res["graph_load_s"]), "s"),
        "storage.cached_mb": (lay[-1]["storage.cached_mb"], "MB"),
        "jvm.gc_s": (m("jvm.gc_s"), "s"),
        "trace.overhead_s": (res["trace_overhead_s"] / len(res["requests"]), "s"),
        "trace.latency_p50_s": (statistics.median(r["latency_s"] for r in window), "s"),
    })
    return out


def breakdown(window, spans):
    """Where the latency of each template goes (traced runs)."""
    lines = []
    for t in sorted({r["template"] for r in window}):
        rs = [r for r in window if r["template"] == t]
        parts = {"latency": mean([r["latency_s"] for r in rs])}
        for name in ("cypher.parse", "cypher.plan", "cypher.execute"):
            parts[name] = mean([spans.get(r["id"], {}).get(name, 0.0) for r in rs])
        for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
                  "codegen.compile_s", "exec.task_run_s", "exec.scheduler_delay_s",
                  "exec.jobs", "exec.tasks"):
            parts[k] = mean([r["layers"][k] for r in rs])
        lines.append(f"# breakdown {t} n={len(rs)} " +
                     " ".join(f"{k}={v:.4f}" for k, v in parts.items()))
    return lines


# ---------------------------------------------------------------- workloads

def prepare(workload, seed):
    """Generated inputs of one workload: (config fields, request table)."""
    if workload == "rmat_analytics":
        return {"rmat": streams.rmat(seed)}, {}
    cold, window = streams.tpch_read(seed)
    reqs = {r["id"]: r for r in cold + window}
    return {"warmup": streams.WARMUP, "cold": [_wire(r) for r in cold],
            "requests": [_wire(r) for r in window]}, reqs


def read_properties(executed, reqs):
    seen, repeats = set(), 0
    for r in executed:
        key = (r["template"], json.dumps(reqs[r["id"]]["params"], sort_keys=True))
        repeats += key in seen
        seen.add(key)
    return {"requests": len(executed), "repeated_share": round(repeats / len(executed), 4),
            "distinct_pairs": len(seen), "plan_cache_entries": PLAN_CACHE_ENTRIES}


def check(workload, res, reqs, run_dir, cfg):
    """Ids of requests whose output is wrong, and the workload properties."""
    records = res["requests"]
    if workload == "tpch_read":
        failed = oracle.check_read(records, reqs, streams.READ_TEMPLATES, DATA)
        return failed, read_properties(records, reqs)
    verify = os.path.join(run_dir, "verify")
    edges = oracle.edge_list(verify)
    bad_ops = oracle.check_rmat(verify, edges, res["sources"], cfg["rmat"], cfg["rmat"]["seed"])
    props = oracle.graph_properties(edges)
    props["passes"] = res["passes"]
    return [r["id"] for r in records if r["template"] in bad_ops], props


def run_one(workload, a, classpath):
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{workload}-{a.seed}-{a.trace}")
    os.makedirs(run_dir)

    fields, reqs = prepare(workload, a.seed)
    cfg = dict(fields, workload=workload, seconds=a.seconds, trace=bool(a.trace),
               cores=CORES, setup_reps=SETUP_REPS, out_dir=run_dir, data_dir=DATA)
    t0, cpu0 = time.time(), cpu_times()
    res = run_jvm(classpath, cfg, run_dir)
    jvm_s, cpu1 = time.time() - t0, cpu_times()
    # CPU time the hypervisor gave to other guests while this run wanted it:
    # runs with a high share measure the machine, not the program
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0] + cpu1[1] - cpu0[1]) \
        if cpu0 and cpu1 else 0.0

    records = res["requests"]
    window = [r for r in records if r["phase"] == "window"]
    cold = [r for r in records if r["phase"] == "cold"]
    failed_ids, props = check(workload, res, reqs, run_dir, cfg)
    failed = set(failed_ids) | {r["id"] for r in records if not r["ok"]}
    for r in records:
        if not r["ok"]:
            log(f"request {r['id']} ({r['template']}) failed: {r.get('error')}")

    e2e, tail_info = end_to_end(res, window, cold)
    if a.trace:
        spans = span_sums(os.path.join(run_dir, "spans.jsonl"))
        metrics = per_layer(res, workload, window, spans)
        if workload != "rmat_analytics":
            print("\n".join(breakdown(window, spans)))
    else:
        metrics = e2e
    ops = {op: statistics.median(r["latency_s"] for r in window if r["template"] == op)
           for op in RMAT_OPS if workload == "rmat_analytics"}
    print(f"# workload {workload} seed={a.seed} cores={CORES} jvm_wall_s={jvm_s:.1f} "
          f"cpu_steal={steal:.3f}")
    print(f"# properties {json.dumps(props, sort_keys=True)}")
    print(f"# latency_tail_s = {tail_info['latency_tail_s']:.6g} s "
          f"(p{tail_info['tail_percentile']} of {tail_info['samples']} window requests)")
    for op, v in ops.items():
        print(f"# {op}_s = {v:.6g} s (median over window passes)")
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    summary = {"correct": not failed, "attempted": len(records), "failed": len(failed),
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if a.log:
        with open(a.log, "a") as f:
            f.write(json.dumps({"workload": workload, "seed": a.seed, "trace": a.trace,
                                "seconds": a.seconds, "properties": props, "cpu_steal": steal,
                                "tail": tail_info, "error_rate": len(failed) / len(records),
                                "end_to_end": {k: v for k, (v, _) in e2e.items()},
                                "operator_s": ops, **summary}) + "\n")
    print(json.dumps(summary))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append the full run record to this JSONL file")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graft sources not found next to the benchmark (expected src/main/scala/graft)")
    classpath = ensure_build()
    for workload in (WORKLOADS if a.workload == "all" else (a.workload,)):
        run_one(workload, a, classpath)


if __name__ == "__main__":
    main()
