#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark package from source (sbt) into the checkout; later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed,
the engine runs in one JVM (`local[N]`, N = usable CPUs, one client issuing
one op at a time), and the outputs are checked after the measured phase.
The last line of stdout is the result object; see perfbench/README.md for
the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# The query workload: LLM-data-curation operators (exact and near-duplicate
# detection, shingle containment, a PQ-compressed ANN store, a quality
# filter) and analytics operators (a TPC-H join, a moment statistic, graph
# iteration and a graph statistic). Every query has a DuckDB oracle cheap
# enough to check in each run.
QUERIES = ("q_dedup_exact_content q_minhash_topk q_containment_pairs "
           "q_ann_store_pq q_gopher_filter q5_local_supplier_volume "
           "q_jarque_bera q_bfs_hops q_degree_assortativity").split()

# workload -> (query list or None for the ETL, input scale factor, tiny scale)
WORKLOADS = {
    "etl_incremental": (None, 0.1, 0.001),
    "catalog_queries": (QUERIES, 0.01, 0.001),
}
# a run, build excluded, must end within 180 s
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp(root):
    """Digest of every input of the build: a changed file forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_classpath(cwd, log):
    """`sbt compile` in `cwd`; returns the exported runtime classpath."""
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=cwd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env=env, timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    if p.returncode != 0:
        fail(f"build failed in {cwd} (see {log}):\n" + "\n".join(lines[-20:]))
    cps = [l.strip() for l in lines if os.pathsep in l and ".jar" in l
           and not l.startswith("[")]
    if not cps:
        fail(f"no classpath exported by sbt in {cwd}")
    return cps[-1]


def build(root, bdir):
    stamp_path = os.path.join(bdir, "stamp")
    cp_path = os.path.join(bdir, "bench.classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_path) and os.path.exists(cp_path) \
            and open(stamp_path).read() == stamp:
        cp = open(cp_path).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(bdir, exist_ok=True)
    engine_cp = sbt_classpath(root, os.path.join(bdir, "build-engine.log"))
    with open(os.path.join(bdir, "engine.classpath"), "w") as f:
        f.write(engine_cp)
    bench_cp = sbt_classpath(HERE, os.path.join(bdir, "build-bench.log"))
    with open(cp_path, "w") as f:
        f.write(bench_cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return bench_cp


# ------------------------------------------------------------------ metrics

def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_s(intervals):
    """Seconds covered by a set of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def e2e_metrics(res, gen_s):
    ops = [o for o in res["ops"] if o["kind"] in ("query", "insert", "update")]
    lat = [o["s"] for o in ops]
    busy = sum(lat)
    return {
        "setup_s": (gen_s + res["session_s"] + statistics.median(res["setup_s"])
                    + res.get("warm_pass_s", 0.0), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (quantile(lat, 0.9), "s"),
        "ops_per_s": (len(lat) / busy, "1/s"),
    }, len(lat)


def layer_metrics(res, mart_stats):
    """Per-layer metrics of a traced run (see README.md for each)."""
    ops = res["ops"]
    traced = [o for o in ops if o["kind"] in ("query", "insert", "update", "scan")]
    windows = [o for o in traced if o["kind"] in ("insert", "update")]
    jobs = [j for j in res["jobs"] if j["end_ms"] >= 0]
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"].split("/")[0], []).append(j)

    def self_s(op_list):
        tot = 0.0
        for o in op_list:
            ivs = [clip((j["start_ms"], j["end_ms"]), o["start_ms"], o["end_ms"])
                   for j in by_op.get(o["id"], [])]
            tot += o["s"] - union_s([iv for iv in ivs if iv])
        return tot

    def job_s(layer):
        return sum(j["end_ms"] - j["start_ms"] for j in jobs if j["layer"] == layer) / 1e3

    layers, total = res["layers"], res["total"]
    z = dict.fromkeys(total, 0)  # sums of a layer that ran no task
    m = {}
    for layer in ("sources", "ops", "ext", "catalog"):
        s = layers.get(layer, z)
        m[f"{layer}.jobs"] = (sum(1 for j in jobs if j["layer"] == layer), "count")
        m[f"{layer}.tasks"] = (s["tasks"], "count")
        m[f"{layer}.busy_s"] = (s["run_ms"] / 1e3, "s")
        m[f"{layer}.job_s"] = (job_s(layer), "s")
    src = layers.get("sources", z)
    m["sources.bytes_written"] = (src["written"], "B")
    m["sources.mart_files"] = (mart_stats.get("files", 0), "count")
    scans = [o["s"] for o in traced if o["kind"] == "scan"]
    m["sources.mart_scan_s"] = (sum(scans), "s")
    m["sources.mart_bytes_per_row"] = (mart_stats.get("bytes_per_row", 0.0), "B")

    win_jobs = sum(len(by_op.get(o["id"], [])) for o in windows)
    m["pipeline.driver_self_s"] = (self_s(windows), "s")
    m["pipeline.jobs_per_run"] = (win_jobs / len(windows) if windows else 0.0, "count")
    untr = [o for o in ops if o["kind"] in ("untraced_insert", "untraced_update")]
    ins = [o["s"] for o in untr if o["kind"] == "untraced_insert"]
    upd = [o["s"] for o in untr if o["kind"] == "untraced_update"]
    m["pipeline.insert_run_p50_s"] = (statistics.median(ins) if ins else 0.0, "s")
    m["pipeline.update_run_p50_s"] = (statistics.median(upd) if upd else 0.0, "s")
    rows = sum(o["rows"] for o in untr)
    m["pipeline.rows_per_s"] = (rows / sum(o["s"] for o in untr) if untr else 0.0, "1/s")

    queries = [o for o in traced if o["kind"] == "query"]
    m["catalog.build_s"] = (sum(o["build_s"] for o in queries), "s")
    m["catalog.build_jobs"] = (sum(1 for j in jobs if j["op"].endswith("/build")), "count")
    m["catalog.drain_s"] = (sum(o["s"] - o["build_s"] for o in queries), "s")

    m["artifacts.builds"] = (int(res.get("setup_artifact_builds", 0)), "count")
    m["artifacts.rebuilds"] = (int(res.get("rebuilds", 0)), "count")
    m["artifacts.build_s"] = (float(res.get("setup_artifact_build_s", 0.0)), "s")
    m["cache.drops"] = (int(res["cache_drops"]), "count")
    m["cache.spills"] = (int(res["cache_spills"]), "count")

    ph = res["phases_ms"]
    m["catalyst.analysis_s"] = (ph.get("analysis", 0) / 1e3, "s")
    m["catalyst.optimization_s"] = (ph.get("optimization", 0) / 1e3, "s")
    m["catalyst.planning_s"] = (ph.get("planning", 0) / 1e3, "s")

    m["engine.jobs"] = (len(jobs), "count")
    m["engine.stages"] = (res["stages"], "count")
    m["engine.tasks"] = (total["tasks"], "count")
    m["engine.scheduler_delay_s"] = (total["delay_ms"] / 1e3, "s")
    m["engine.deserialize_s"] = (total["deser_ms"] / 1e3, "s")
    m["engine.task_useful_ratio"] = (
        total["useful"] / total["tasks"] if total["tasks"] else 0.0, "ratio")
    m["engine.executor_run_s"] = (total["run_ms"] / 1e3, "s")
    m["engine.executor_cpu_s"] = (total["cpu_ns"] / 1e9, "s")
    m["engine.gc_s"] = (total["gc_ms"] / 1e3, "s")
    m["engine.shuffle_read_bytes"] = (total["shuffle_read"], "B")
    m["engine.shuffle_write_bytes"] = (total["shuffle_write"], "B")
    m["engine.spill_bytes"] = (total["spill"], "B")
    m["engine.result_bytes"] = (total["result_bytes"], "B")
    m["engine.failed_tasks"] = (total["failed"], "count")

    m["driver.gc_s"] = (float(res["driver_gc_s"]), "s")
    m["driver.heap_live_mb"] = (float(res["heap_live_mb"]), "MB")
    m["driver.self_s"] = (self_s(traced), "s")
    all_job_s = sum(j["end_ms"] - j["start_ms"] for j in jobs) / 1e3
    unattr = job_s("unattributed")
    m["unattributed.share"] = (unattr / all_job_s if all_job_s else 0.0, "ratio")
    # traced time over the mean of the untraced passes before and after it
    m["trace.overhead"] = (float(res["traced_s"]) / statistics.mean(res["untraced_s"]), "ratio")
    return m


def write_spans(res, path):
    """Op spans (with build/drain children) and job spans, one per line."""
    with open(path, "w") as f:
        for o in res["ops"]:
            if o["kind"] not in ("query", "insert", "update", "scan"):
                continue
            f.write(json.dumps({"id": o["id"], "parent": None, "op": o["id"],
                                "name": f'{o["kind"]}:{o["name"]}',
                                "start_ms": o["start_ms"], "end_ms": o["end_ms"]}) + "\n")
            if o["kind"] == "query":
                mid = o["start_ms"] + o["build_s"] * 1e3
                for child, s, e in (("build", o["start_ms"], mid), ("drain", mid, o["end_ms"])):
                    f.write(json.dumps({"id": f'{o["id"]}/{child}', "parent": o["id"],
                                        "op": o["id"], "name": child,
                                        "start_ms": s, "end_ms": e}) + "\n")
        for j in res["jobs"]:
            f.write(json.dumps({"id": f'job-{j["id"]}', "parent": j["op"] or None,
                                "op": j["op"].split("/")[0] or None,
                                "name": f'job:{j["layer"]}',
                                "start_ms": j["start_ms"], "end_ms": j["end_ms"]}) + "\n")


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the self-test")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of an engine checkout (build.sbt and src/ not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required on PATH")
    bdir = os.path.join(root, ".bench_build")
    cp = build(root, bdir)

    start = time.time()
    queries, sf, tiny_sf = WORKLOADS[a.workload]
    if a.tiny:
        sf = tiny_sf
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    if queries is None:
        gen.write_etl(data, a.seed, sf)
    else:
        gen.write_all(data, a.seed, sf)
    gen_s = time.time() - t0

    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if a.trace:
        cmd.append("-Dspark.callstack.depth=200")
    cmd += ["-cp", cp, "perfbench.Main", f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={cpus}",
            f"data={data}", f"work={work}", f"out={out}",
            f"spawn_ms={int(time.time() * 1000)}", f"queries={','.join(queries or [])}"]
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=RUN_DEADLINE_S - (time.time() - start))
        except subprocess.TimeoutExpired:
            fail(f"engine run exceeded the {RUN_DEADLINE_S} s deadline (log: {log})")
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(log).read().splitlines()[-30:]
        fail(f"engine run failed ({p.returncode}):\n" + "\n".join(tail))
    with open(out) as f:
        res = json.load(f)

    failures = [f'{o["kind"]} {o["name"]}: {o["err"]}' for o in res["ops"] if not o["ok"]]
    mart_stats = {}
    if queries is None:
        problems, mart_stats = checks.check_mart(res["check_mart"], data, res["ops"])
        failures += problems
    else:
        failures += checks.check_queries(data, res["check_dir"])
    attempted = len(res["ops"])

    if a.trace:
        metrics = layer_metrics(res, mart_stats)
        tdir = os.path.join(bdir, "traces")
        os.makedirs(tdir, exist_ok=True)
        spans = os.path.join(tdir, f"{a.workload}-seed{a.seed}.spans.jsonl")
        write_spans(res, spans)
        print(f"spans: {os.path.relpath(spans, root)}")
        n = None
    else:
        metrics, n = e2e_metrics(res, gen_s)
    print(f"gen_s = {gen_s:.3f}; session_s = {res['session_s']:.3f}; "
          f"setup repetitions = {[round(x, 3) for x in res['setup_s']]}")
    for o in res["ops"]:
        print(f'  {o["kind"]:>16} {o["name"]:<28} {o["s"]:.4f} s (build {o["build_s"]:.4f})')
    for f in failures:
        print(f"FAIL {f}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    if n is not None:
        print(f"op samples = {n}; op_tail_s is their p90")
    print(f"verdict: {'correct' if not failures else 'INCORRECT'} "
          f"({len(failures)} failed of {attempted} ops)")
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
