#!/usr/bin/env python3
"""Summaries over benchmark results.

    # run one workload N times with seeds 1..N, appending result lines
    python3 perfbench/summarize.py run --workload catalog_queries --runs 10 \\
        --seconds 10 --out runs.jsonl
    # median and quartiles of each metric, and the spread the bounds use
    python3 perfbench/summarize.py stats runs.jsonl
    # per-layer deltas between two traced results (e.g. parent vs change)
    python3 perfbench/summarize.py diff before.jsonl after.jsonl

A results file holds one result object per line, as `run.py` prints it last,
with a "workload" and "seed" key added by `run`. The spread is the distance
between the first and third quartile (`statistics.quantiles(values, n=4)`)
as a share of the median; BENCHMARK.json bounds are compared against it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def bounds():
    path = os.path.join(HERE, "..", "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def cmd_run(a):
    with open(a.out, "a") as out:
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                 "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"seed {seed}: run failed ({p.returncode})", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            res.update(workload=a.workload, seed=seed)
            out.write(json.dumps(res) + "\n")
            out.flush()
            print(f"seed {seed}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))


def cmd_stats(a):
    runs = load(a.results)
    limit = bounds()
    for w in sorted({r.get("workload", "?") for r in runs}):
        rs = [r for r in runs if r.get("workload", "?") == w]
        bad = sum(1 for r in rs if not r["correct"])
        print(f"== {w}: {len(rs)} runs, {bad} incorrect")
        print(f"{'metric':<32}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            unit = rs[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            b = limit.get(name)
            flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
            print(f"{name:<32}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}"
                  f"{'' if b is None else b:>7}{flag}  {unit}")


def cmd_diff(a):
    before, after = load(a.before), load(a.after)
    for w in sorted({r.get("workload", "?") for r in before}):
        b = [r for r in before if r.get("workload", "?") == w]
        c = [r for r in after if r.get("workload", "?") == w]
        if not c:
            continue
        print(f"== {w}: median of {len(b)} vs {len(c)} runs")
        print(f"{'metric':<32}{'before':>12}{'after':>12}{'delta':>12}{'ratio':>8}")
        for name in b[0]["metrics"]:
            x = statistics.median(r["metrics"][name]["value"] for r in b)
            y = statistics.median(r["metrics"][name]["value"] for r in c if name in r["metrics"])
            ratio = f"{y / x:.3f}" if x else "-"
            print(f"{name:<32}{x:>12.5g}{y:>12.5g}{y - x:>12.4g}{ratio:>8}  "
                  f"{b[0]['metrics'][name]['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run one workload over several seeds")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=float, default=10)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("stats", help="median, quartiles and spread per metric")
    s.add_argument("results")
    d = sub.add_parser("diff", help="per-metric deltas between two result files")
    d.add_argument("before")
    d.add_argument("after")
    a = ap.parse_args()
    {"run": cmd_run, "stats": cmd_stats, "diff": cmd_diff}[a.cmd](a)


if __name__ == "__main__":
    main()
