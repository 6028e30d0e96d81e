"""Self-test of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout. The end-to-end test runs every workload at
the smallest scale (`--tiny`, one pass, both the untraced and the traced
run) and checks that each metric BENCHMARK.json names is emitted with its
unit; it builds the engine first if no build is present. The checker tests
feed a deliberately wrong expected hash and a wrong oracle row and expect
both to be reported as failures.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class WorkloadsEmitEveryMetric(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_every_workload_and_metric(self):
        s = spec()
        for w in s["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    res = self.run_bench(w["name"], trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], res)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(res["failed"], 0)
                    want = {m["name"]: m["unit"] for m in s[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)


class CheckersReportWrongOutputs(unittest.TestCase):
    def test_wrong_mart_hash_is_a_failure(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_etl(d, seed=5, sf=0.001)
            ops = [{"ok": True, "kind": "insert", "name": "insert:0"},
                   {"ok": True, "kind": "insert", "name": "insert:1"},
                   {"ok": True, "kind": "update", "name": "update:0"}]
            # the mart the engine should leave: days 0-1, day 0 from rev1
            rev0 = pq.read_table(os.path.join(d, "rev0", "events.parquet"))
            rev1 = pq.read_table(os.path.join(d, "rev1", "events.parquet"))
            day = (rev0.column("ts").cast("int64").to_numpy() - gen.EPOCH_US) // 86_400_000_000
            for dd, src in ((0, rev1), (1, rev0)):
                rows = src.filter(pa.array(day == dd))
                part = os.path.join(d, "mart", f"p_day=2024-01-0{dd + 1}")
                os.makedirs(part)
                ks = [json.loads(p)["k"] for p in rows.column("props").to_pylist()]
                pq.write_table(pa.table({
                    "_id": pa.array([str(i) for i in rows.column("event_id").to_pylist()]),
                    "value": rows.column("value"),
                    "props_k": pa.array(np.array(ks, dtype=np.int64))}),
                    os.path.join(part, "part-0.parquet"))
            mart = os.path.join(d, "mart")
            problems, stats = checks.check_mart(mart, d, ops)
            self.assertEqual(problems, [])
            self.assertGreater(stats["rows"], 0)
            n, h = checks.expected_mart(d, ops)
            problems, _ = checks.check_mart(mart, d, ops, expected=(n, (h + 1) % (1 << 64)))
            self.assertEqual(len(problems), 1)
            self.assertIn("content hash", problems[0])
            # a missed update (day 0 left at rev0) changes the expected hash
            problems, _ = checks.check_mart(mart, d, ops[:2])
            self.assertEqual(len(problems), 1)

    def test_wrong_oracle_row_is_a_failure(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_all(d, seed=5, sf=0.001)
            out = os.path.join(d, "out")
            os.makedirs(os.path.join(out, "q_nations"))
            nation = pq.read_table(os.path.join(d, "nation.parquet"))
            pq.write_table(nation.select(["n_nationkey", "n_name"]),
                           os.path.join(out, "q_nations", "part-0.parquet"))
            good = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
            self.assertEqual(checks.check_queries(d, out, {"q_nations": good}), [])
            wrong = ("SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN 'X' ELSE n_name END "
                     "AS n_name FROM nation ORDER BY n_nationkey")
            problems = checks.check_queries(d, out, {"q_nations": wrong})
            self.assertEqual(len(problems), 1)
            self.assertIn("row 3 differs", problems[0])
            short = good + " LIMIT 24"
            self.assertEqual(len(checks.check_queries(d, out, {"q_nations": short})), 1)


if __name__ == "__main__":
    unittest.main()
