"""Output checks, run after the measured phase.

- Query workloads: each query's output (written by the last set-up pass)
  must equal its DuckDB oracle SQL (`SparkEntry.oracleSql`) run over the
  same input files, row by row with columns sorted by name and floats
  compared at 10 significant digits.
- ETL workload: the final mart must hold exactly the keys of the windows
  loaded, each with the `value` and `props_k` of the last source revision
  applied to it; compared as a row count plus an order-independent hash of
  (`_id`, `value`, `props_k`) computed directly from the source files.
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def compare(name, odf, sdf):
    """None if the two frames match, else a one-line reason."""
    ocols, scols = sorted(odf.columns), sorted(sdf.columns)
    if ocols != scols:
        return f"{name}: columns differ: oracle={ocols} engine={scols}"
    o, s = odf[ocols].values.tolist(), sdf[ocols].values.tolist()
    if len(o) != len(s):
        return f"{name}: rows differ: oracle={len(o)} engine={len(s)}"
    for i, (orow, srow) in enumerate(zip(o, s)):
        co, cs = [canon(x) for x in orow], [canon(x) for x in srow]
        if co != cs:
            return f"{name}: row {i} differs: oracle={co} engine={cs}"
    return None


def oracle_connection(data_dir, tmp_dir):
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4,
                                 "temp_directory": tmp_dir})
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_queries(data_dir, out_dir, oracle=None):
    """Failures (one line each) of the engine outputs under `out_dir`."""
    if oracle is None:
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
    con = oracle_connection(data_dir, os.path.join(out_dir, "oracle_tmp"))
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            odf = con.sql(sql).df()
            sdf = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:  # a failed oracle or a missing output is a failure
            problems.append(f"{name}: {str(e).splitlines()[0][:200]}")
            continue
        bad = compare(name, odf, sdf)
        if bad:
            problems.append(bad)
    con.close()
    return problems


def row_hash(ids, values, ks):
    """Order-independent digest of (_id, value, props_k) rows."""
    acc = 0
    for i, v, k in zip(ids, values, ks):
        d = hashlib.blake2b(f"{i}|{float(v).hex()}|{k}".encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(d, "little")) % (1 << 64)
    return acc


def expected_mart(data_dir, ops):
    """(row count, hash) the mart must hold after the successful window ops."""
    loaded, updated = set(), set()
    for o in ops:
        if o["ok"] and o["kind"] in ("insert", "update"):
            d = int(o["name"].split(":")[1])
            (loaded if o["kind"] == "insert" else updated).add(d)
    rev0 = pq.read_table(os.path.join(data_dir, "rev0", "events.parquet"))
    rev1 = pq.read_table(os.path.join(data_dir, "rev1", "events.parquet"))
    us = rev0.column("ts").cast("int64").to_numpy()
    day = (us - gen.EPOCH_US) // 86_400_000_000
    ids, values, ks = [], [], []
    v0, v1 = rev0.column("value").to_pylist(), rev1.column("value").to_pylist()
    p0, p1 = rev0.column("props").to_pylist(), rev1.column("props").to_pylist()
    for i, (eid, d) in enumerate(zip(rev0.column("event_id").to_pylist(), day)):
        if d in loaded:
            src_v, src_p = (v1, p1) if d in updated else (v0, p0)
            ids.append(str(eid))
            values.append(src_v[i])
            ks.append(json.loads(src_p[i])["k"])
    return len(ids), row_hash(ids, values, ks)


def read_mart(mart_dir):
    data = ds.dataset(mart_dir, format="parquet", partitioning="hive")
    t = data.to_table(columns=["_id", "value", "props_k"])
    size = sum(os.path.getsize(f) for f in data.files)
    return t, size, len(data.files)


def check_mart(mart_dir, data_dir, ops, expected=None):
    """(failures, stats) of the final mart against the source revisions."""
    t, size, files = read_mart(mart_dir)
    n_exp, h_exp = expected if expected is not None else expected_mart(data_dir, ops)
    n = t.num_rows
    h = row_hash(t.column("_id").to_pylist(), t.column("value").to_pylist(),
                 t.column("props_k").to_pylist())
    problems = []
    if len(pc.unique(t.column("_id"))) != n:
        problems.append("mart: duplicate _id rows")
    if n != n_exp:
        problems.append(f"mart: {n} rows, expected {n_exp}")
    elif h != h_exp:
        problems.append(f"mart: content hash {h:016x}, expected {h_exp:016x}")
    return problems, {"rows": n, "bytes_per_row": size / n if n else 0.0, "files": files}
