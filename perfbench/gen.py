"""Seeded input generator for the benchmark.

Writes the FIXTURES.md tables (one parquet file each, the same physical
types as the project's test fixtures: naive microsecond timestamps, float32
embedding lists) so the engine reads them exactly as it reads its fixtures.
The same (seed, scale) always gives byte-identical rows.

`events_revision` derives the ETL replay source: the same rows with about
20% of keys carrying a new `value` and `props` (keys and `ts` never change,
as in the reference pipeline, where a re-extracted document keeps its
creation time).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_DAYS = 30
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
EMBED_DIM = 64


def sizes(sf):
    """Row counts at scale factor `sf` (1000 events per 0.001)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": max(15, n(15_000)),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def events_table(seed, sf):
    rng = np.random.default_rng([seed, 7])
    z = sizes(sf)
    n = z["events"]
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + EPOCH_US
    k = rng.integers(0, 100, n)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, z["users"], n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    }


def events_revision(seed, sf):
    """The replay source: ~20% of the keys get a new value and props."""
    cols = dict(events_table(seed, sf))
    rng = np.random.default_rng([seed, 11])
    n = len(cols["event_id"])
    changed = rng.random(n) < 0.2
    value = cols["value"].to_numpy()
    new_value = np.where(changed,
                         np.round(value + rng.uniform(1.0, 100.0, n), 2), value)
    k_old = np.array([int(p[6:-1]) for p in cols["props"].to_pylist()])
    k_new = np.where(changed, (k_old + rng.integers(1, 100, n)) % 100, k_old)
    cols["value"] = pa.array(new_value)
    cols["props"] = pa.array([f'{{"k": {v}}}' for v in k_new])
    return cols


def documents_table(seed, sf):
    rng = np.random.default_rng([seed, 3])
    n = sizes(sf)["documents"]
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lens]
    # 5% near-duplicates: a copy of another document plus one marker token
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings_table(seed, sf):
    rng = np.random.default_rng([seed, 5])
    n = sizes(sf)["embeddings"]
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def star_tables(seed, sf):
    rng = np.random.default_rng([seed, 1])
    z = sizes(sf)
    out = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
    }
    n = z["customer"]
    out["customer"] = {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }
    n = z["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n)),
    }
    n = z["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
    }
    n = z["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, z["customer"], n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }
    n = z["lineitem"]
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, z["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, z["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, z["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04")),
    }
    return out


def write_all(out, seed, sf):
    """All ten fixture tables into directory `out`."""
    os.makedirs(out, exist_ok=True)
    for name, cols in star_tables(seed, sf).items():
        _write(out, name, cols)
    _write(out, "events", events_table(seed, sf))
    _write(out, "documents", documents_table(seed, sf))
    _write(out, "embeddings", embeddings_table(seed, sf))


def write_etl(out, seed, sf):
    """The two ETL sources: `rev0/events.parquet` (the first load) and
    `rev1/events.parquet` (the replay with changed values)."""
    for sub, cols in (("rev0", events_table(seed, sf)), ("rev1", events_revision(seed, sf))):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        _write(os.path.join(out, sub), "events", cols)
