"""Seeded generator for the benchmark's input tables.

Writes the ten tables the contract queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the column names, physical types and value
domains that FIXTURES.md documents for the repo's fixtures. Row counts
follow the sf0.01 fixture, except ``documents`` and ``embeddings``,
which are kept small (see ``ROWS``) so an all-pairs similarity pass fits
a short run. The same seed always gives identical values.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 200,
    "embeddings": 300,
}
EVENT_USERS = 150
EMBEDDING_DIM = 64
N_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Midnight timestamps (ms) drawn uniformly between two dates."""
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((b - a).astype(int))
    return (a + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[ms]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    keys = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(_pick(rng, PART_ADJ, n["part"]), _pick(rng, PART_NOUN, n["part"]))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(_pick(rng, VOCAB, int(w))) for w in rng.integers(10, 100, d)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = n["embeddings"]
    vecs = rng.standard_normal((v, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.arange(v) % N_LABELS, pa.int32())
        .take(pa.array(rng.permutation(v))),
    })
    return out


def ensure(seed: int, out_dir: str) -> str:
    """Materialise the tables for ``seed`` under ``out_dir`` once; later
    calls with the same seed reuse the finished directory."""
    if os.path.isfile(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir

