"""Seeded relational tables for the registry probe.

The ten tables the registry queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), written as
one parquet file each with the column names, types and value domains of
the repository's test tables. Row counts scale with ``sf``; at
``sf=0.01`` lineitem has 60,000 rows. The same seed gives the same
tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 500,
        "embeddings": 500,
    }


def _ts(epoch_s: np.ndarray):
    import pyarrow as pa

    return pa.array(epoch_s.astype("datetime64[s]"), pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    day = 86_400

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days_from(year, span_days, k):
        t0 = int(dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc).timestamp())
        return t0 + rng.integers(0, span_days, k) * day

    def pick(domain, k):
        return np.array(domain, dtype=object)[rng.integers(0, len(domain), k)]

    nc, ns, np_, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in rng.integers(8, 90, n["documents"])]
    # one document in twenty repeats another with a word appended: the
    # near-duplicates the dedup and contamination queries look for
    src, dst = np.split(rng.permutation(len(texts))[: 2 * (len(texts) // 20)], 2)
    for i, j in zip(src.tolist(), dst.tolist()):
        texts[j] = texts[i] + " dup"
    emb = rng.normal(0, 1, (n["embeddings"], 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    ev0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ev_ts = np.sort(ev0 * 10**6 + rng.integers(0, 30 * day * 10**6, n["events"]))

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(pick(SEGMENTS, nc), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, ns)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(pick(ADJECTIVES, np_), pick(NOUNS, np_))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
            "p_type": pa.array(pick(TYPES, np_), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, np_) / 10, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(pick(("F", "O", "P"), no), pa.string()),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, no)),
            "o_orderdate": _ts(days_from(1995, 2400, no)),
            "o_orderpriority": pa.array(pick(PRIORITIES, no), pa.string()),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
            "l_returnflag": pa.array(pick(("A", "N", "R"), nl), pa.string()),
            "l_linestatus": pa.array(pick(("F", "O"), nl), pa.string()),
            "l_shipdate": _ts(days_from(1995, 2500, nl)),
        },
        "events": {
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n["events"]).astype(np.int64)),
            "event_type": pa.array(pick(EVENT_TYPES, n["events"]), pa.string()),
            "value": pa.array(np.round(rng.exponential(40.0, n["events"]) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        },
        "documents": {
            "doc_id": pa.array(np.arange(n["documents"], dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(pick(LANGS, n["documents"]), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n["documents"])]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(n["embeddings"], dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]).astype(np.int32)),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return n
