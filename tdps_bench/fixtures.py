"""Seeded generator for the ten catalog tables the registry reads.

The tables have the column names and parquet types of the repo's
TPC-H-ish test data (region nation customer supplier part orders lineitem
events documents embeddings, see TESTDATA.md), one parquet file per table,
so ``catalog.table`` and the DuckDB oracle views read them as they read
the test data. Row counts scale with ``sf`` as the test data's do
(lineitem = 6M x sf). The same seed and scale give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "hot", "old", "big", "green", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build all ten tables in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
                "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(PART_ADJ), n_part),
                        rng.integers(0, len(PART_NOUN), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _choice(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2), f64
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_money(rng, 1_000, 500_000, n_ord), f64),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), f64),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
                "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _choice(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
    }

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.sort(ts0 + rng.integers(0, month_us, n_ev).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), i64),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": pa.array(_money(rng, 0.01, 490.0, n_ev), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words))
        for n_words in rng.integers(10, 100, n_doc)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _choice(rng, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    # Label-clustered unit vectors, so similarity operators find structure.
    labels = rng.integers(0, N_LABELS, n_doc)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_doc, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_doc), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
