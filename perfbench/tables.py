"""Seeded synthetic source tables for the query workload.

Writes the ten tables the registered queries read (a TPC-H-like star
schema, an ``events`` stream, a small ``documents`` corpus with
near-duplicates, and unit-norm ``embeddings``) as one parquet file each,
with the column names, types and value ranges the queries expect. Row
counts scale with ``sf`` like the TPC-H tables do.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def frames(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 0x7AB1E])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    i32 = np.int32

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_evt
    ).astype("timedelta64[us]")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.sort(ts),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(n))) for n in rng.integers(10, 101, n_doc)
    ]
    # one document in twenty repeats an earlier one plus a marker token,
    # so the dedup queries have near-duplicate pairs to find
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    E = rng.normal(size=(n_vec, EMBED_DIM)).astype(np.float32)
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(E),
            "label": rng.integers(0, 10, n_vec).astype(i32),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
