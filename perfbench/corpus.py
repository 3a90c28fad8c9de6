"""Seeded generator of the benchmark corpus.

Writes the ten tables the engine reads (TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names, Arrow types and value distributions of the
engine's reference test corpus. The same ``(seed, sf)`` always writes
the same bytes of data; nothing here imports Spark.

Row counts follow the reference corpus: TPC-H tables scale with ``sf``
(lineitem is 6,000,000 x sf); ``documents`` and ``embeddings`` have a
floor of 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DUP_RATE = 0.05  # share of documents that copy another one plus " dup"
EMB_DIM = 64


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < DUP_RATE):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": _keys(n),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one ``(seed, sf)``, keyed by table name."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp = round(150_000 * sf), max(10, round(10_000 * sf))
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_line, n_ev = round(6_000_000 * sf), round(1_000_000 * sf)
    n_docs, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
    nation = np.arange(25, dtype=np.int32)
    adj_noun = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation),
                "n_name": pa.array([f"NATION_{i}" for i in nation]),
                "n_regionkey": pa.array(nation % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n_cust),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_supp),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n_part),
                "p_name": _pick(rng, adj_noun, n_part),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": _events(rng, n_ev, max(10, n_cust // 10)),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def remote_listing(rng: np.random.Generator, library: list[str]) -> pa.Table:
    """A remote document store's listing to reconcile the library
    against: a third of the library already uploaded, stale ``.docx``
    names the library no longer has, and non-``.docx`` noise."""
    library = sorted(library)
    kept = [library[i] for i in np.flatnonzero(rng.random(len(library)) < 1 / 3)]
    stale = [f"RFP_Content_{rng.bytes(16).hex()}.docx" for _ in range(max(3, len(library) // 10))]
    noise = [f"listing_{i}.{ext}" for i, ext in enumerate(("xlsx", "pdf", "tmp"))]
    names = kept + stale + noise
    order = rng.permutation(len(names))
    return pa.table({"name": pa.array([names[i] for i in order])})
