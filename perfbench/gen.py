"""Seeded input generator for the benchmark.

Writes the ten parquet tables the engine's catalog knows
(``sources.catalog.TABLES``) with the schemas and value domains of the
engine's synthetic test tables: a TPC-H-like star schema, an
``events`` stream, a ``documents`` corpus with exact and near
duplicates, and clustered unit-norm ``embeddings``. The same seed and
scale always give the same bytes of data; the engine only ever sees
the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
EMB_DIM = 64
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400_000_000
DAY_US = 86_400_000_000
ORDERS_T0_US = 788_918_400_000_000  # 1995-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng: np.random.Generator, n: int, pool: list[str] | None = None,
              near: float = 0.05, exact: float = 0.002) -> list[str]:
    """``n`` documents of 10-100 words; a ``near`` share are a copy of
    an earlier (or ``pool``) document with ``dup`` appended (near
    duplicates) and an ``exact`` share are verbatim copies."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    out: list[str] = []
    pool = pool or []

    def earlier() -> str:
        j = int(rng.integers(len(pool) + len(out)))
        return pool[j] if j < len(pool) else out[j - len(pool)]

    for i in range(n):
        u = rng.random()
        if (pool or out) and u < near:
            out.append(earlier() + " dup" * int(rng.integers(1, 3)))
        elif (pool or out) and u < near + exact:
            out.append(earlier())
        else:
            out.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return out


def documents_table(rng, doc_ids: np.ndarray, pool: list[str] | None = None,
                    exact: float = 0.002) -> pa.Table:
    n = len(doc_ids)
    text = doc_texts(rng, n, pool, exact=exact)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def events_table(rng, event_ids: np.ndarray, n_users: int, t0_us: int, span_us: int) -> pa.Table:
    n = len(event_ids)
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def embeddings_table(rng, n: int, n_labels: int = 10) -> pa.Table:
    centres = rng.normal(size=(n_labels, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, n_labels, n)
    v = 0.14 * centres[label] + rng.normal(scale=0.125, size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (TPC-H row counts)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = n_ord * 4, int(1_000_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PTYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + 0.1 * (np.arange(n_part) % 1000), 2), pa.float64()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), pa.float64()),
            "o_orderdate": _ts(ORDERS_T0_US + rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line), pa.string()),
            "l_shipdate": _ts(ORDERS_T0_US + rng.integers(1, 2500, n_line) * DAY_US),
        }),
        "events": events_table(rng, np.arange(n_ev), max(1, int(15_000 * sf)), EVENTS_T0_US, EVENTS_SPAN_US),
        "documents": documents_table(rng, np.arange(n_docs)),
        "embeddings": embeddings_table(rng, n_vecs),
    }
    return out


def write_tables(out_dir: str, tabs: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
