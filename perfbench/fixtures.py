"""Seeded fixture generator: the ten TPC-H-ish tables the engine reads.

The tables have the schemas, key ranges and value domains of the
engine's scale-factor fixtures (FIXTURES.md layer A): same column
types, same categorical vocabularies, same row counts per scale
factor. Values are drawn from ``numpy.random.default_rng(seed)``, so
one seed always yields byte-identical parquet files and a new seed
yields a new dataset of the same shape. One row group per file,
snappy, timestamps as naive microseconds, like the originals.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("small", "new", "blue", "old", "hot", "large", "cold", "red")
NOUNS = ("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _days(lo: dt.date, hi: dt.date, rng, n: int) -> np.ndarray:
    span = (hi - lo).days + 1
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{COLORS[c]} {NOUNS[m]}"
                for c, m in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(
                dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n_ord
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": _days(
                dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n_line
            ),
        }
    )
    # events: strictly increasing event time over 30 days, exponential gaps
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * 86_400 * 1_000_000 - 60_000_000
    offs = np.cumsum(gaps) / gaps.sum() * span_us
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(
                np.round(rng.exponential(50.0, n_ev), 2), 0.01
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: ~5 % are an earlier document plus a " dup" marker
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    # embeddings: unit vectors, weakly clustered around a centroid per label
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0.0, 1.0, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * cent[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``<out_dir>/<table>.parquet``; return a
    fingerprint (sha256 over the written bytes) of the whole fixture."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    h = hashlib.sha256()
    for name, tbl in _tables(rng, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(
            tbl.replace_schema_metadata(None),
            path,
            compression="snappy",
            row_group_size=max(1, tbl.num_rows),
        )
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
