"""Seeded generator of the relational and corpus tables the query
registry reads (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings).

Column names, types and value domains follow the scale-factor tables
the registry is written against: one parquet file with one row group
per table, row counts proportional to ``sf`` (lineitem = 6M x sf).
The same (sf, seed) always writes the same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.15, 0.13, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _day_us(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us").astype("int64")
    return base + rng.integers(0, n_days, size) * _US_PER_DAY


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols),
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 30,
    )


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, int(rng.integers(10, 100)))
        text = " ".join(words)
        if rng.random() < 0.3:
            text = text[int(rng.integers(1, 4)):]
        texts.append(text)
    return {
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> dict:
    labels = rng.integers(0, n_labels, n)
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    vecs = 0.9 * centers[labels] / np.sqrt(dim) + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    }


def generate_tables(
    out_dir: str, sf: float, seed: int, only: list[str] | None = None
) -> dict[str, int]:
    """Write every table (or the ``only`` ones) under ``out_dir``;
    returns rows per table. A table's values do not depend on which
    other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    i32 = pa.int32()
    pk = np.arange(n_part)

    def customer(rng):
        return {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
        }

    def supplier(rng):
        return {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }

    def part(rng):
        return {
            "p_partkey": pa.array(pk, type=pa.int64()),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
        }

    def orders(rng):
        return {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_day_us("1995-01-01", 2404, n_ord, rng)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
        }

    def lineitem(rng):
        return {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
            "l_shipdate": _ts(_day_us("1995-01-02", 2498, n_line, rng)),
        }

    def events(rng):
        gaps = rng.exponential(259.0 * 1e6, n_evt).astype("int64")
        start = np.datetime64("2024-01-01", "us").astype("int64")
        return {
            "event_id": pa.array(np.arange(n_evt), type=pa.int64()),
            "ts": _ts(start + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), type=pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt).tolist()),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }

    builders = {
        "region": lambda rng: {
            "r_regionkey": pa.array(np.arange(5), type=i32),
            "r_name": pa.array(REGIONS),
        },
        "nation": lambda rng: {
            "n_nationkey": pa.array(np.arange(25), type=i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, type=i32),
        },
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": lambda rng: _documents(rng, n_docs),
        "embeddings": lambda rng: _embeddings(rng, n_vecs),
    }
    for i, (name, build) in enumerate(builders.items()):
        if only is None or name in only:
            _write(out_dir, name, build(np.random.default_rng([seed, i])))
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_docs, "embeddings": n_vecs,
    }
