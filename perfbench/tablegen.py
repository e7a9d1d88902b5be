"""Seeded generator of the query surface's input tables.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as single-row-group parquet files, with the schemas in
``edinet_etl_spark.tables.SCHEMAS`` and the same value distributions as
the synthetic TPC-H-ish test tables: independent uniform columns, a
30-day event stream with exponential gaps, a 30-word document
vocabulary with 5% near-duplicate documents (a copy of an earlier
document plus the word ``dup``), and 64-dimensional unit embeddings.

Row counts follow the scale factor: ``lineitem`` has 6,000,000 x sf
rows, ``documents`` and ``embeddings`` never fewer than 500.  The same
seed gives byte-identical tables.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_from_1995(rng: np.random.Generator, first: int, span: int, n: int) -> pa.Array:
    days = rng.integers(first, first + span, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * 64 + 1, 64), pa.int32()), flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``seed``."""
    rngs = dict(zip(TABLE_NAMES, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(TABLE_NAMES)))))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_items, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    r = rngs["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": r.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    r = rngs["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = rngs["part"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(r.choice(_ADJECTIVES, n_part), r.choice(_NOUNS, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": r.choice(_PART_TYPES, n_part).tolist(),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    r = rngs["orders"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": r.choice(["F", "O", "P"], n_orders).tolist(),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days_from_1995(r, 0, 2404, n_orders),
            "o_orderpriority": r.choice(_PRIORITIES, n_orders).tolist(),
        }
    )
    r = rngs["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_orders, n_items), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_items), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_items), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_items), pa.int32()),
            "l_quantity": r.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_items),
            "l_discount": r.integers(0, 11, n_items) / 100.0,
            "l_tax": r.integers(0, 9, n_items) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_items).tolist(),
            "l_linestatus": r.choice(["F", "O"], n_items).tolist(),
            "l_shipdate": _days_from_1995(r, 1, 2499, n_items),
        }
    )
    r = rngs["events"]
    gaps = r.exponential(1.0, n_events)
    offsets = (np.cumsum(gaps) / gaps.sum() * 30 * _DAY_US * 0.9999).astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + offsets, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, n_cust // 10), n_events), pa.int64()),
            "event_type": r.choice(_EVENT_TYPES, n_events).tolist(),
            "value": np.maximum(0.01, np.round(r.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }
    )
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rngs["documents"], n_docs),
        "embeddings": _embeddings(rngs["embeddings"], n_vecs),
    }


def write_tables(out_dir: str | Path, sf: float, seed: int) -> Path:
    """Write every table as ``{out_dir}/{name}.parquet`` (one row group
    each, like the test fixtures) and return ``out_dir``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, out / f"{name}.parquet", row_group_size=max(1, table.num_rows))
    return out
