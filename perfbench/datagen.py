"""Seeded synthetic fixtures for the benchmark.

Writes the ten tables the query surface reads (``region`` ... ``embeddings``)
as single-row-group parquet files, with the schemas and value domains of the
engine's test fixtures (see FIXTURES.md at the repository root). The same
``seed`` and ``sf`` always give byte-identical tables.

Row counts follow the fixture scale rules: the TPC-H-style tables and
``events`` scale linearly with ``sf``; ``documents`` and ``embeddings`` never
drop below 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(seed: int, sf: float) -> dict[str, dict[str, object]]:
    rngs = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(8)]
    n_supp = max(1, round(10_000 * sf))
    n_cust = max(1, round(150_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_event = max(1, round(1_000_000 * sf))
    n_user = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))
    out: dict[str, dict[str, object]] = {}

    out["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }
    out["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }

    r = rngs[0]
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -1000, 10000, n_supp),
    }

    r = rngs[1]
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -1000, 10000, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    }

    r = rngs[2]
    pkey = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = {
        "p_partkey": pkey,
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pkey % 1000) * 0.1, 1),
    }

    r = rngs[3]
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(r, ["O", "P", "F"], n_ord),
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": ORDER_EPOCH + r.integers(0, 2405, n_ord) * DAY_US,
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    }

    r = rngs[4]
    out["lineitem"] = {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": SHIP_EPOCH + r.integers(0, 2499, n_line) * DAY_US,
    }

    r = rngs[5]
    mean_gap_us = 30 * DAY_US / n_event
    gaps = np.maximum(1, r.exponential(mean_gap_us, n_event).astype(np.int64))
    out["events"] = {
        "event_id": np.arange(n_event, dtype=np.int64),
        "ts": EVENT_EPOCH + np.cumsum(gaps),
        "user_id": r.integers(0, n_user, n_event).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, n_event),
        "value": np.round(r.exponential(50.0, n_event), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_event)],
    }

    r = rngs[6]
    words = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(words[r.integers(0, len(VOCAB), r.integers(8, 101))])
        for _ in range(n_doc)
    ]
    # One document in twenty is a near-duplicate of an earlier one, so the
    # dedup operators find clusters (and a few exact duplicates by chance).
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    out["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    r = rngs[7]
    vecs = r.normal(0.0, 0.13, (n_vec, 64)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vec).astype(np.int32),
    }
    return out


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one row group each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in _tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
