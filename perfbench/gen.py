"""Seeded input generator for the benchmark.

Writes the ten raw tables the package reads (``{dir}/{table}.parquet``,
the layout of ``catalog.load``) with the schema of the repository's test
data (TESTDATA.md) and the parameters measured on it by ``calibrate.py``:
row counts per scale factor, the 30-word document vocabulary, document
lengths uniform in 10-99 words, 5% near-duplicate documents, the language
shares, unit-norm 64-dim embeddings without cluster structure, order
dates 1995-01-01 to 2001-08-01 and 30 days of events. Every registered
query and its DuckDB oracle run unchanged on them. The same
``(seed, sf)`` always gives the same bytes.

``slice_batches`` cuts a generated dataset into cumulative source
snapshots for the incremental warehouse workload: ``events`` by ``ts``
and ``orders`` by ``o_orderdate``, an initial load plus increments of
seeded, uneven size; every other table is linked unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_SHARES = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
ORDER_START = datetime(1995, 1, 1)
ORDER_DAYS = 2404
EVENT_START = datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
EMBED_DIM = 64


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span_days, n).astype("timedelta64[D]"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every raw table for ``seed`` at scale ``sf`` into ``out_dir``.
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(20, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(50, round(200_000 * sf))
    n_ord = max(200, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(1, round(15_000 * sf))
    n_events = max(500, round(1_000_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, ORDER_START, ORDER_DAYS, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, ORDER_START + timedelta(days=1), ORDER_DAYS + 95, n_line),
    })
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64(EVENT_START, "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    tables["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents of 10-99 words drawn uniformly from the vocabulary; one
    in twenty, at seeded positions, is an earlier document with `` dup``
    appended, the near-duplicates the dedup operators find."""
    vocab = np.asarray(WORDS, dtype=object)
    dups = set(rng.choice(np.arange(11, n), round(DUP_SHARE * n), replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(np.asarray(LANGS, dtype=object), n, p=LANG_SHARES)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


@dataclass(frozen=True)
class Batch:
    """One cumulative source snapshot of the incremental workload."""

    dir: str
    new_events: int       # events first present in this batch
    new_orders: int       # orders first present in this batch


def slice_batches(base_dir: str, out_root: str, seed: int,
                  n_increments: int, initial_share: float = 0.7) -> list[Batch]:
    """Cut ``events`` and ``orders`` of ``base_dir`` into an initial load
    holding ``initial_share`` of each table's time range plus
    ``n_increments`` cumulative increments of seeded, uneven width that
    together cover the rest. Static tables are symlinked unchanged."""
    rng = np.random.default_rng([seed, 1])
    weights = rng.uniform(0.2, 1.0, n_increments)
    shares = np.concatenate(
        [[initial_share], initial_share + (1 - initial_share) * np.cumsum(weights) / weights.sum()]
    )
    events = pq.read_table(os.path.join(base_dir, "events.parquet"))
    orders = pq.read_table(os.path.join(base_dir, "orders.parquet"))
    batches: list[Batch] = []
    prev_events = prev_orders = 0
    for i, share in enumerate(shares):
        bdir = os.path.join(out_root, f"batch{i:02d}")
        os.makedirs(bdir)
        for name in TABLES:
            if name not in ("events", "orders"):
                os.symlink(os.path.abspath(os.path.join(base_dir, f"{name}.parquet")),
                           os.path.join(bdir, f"{name}.parquet"))
        last = i == len(shares) - 1
        event_cut = EVENT_START + timedelta(microseconds=EVENT_SPAN_US * (1.0 if last else share))
        order_cut = ORDER_START + timedelta(days=ORDER_DAYS * (1.0 if last else share))
        ev = events.filter(pc.less(events["ts"], pa.scalar(event_cut, pa.timestamp("us"))))
        od = orders.filter(pc.less(orders["o_orderdate"], pa.scalar(order_cut, pa.timestamp("us"))))
        pq.write_table(ev, os.path.join(bdir, "events.parquet"))
        pq.write_table(od, os.path.join(bdir, "orders.parquet"))
        batches.append(Batch(bdir, ev.num_rows - prev_events, od.num_rows - prev_orders))
        prev_events, prev_orders = ev.num_rows, od.num_rows
    return batches


def op_decks(names: list[str], seed: int, n_decks: int) -> list[list[str]]:
    """A seeded closed-loop op sequence as ``n_decks`` decks, each a fresh
    shuffle holding every op once, so every run's timed ops cover the set
    evenly and only their order depends on the seed."""
    rng = np.random.default_rng([seed, 2])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(n_decks)]
