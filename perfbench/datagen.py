"""Seeded input tables for the benchmark.

Two kinds of input, both a pure function of ``(seed, scale)``:

- ``write_star_schema`` writes the ten tables the query inventory reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``), one
  parquet file each, with the column types and value distributions of the
  test fixtures described in FIXTURES.md. ``scale`` follows the fixtures'
  scale factor: 0.01 gives 60,000 lineitem rows and 10,000 events.
- ``skew_table`` builds the hot-key stream for the Reshape workload: about
  90% of the rows carry one key, and a second hot key takes over at a
  seeded drift point.

Money-like doubles are 2-decimal exact and timestamps are microsecond
precision, so Spark and DuckDB read identical values.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "red", "small", "hot", "big", "green", "cold", "old"]
_PART_NOUN = ["anvil", "widget", "ring", "bolt", "gear", "gizmo", "nut", "spring"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a the data table query stream batch window join key value row line "
    "part order customer column filter scan sort hash merge group agg "
    "vector spark big small fast slow"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten inventory tables, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vecs = max(50, int(50_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(np.int64))
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, span_days + 1, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, span_days + 95, n_line) * _DAY_US),
    })
    # events: a Poisson arrival process over 30 days, ids in time order
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    ts = _EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_star_schema(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the inventory tables to ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_schema(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


@dataclass(frozen=True)
class SkewSpec:
    """What the seed chose for the hot-key stream."""

    rows: int
    n_batches: int
    hot_keys: tuple[int, int]
    drift_batch: int  # first micro-batch where the second key is hot


def skew_table(
    seed: int, rows: int, n_batches: int, n_keys: int = 1_000, hot_share: float = 0.9
) -> tuple[pa.Table, SkewSpec]:
    """Hot-key stream: ``hot_share`` of the rows on one key, the rest
    uniform over ``n_keys``; the hot key switches at a seeded batch in the
    middle third. ``value`` is a multiple of 1/4, so every sum is exact in
    binary floating point and the output check can compare exactly."""
    rng = np.random.default_rng([seed, 1])
    hot_a, hot_b = (int(k) for k in rng.choice(n_keys, 2, replace=False))
    drift = int(rng.integers(n_batches * 2 // 5, n_batches * 3 // 5 + 1))
    per_batch = rows // n_batches
    rows = per_batch * n_batches
    batch = np.arange(rows) // per_batch
    hot = np.where(batch < drift, hot_a, hot_b)
    keys = np.where(rng.random(rows) < hot_share, hot, rng.integers(0, n_keys, rows))
    # ts increases with the row number, so the replay's range partitioning
    # on ts cuts the table into (approximately) the per-batch blocks above
    ts = _EPOCH_2024 + np.arange(rows, dtype=np.int64) * 1_000
    table = pa.table({
        "event_id": np.arange(rows, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": keys.astype(np.int64),
        "value": rng.integers(0, 400, rows) / 4.0,
    })
    return table, SkewSpec(rows, n_batches, (hot_a, hot_b), drift)
