"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine's registry and SQL surface read
(TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``), one parquet file each, with the same column names and
physical types as the fixture set described in FIXTURES.md. The data seed
is fixed: every workload seed runs against the same tables, and the seed
only chooses statements, literals and op order.

Row counts scale like the fixtures: lineitem has 6M x sf rows, so sf0.01 is
60k rows and sf0.1 is 600k rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_ADJ = ["red", "blue", "green", "large", "small", "hot", "old", "shiny"]
_PART_NOUN = ["bolt", "ring", "plate", "gear", "nut", "pipe", "valve", "screw"]
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
_EMBED_DIM = 64
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_SEVEN_YEARS_US = 7 * 365 * 86_400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _times(rng: np.random.Generator, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, _SEVEN_YEARS_US, n).astype("timedelta64[us]")
    # day precision, as TPC-H dates, stored as timestamp[ms] like the
    # fixtures; naive timestamps are written with isAdjustedToUTC=false,
    # which Spark reads as TIMESTAMP_NTZ
    return pa.array(us.astype("datetime64[D]").astype("datetime64[ms]"), pa.timestamp("ms"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 96, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(_VOCAB[words[e - k : e]]) for e, k in zip(ends, lengths)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at ``sf``; the same ``sf`` always gives the same bytes."""
    rng = np.random.default_rng([DATA_SEED, round(sf * 1_000_000)])
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    nc, ns, np_ = n["customer"], n["supplier"], n["part"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    retail = np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)
    adj = rng.integers(0, len(_PART_ADJ), np_)
    noun = rng.integers(0, len(_PART_NOUN), np_)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(_PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), no),
            "o_totalprice": _money(rng, no, 1000.0, 400_000.0),
            "o_orderdate": _times(rng, no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey], 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
            "l_shipdate": _times(rng, nl),
        }
    )
    ne = n["events"]
    gaps = rng.integers(1, 60_000_000, ne)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            # timestamp[ns] like the fixtures: sources.read_parquet takes its
            # nanos-as-long path for this table
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 2000, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": _money(rng, ne, 0.0, 200.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_sf(sf: float, out_dir: str) -> None:
    """Write every table at ``sf`` into ``out_dir`` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=131_072)

