"""Deterministic fixture tables for the batch workloads.

The engine's queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` (the table list is
``streaming_spark.io.TABLES``).  The benchmark reads nothing outside its
own checkout, so it writes these tables itself, one parquet file and one
row group per table, with the column names, types and value domains the
queries and their DuckDB oracles rely on.

The tables depend only on ``FIXTURE_SEED`` and ``SCALE``, not on the
benchmark's ``--seed``: the batch workloads hold their inputs fixed and
the seed permutes the query order.  They are generated once per
checkout and reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# TPC-H scale factor of the generated tables: lineitem has 6e6 * SCALE
# rows.  At 0.01 a batch run (set-up plus two timed passes) takes about
# a minute on 4 cores; the time is per-job overhead more than data.
SCALE = 0.01
# Bump when the generator changes so a cached copy is regenerated.
VERSION = 1

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "hot", "new", "old", "small", "large", "green"]
_PART_NOUN = ["bolt", "ring", "plate", "rod", "anvil", "nut", "gear", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables() -> dict[str, pd.DataFrame]:
    """All fixture tables as pandas frames (a pure function of
    ``FIXTURE_SEED`` and ``SCALE``)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp = int(150_000 * SCALE), int(10_000 * SCALE)
    n_part, n_ord = int(200_000 * SCALE), int(1_500_000 * SCALE)
    n_li, n_ev = int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_users = int(15_000 * SCALE)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
        }
    )
    t["events"] = events_frame(rng, 0, n_ev, n_users, np.datetime64("2024-01-01", "us"), 30 * 86400)
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500, 64)
    return t


def events_frame(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    n_users: int,
    start: np.datetime64,
    span_s: float,
) -> pd.DataFrame:
    """``n`` events with ids from ``first_id`` and strictly increasing
    timestamps spread over ``span_s`` seconds after ``start``."""
    span_us = int(span_s * 1e6)
    # sorted draws plus their index: strictly increasing microseconds
    offsets = np.sort(rng.integers(0, span_us, n)) + np.arange(n)
    ts = start + offsets.astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100))) for _ in range(n)]
    # a few exact and near duplicates so the dedup operators find pairs
    for i in range(0, n // 10):
        src = texts[int(rng.integers(0, n))]
        texts[n - 1 - i] = src if i % 2 else src + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.3 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels,
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One row group per file, as the engine's scan assumptions expect."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=1 << 30)


def ensure_fixtures(work_dir: str) -> str:
    """Return the fixture directory under ``work_dir``, generating it on
    first use.  The directory name ends in ``sf<scale>`` because
    ``q_bucketed_join`` derives its table names from that suffix."""
    final = os.path.join(work_dir, f"fixtures-v{VERSION}-seed{FIXTURE_SEED}", f"sf{SCALE}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in build_tables().items():
        write_parquet(df, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, final)
    return final
