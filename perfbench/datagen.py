"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog knows (``region`` ...
``embeddings``) as parquet files named ``<table>.parquet`` in one
directory, with the column names, types and value domains of the
engine's TPC-H-style test tables. Every value is drawn from one
``numpy.random.Generator`` seeded by the caller, so a seed fixes the
tables byte for byte.

Sizes follow a scale factor ``sf`` (``lineitem`` = 6M x sf rows);
``documents`` and ``embeddings`` keep a floor of 500 rows so the
curation operators always have a corpus to work on.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.44, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the value"
    " vector window"
).split()

EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
US_PER_DAY = 86_400_000_000


def epoch_us(d: dt.datetime) -> int:
    return (d - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _days_us(rng: np.random.Generator, n: int, start: dt.datetime, ndays: int) -> np.ndarray:
    """Midnight timestamps (epoch micros) uniform over ``ndays`` days."""
    return epoch_us(start) + rng.integers(0, ndays + 1, n) * US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def event_columns(rng: np.random.Generator, n: int, n_users: int) -> dict:
    """``events`` columns: ``n`` events uniform over 30 days, ordered
    by ``ts``, with integer-cent values (so sums are exact)."""
    ts = np.sort(epoch_us(EVENTS_START) + rng.integers(0, EVENT_DAYS * US_PER_DAY, n))
    cents = np.maximum(1, np.round(rng.exponential(5000.0, n))).astype("int64")
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value_cents": cents,
        "k": rng.integers(0, 100, n),
    }


def events_table(cols: dict) -> pa.Table:
    """Arrow ``events`` table (engine schema) from ``event_columns``."""
    return pa.table(
        {
            "event_id": cols["event_id"],
            "ts": _ts(cols["ts"]),
            "user_id": cols["user_id"],
            "event_type": pa.array(np.array(EVENT_TYPES)[cols["event_type"]]),
            "value": cols["value_cents"] / 100.0,
            "props": pa.array([f'{{"k": {k}}}' for k in cols["k"]]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # one doc in twenty is a near-duplicate of an earlier one (two
    # words swapped out), so the dedup operators find real clusters
    for i in range(1, n):
        if rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts[i] = " ".join(toks)
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype("float32").ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype="int32"))
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype("int32"),
    }


def write_tables(out_dir: str, seed: int, sf: float, n_events: int | None = None) -> dict:
    """Write all ten tables for ``seed`` at scale ``sf`` into ``out_dir``.

    ``n_events`` overrides the ``events`` row count (default 1M x sf).
    Returns the ``events`` columns as numpy arrays (see
    ``event_columns``) so callers can check results against them.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 10), max(int(1_500_000 * sf), 10)
    n_line, n_docs = max(int(6_000_000 * sf), 10), max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)})
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype="int32") % 5,
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    pk = np.arange(n_part, dtype="int64")
    _write(
        out_dir,
        "part",
        {
            "p_partkey": pk,
            "p_name": pa.array(
                np.char.add(
                    np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)
                )
            ),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        },
    )
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days_us(rng, n_ord, dt.datetime(1995, 1, 1), 2403)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        },
    )
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
            "l_shipdate": _ts(_days_us(rng, n_line, dt.datetime(1995, 1, 2), 2498)),
        },
    )
    n_ev = n_events if n_events is not None else max(int(1_000_000 * sf), 100)
    ev = event_columns(rng, n_ev, n_users=max(n_ev * 15 // 1000, 10))
    pq.write_table(events_table(ev), os.path.join(out_dir, "events.parquet"))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return ev
