"""Workload definitions: query lists and the seeded ingest op stream.

Everything here is pure Python + numpy so the generators can be
tested without Spark. ``run.py`` executes what these functions plan.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

from datagen import EVENTS_START, PRIORITIES, US_PER_DAY, epoch_us

# Overhead-bound suite queries: many Spark jobs per call, the gated
# driver fast paths (PageRank, BFS, SSSP, connected components) and
# the Arrow kernels (PQ encode, Lloyd assignment).
CURATION = (
    "q336_pretrain_pipeline_census",
    "q339_ivf_pq_residual_topk",
    "q341_semdedup_kmeans_verdicts",
    "q77_neardup_clusters",
    "q104_purchase_pagerank",
    "q166_bfs_hops",
)

# Scan-join-aggregate plans with few jobs and no driver fast paths:
# the control workload for job-count and driver-transfer changes.
RELATIONAL = (
    "q01_pricing_summary",
    "q03_region_nation_revenue",
    "q13_orders_above_avg",
    "q125_triangle_count",
    "q134_basket_pairs",
    "q180_item_cf_neighbors",
    "q241_bootstrap_mean_ci",
    "q306_run_failure_patterns",
)

QUERY_LISTS = {"curation": CURATION, "relational": RELATIONAL}

# Statements the read-only guard must refuse ({k} is a seeded key).
WRITE_STATEMENTS = (
    "INSERT INTO orders SELECT * FROM orders WHERE o_orderkey = {k}",
    "DELETE FROM events WHERE event_id = {k}",
    "UPDATE orders SET o_totalprice = 0 WHERE o_orderkey = {k}",
    "DROP TABLE customer",
    "CREATE TABLE copy_{k} AS SELECT * FROM orders",
    "SELECT * FROM orders WHERE o_orderkey = {k}; DROP TABLE orders",
)

N_EVENTS = 100_000
PASS_ROUNDS = 4  # rounds (merges) in one ingest_mixed pass
# Seeded ranges of the mean micro-batch size and of the late share.
# The batch size is centred on 2,500 events, a batch one merge took
# about 0.33 s for on a 4-core machine; the late share is assumed.
MEAN_BATCH = (2250, 2750)
LATE_SHARE = (0.05, 0.15)
SQL_SUBS = ("point", "rollup", "join_topk", "duckdb")


def pass_orders(seed: int, names: tuple[str, ...], n_passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = np.random.default_rng([seed, 1])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(n_passes)]


def _iso(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))).isoformat(sep=" ")


def assign_batches(
    rng: np.random.Generator, n: int, mean_batch: float, late_share: float
) -> np.ndarray:
    """Micro-batch id of each event (events are in ``ts`` order).

    Events are cut in order into batches of about ``mean_batch`` rows
    (each size jittered by up to 10%); then a ``late_share`` of them is
    delayed by 2 to 6 batches, so their dates were already merged when
    they arrive."""
    sizes = []
    while sum(sizes) < n:
        sizes.append(int(mean_batch * rng.uniform(0.9, 1.1)))
    batch = np.repeat(np.arange(len(sizes)), sizes)[:n]
    late = rng.random(n) < late_share
    batch[late] = np.minimum(batch[late] + rng.integers(2, 7, int(late.sum())), len(sizes) - 1)
    return batch


def _sql_read(rng: np.random.Generator, sub: str, hi_us: int, n_orders: int) -> dict:
    """One seeded read statement of sub-kind ``sub``: a point lookup,
    a rollup range aggregate, a join + top-k, or a DuckDB-dialect
    statement."""
    k = int(rng.integers(0, n_orders))
    d1 = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2000)))
    d2 = d1 + dt.timedelta(days=int(rng.integers(30, 365)))
    if sub == "point":
        sql = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"
            f" FROM orders WHERE o_orderkey = {k}"
        )
    elif sub == "rollup":
        merged_days = (hi_us - epoch_us(EVENTS_START)) // US_PER_DAY
        lo_d = EVENTS_START.date() + dt.timedelta(days=int(rng.integers(0, merged_days + 1)))
        hi_d = lo_d + dt.timedelta(days=int(rng.integers(1, 8)))
        sql = (
            "SELECT event_type, SUM(n_events) AS n_events, SUM(sum_value) AS total_value"
            f" FROM rollup_hourly WHERE hour_start >= '{lo_d}' AND hour_start < '{hi_d}'"
            " GROUP BY event_type ORDER BY event_type"
        )
    elif sub == "join_topk":
        sql = (
            "SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders,"
            " SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS spend"
            " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
            f" WHERE o.o_orderdate >= '{d1}' AND o.o_orderdate < '{d2}'"
            " GROUP BY c.c_custkey, c.c_name ORDER BY spend DESC, c.c_custkey LIMIT 10"
        )
    else:
        p = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))][:1]
        sql = (
            "SELECT o_orderkey // 1000 AS bucket, COUNT(*) AS n,"
            " SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total"
            f" FROM orders WHERE starts_with(o_orderpriority, '{p}')"
            f" AND o_orderdate >= '{d1}' GROUP BY o_orderkey // 1000 ORDER BY bucket"
        )
    return {"kind": "sql", "sub": sub, "sql": sql, "dialect": "duckdb" if sub == "duckdb" else None}


def ingest_plan(seed: int, ts_us: np.ndarray, n_orders: int) -> dict:
    """The seeded ``ingest_mixed`` pass over events ``ts_us``.

    The stream is cut into batches; all but the last ``PASS_ROUNDS``
    form the base rollup (``first_batch`` is the first one left). A
    pass is ``PASS_ROUNDS`` rounds. Round ``r`` merges batch
    ``first_batch + r`` and then runs one read of each kind: a range
    read over the rollup and one SQL read of each of ``SQL_SUBS``
    through the engine. One seeded round also replays an
    already-committed batch, and one sends a write statement the guard
    must refuse. Every pass runs these same ops on a fresh copy of the
    base rollup, so a pass is a fixed amount of work. The seed sets the
    mean batch size, the late share and every read's parameters.
    """
    rng = np.random.default_rng([seed, 2])
    mean_batch = float(rng.uniform(*MEAN_BATCH))
    late_share = float(rng.uniform(*LATE_SHARE))
    batch = assign_batches(rng, len(ts_us), mean_batch, late_share)
    n_batches = int(batch.max()) + 1
    first = n_batches - PASS_ROUNDS
    # in-order high-water mark of event time after each batch
    hw = np.maximum.accumulate([ts_us[batch == b].max() for b in range(n_batches)])
    start_us = int(ts_us.min())
    replay_round = int(rng.integers(0, PASS_ROUNDS))
    refuse_round = int(rng.integers(0, PASS_ROUNDS))
    rounds = []
    for r in range(PASS_ROUNDS):
        b = first + r
        lo = int(rng.integers(start_us, int(hw[b])))
        hi = int(rng.integers(lo + 1, int(hw[b]) + 1))
        ops: list[dict] = [
            {"kind": "merge", "batch": b},
            {"kind": "range_read", "lo": _iso(lo), "hi": _iso(hi)},
        ]
        ops += [_sql_read(rng, sub, int(hw[b]), n_orders) for sub in SQL_SUBS]
        if r == replay_round:
            ops.append({"kind": "replay", "batch": int(rng.integers(0, b))})
        if r == refuse_round:
            stmt = WRITE_STATEMENTS[int(rng.integers(0, len(WRITE_STATEMENTS)))]
            ops.append({"kind": "refuse", "sql": stmt.format(k=int(rng.integers(0, n_orders)))})
        rounds.append(ops)
    return {
        "mean_batch": mean_batch,
        "late_share": late_share,
        "batch_of_event": batch,
        "first_batch": first,
        "rounds": rounds,
    }
