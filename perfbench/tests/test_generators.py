"""The seed fixes the inputs: same seed, same tables, pass order and
ingest op stream; another seed changes them."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import workloads  # noqa: E402


def _events_ts(seed: int) -> np.ndarray:
    return datagen.event_columns(np.random.default_rng(seed), workloads.N_EVENTS, 1500)["ts"]


def _plan(seed: int) -> dict:
    return workloads.ingest_plan(seed, _events_ts(seed), n_orders=15_000)


def test_tables_repeat_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    datagen.write_tables(a, 7, 0.001)
    datagen.write_tables(b, 7, 0.001)
    datagen.write_tables(c, 8, 0.001)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    for n in names:
        assert pq.read_table(os.path.join(a, n)).equals(pq.read_table(os.path.join(b, n)))
    assert not pq.read_table(os.path.join(a, "lineitem.parquet")).equals(
        pq.read_table(os.path.join(c, "lineitem.parquet"))
    )


def test_pass_order_repeats_for_a_seed():
    names = workloads.CURATION
    assert workloads.pass_orders(3, names, 5) == workloads.pass_orders(3, names, 5)
    assert workloads.pass_orders(3, names, 5) != workloads.pass_orders(4, names, 5)
    for order in workloads.pass_orders(3, names, 5):
        assert sorted(order) == sorted(names)


def test_ingest_stream_repeats_for_a_seed():
    a, b = _plan(5), _plan(5)
    assert a["rounds"] == b["rounds"]
    assert np.array_equal(a["batch_of_event"], b["batch_of_event"])
    assert (a["mean_batch"], a["late_share"]) == (b["mean_batch"], b["late_share"])


def test_another_seed_changes_batches_late_share_and_reads():
    a, b = _plan(5), _plan(6)
    assert not np.array_equal(a["batch_of_event"], b["batch_of_event"])
    assert a["late_share"] != b["late_share"]
    assert a["mean_batch"] != b["mean_batch"]

    def reads(plan):
        return [
            (o.get("lo"), o.get("hi"), o.get("sql"))
            for r in plan["rounds"]
            for o in r
            if o["kind"] in ("range_read", "sql")
        ]

    assert reads(a) != reads(b)


def test_ingest_pass_shape():
    plan = _plan(9)
    rounds = plan["rounds"]
    assert len(rounds) == workloads.PASS_ROUNDS
    kinds = [o["kind"] for ops in rounds for o in ops]
    assert kinds.count("replay") == 1 and kinds.count("refuse") == 1
    first = plan["first_batch"]
    assert first + workloads.PASS_ROUNDS == plan["batch_of_event"].max() + 1
    for r, ops in enumerate(rounds):
        assert ops[0] == {"kind": "merge", "batch": first + r}
        assert [o["kind"] for o in ops[1:6]] == ["range_read"] + ["sql"] * 4
        assert [o["sub"] for o in ops[2:6]] == list(workloads.SQL_SUBS)
        assert ops[1]["lo"] < ops[1]["hi"]
        for o in ops[6:]:
            if o["kind"] == "replay":
                assert o["batch"] < first + r  # only already-committed batches
    sizes = np.bincount(plan["batch_of_event"])
    assert sizes.min() > 0
    assert workloads.MEAN_BATCH[0] * 0.9 <= sizes[:first].mean() <= workloads.MEAN_BATCH[1] * 1.1
    # late events: some merged batch holds events older than an earlier batch's newest
    batch, ts = plan["batch_of_event"], _events_ts(9)
    merged = range(first, first + workloads.PASS_ROUNDS)
    newest = np.maximum.accumulate([ts[batch == b].max() for b in range(merged.stop)])
    assert any(ts[batch == b].min() < newest[b - 1] for b in merged)
