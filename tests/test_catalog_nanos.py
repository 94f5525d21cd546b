"""nanosAsLong conf hygiene and the parquet schema memo of ``load_table``.

``load_table`` must not leave ``spark.sql.legacy.parquet.nanosAsLong``
set on the session: any OTHER nano-timestamp parquet read through the
same session would silently come back as BIGINT. The engine path
(``load_table``) converts nano columns to ``timestamp_ntz`` for every
table, driver-known or not (footer-driven detection).

``load_table`` reuses the schema Spark inferred for a single-file table
in the live SparkContext, so a repeat load launches no Spark job. Jobs
are counted under a job group through ``statusTracker``.
"""

from __future__ import annotations

import itertools
import os
import subprocess
import sys
import textwrap
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampNTZType

from conftest import SF_SMALL

_groups = itertools.count()


@contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"catalog-test-{next(_groups)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store learns of a job from the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def nano_parquet(tmp_path):
    t = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            # 2024-01-01T00:00:00.123456789, +1d, +2d
            "ts": pa.array(
                [1704067200123456789, 1704153600000000001, 1704240000999999999],
                pa.timestamp("ns"),
            ),
        }
    )
    p = os.path.join(tmp_path, "nano.parquet")
    pq.write_table(t, p, version="2.6")
    return str(tmp_path)


def test_load_table_does_not_leak_nanos_conf(spark):
    from aden_hive_fork_spark.catalog import load_table

    ev = load_table(spark, SF_SMALL, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    # conf restored: other sessions' parquet reads are unaffected
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    # lazy execution still works after the conf was restored
    assert ev.count() > 0


def test_foreign_nano_parquet_gets_timestamp_ntz(spark, nano_parquet):
    """A NON-driver table with a TIMESTAMP(NANOS) column, read through
    the engine's catalog path, lands as timestamp_ntz (truncated to
    micros, like DuckDB's ns->us narrowing) — not BIGINT."""
    from aden_hive_fork_spark.catalog import load_table

    for _ in range(2):  # inferred, then from the schema memo
        df = load_table(spark, nano_parquet, "nano")
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
        rows = {r["id"]: r["ts"] for r in df.collect()}
        assert rows[1].isoformat() == "2024-01-01T00:00:00.123456"
        assert rows[3].isoformat() == "2024-01-03T00:00:00.999999"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"


def test_load_events_raw_keeps_pushdown_long(spark):
    from aden_hive_fork_spark.catalog import load_events_raw

    raw = load_events_raw(spark, SF_SMALL)
    assert isinstance(raw.schema["ts_ns"].dataType, LongType)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    assert raw.count() > 0


def test_memoized_schema_matches_inference_for_every_table(spark):
    from aden_hive_fork_spark.catalog import TABLES, load_table, table_path

    for name in TABLES:
        load_table(spark, SF_SMALL, name)
        with spark_jobs(spark) as jobs:
            memo = load_table(spark, SF_SMALL, name)
        assert jobs == [], name
        inferred = spark.read.parquet(table_path(SF_SMALL, name))
        assert memo.schema == inferred.schema, name
        assert memo.count() == inferred.count(), name
        assert memo.exceptAll(inferred).isEmpty(), name
        assert inferred.exceptAll(memo).isEmpty(), name


def test_rewritten_footer_is_inferred_again(spark, tmp_path):
    from aden_hive_fork_spark.catalog import load_table

    p = os.path.join(tmp_path, "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), p)
    for expect_jobs in (True, False):
        with spark_jobs(spark) as jobs:
            assert load_table(spark, str(tmp_path), "t").columns == ["a"]
        assert bool(jobs) is expect_jobs
    pq.write_table(pa.table({"a": pa.array(["x"]), "b": pa.array([1.5])}), p)
    with spark_jobs(spark) as jobs:
        df = load_table(spark, str(tmp_path), "t")
    assert jobs
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_directory_table_is_inferred_every_call(spark, tmp_path):
    from aden_hive_fork_spark.catalog import load_table

    spark.range(3).write.parquet(os.path.join(tmp_path, "d.parquet"))
    for _ in range(2):
        with spark_jobs(spark) as jobs:
            df = load_table(spark, str(tmp_path), "d")
        assert jobs
        assert sorted(r.id for r in df.collect()) == [0, 1, 2]


def test_new_spark_context_infers_again():
    """Two SparkContexts, one after the other, in a child process (the
    test session's own context must stay up)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from aden_hive_fork_spark.catalog import load_table
        from aden_hive_fork_spark.session import build_session
        for _ in range(2):
            spark = build_session(app_name="memo-test", cpus=1, shuffle_partitions=1)
            sc = spark.sparkContext
            counts = []
            for i in range(2):
                sc.setJobGroup(f"load{{i}}", "load")
                load_table(spark, {SF_SMALL!r}, "region")
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                counts.append(len(sc.statusTracker().getJobIdsForGroup(f"load{{i}}")))
            print("jobs", sc.applicationId, *counts)
            spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln.split() for ln in out.stdout.splitlines() if ln.startswith("jobs ")]
    assert len(lines) == 2 and lines[0][1] != lines[1][1]
    for _, _, first, second in lines:
        assert int(first) > 0 and int(second) == 0
