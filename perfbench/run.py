#!/usr/bin/env python3
"""Benchmark entry point: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 2 --trace 0

Run from the repository root. The run generates its inputs from the
seed, builds a local Spark session through the engine, runs the
workload with one client for at least ``--seconds`` seconds, checks
every result, and prints one JSON object as its last line of output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics and writes the span dump to ``perfbench/out/``.
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    driver_only_s,
    group_job_ids,
    job_group,
    parse_event_log,
    vm_hwm_mb,
)

WORKLOADS = ("curation", "relational", "ingest_mixed")
SCALE = 0.01  # TPC-H-style scale factor of the generated base tables
N_SETUPS = 3  # cold set-ups per run, each in a new JVM; setup_s is their median
# The fewest complete passes a measured window holds. JIT compilation
# keeps speeding the JVM up for several passes, so a fixed pass count
# keeps runs alike.
MIN_PASSES = {"curation": 1, "relational": 1, "ingest_mixed": 2}
# ingest_mixed's short ops keep speeding up over its first passes, so
# it warms up for two passes, not one
INGEST_WARMUP_PASSES = 2
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s"}
INGEST_KINDS = ("merge", "range_read", "sql_point", "sql_rollup", "sql_join_topk", "sql_duckdb")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs):
    """(percentile, value): the highest whole percentile with at least
    ten samples above it (nearest rank), or (None, None) if n < 11."""
    n = len(xs)
    if n < 11:
        return None, None
    p = math.floor(100 * (1 - 10 / n))
    return p, sorted(xs)[max(0, math.ceil(p / 100 * n) - 1)]


class Run:
    """State of one benchmark run: paths, session, tracer, records."""

    def __init__(self, args):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.traced = bool(args.trace)
        self.work = os.path.join(HERE, ".work", f"{self.workload}-{self.seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.spark = None
        self.records: list[dict] = []
        self.mismatches: list[str] = []
        self.setups: list[tuple[float, float]] = []
        self.op_seq = 0
        self.steps = 0  # passes (rounds) completed in the window

    # -- environment and session -------------------------------------

    def prepare_env(self) -> None:
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        env["TMPDIR"] = os.path.join(self.work, "tmp")
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.work, "warehouse")
        env["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # every JVM, the spark-submit launcher's too, keeps its temp
        # files in the work dir and writes no /tmp/hsperfdata
        env["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
        )

    def conf(self) -> dict[str, str]:
        c = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            c["spark.eventLog.enabled"] = "true"
            c["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
            c["spark.eventLog.rolling.enabled"] = "false"
            c["spark.eventLog.compress"] = "false"
        return c

    def set_up(self) -> None:
        """Build the session and register the catalog ``N_SETUPS``
        times, timing each part. Each set-up starts a new JVM, as a
        user's first session does; all but the last are stopped."""
        from aden_hive_fork_spark import catalog
        from aden_hive_fork_spark.session import build_session

        for i in range(N_SETUPS):
            if i:
                self.shutdown()
                if self.traced:  # keep only the measured session's log
                    shutil.rmtree(os.path.join(self.work, "eventlog"))
                    os.makedirs(os.path.join(self.work, "eventlog"))
            t0 = time.perf_counter()
            self.spark = build_session(cpus=self.cpus, extra_conf=self.conf())
            t1 = time.perf_counter()
            catalog.register_views(self.spark, self.data)
            t2 = time.perf_counter()
            self.setups.append((t1 - t0, t2 - t1))
            self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def jvm_pid(self) -> int | None:
        """The JVM's pid (``spark-submit`` execs into ``java``)."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Py4JError:  # the gateway broke mid-call (SIGTERM)
                pass
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- ops -----------------------------------------------------------

    def op(self, kind: str, fn, **fields):
        """Run one closed-loop op; record its latency and Spark jobs."""
        i = self.op_seq
        self.op_seq += 1
        group = f"op{i}" if self.tracer.enabled else None
        e0, t0 = time.time(), time.perf_counter()
        with self.tracer.span(kind, op=i), job_group(self.sc, group):
            out = fn()
        t1, e1 = time.perf_counter(), time.time()
        rec = {"op": i, "kind": kind, "s": t1 - t0, "wall": (e0, e1), "traced": self.tracer.enabled}
        rec.update(fields)
        if group is not None:
            rec["jobs"] = len(group_job_ids(self.sc, group))
        self.records.append(rec)
        return out, rec

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)

    def measure(self) -> None:
        """The timed window: whole passes until ``seconds`` have
        passed and at least ``MIN_PASSES`` completed. A traced run
        alternates untraced and traced passes in one session, ending on
        a traced one, so the JIT's continuing warm-up is not counted as
        tracing overhead."""
        t0, n = time.perf_counter(), MIN_PASSES[self.workload]
        while (
            self.steps < n
            or time.perf_counter() - t0 < self.seconds
            or (self.traced and self.steps % 2)
        ):
            self.tracer.enabled = self.traced and self.steps % 2 == 1
            undo = self.install_wrappers() if self.tracer.enabled else []
            try:
                more = self.step(self.steps)
            finally:
                for u in undo:
                    u()
                self.tracer.enabled = False
            if not more:
                break
            self.steps += 1

    def install_wrappers(self) -> list:
        return []


class SuiteRun(Run):
    """``curation`` / ``relational``: passes over a fixed query list."""

    def __init__(self, args):
        super().__init__(args)
        self.names = workloads.QUERY_LISTS[self.workload]
        self.orders = workloads.pass_orders(self.seed, self.names, 100)
        self.oracle: dict[str, str] = {}

    def generate(self) -> None:
        """Write the tables and hash each query's DuckDB oracle result."""
        import duckdb

        from aden_hive_fork_spark import catalog, suite
        from aden_hive_fork_spark.canonical import result_hash

        datagen.write_tables(self.data, self.seed, SCALE)
        con = duckdb.connect()
        for t in catalog.TABLES:
            p = catalog.table_path(self.data, t)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        sqls = suite.get_oracle_sql()
        for n in self.names:
            cur = con.execute(sqls[n])
            cols = [d[0] for d in cur.description]
            self.oracle[n] = result_hash(dict(zip(cols, r)) for r in cur.fetchall())
        con.close()

    def run_query(self, name: str, pass_no: int) -> None:
        from aden_hive_fork_spark import suite
        from aden_hive_fork_spark.canonical import result_hash

        fn = suite.get_queries()[name]
        i = self.op_seq
        tr = self.tracer
        phases = {}

        def body():
            g = f"op{i}.build" if tr.enabled else None
            t0 = time.perf_counter()
            with tr.span("suite.build"), job_group(self.sc, g):
                df = fn(self.spark, self.data)
            t1 = time.perf_counter()
            g = f"op{i}.collect" if tr.enabled else None
            with tr.span("suite.collect"), job_group(self.sc, g):
                rows = df.collect()
            phases.update(build_s=t1 - t0, collect_s=time.perf_counter() - t1)
            return rows

        rows, rec = self.op("query", body, name=name, pass_no=pass_no)
        rec.update(phases, rows=len(rows))
        if tr.enabled:
            rec["build_jobs"] = len(group_job_ids(self.sc, f"op{i}.build"))
            rec["jobs"] = rec["build_jobs"] + len(group_job_ids(self.sc, f"op{i}.collect"))
        h = result_hash(r.asDict(recursive=True) for r in rows)
        self.check(h == self.oracle[name], f"{name} (pass {pass_no}): result hash != DuckDB oracle")

    def warm_up(self) -> None:
        """One untimed, cold pass; its results are checked too."""
        from aden_hive_fork_spark import suite
        from aden_hive_fork_spark.canonical import result_hash

        fns = suite.get_queries()
        t0 = time.perf_counter()
        rows = {n: fns[n](self.spark, self.data).collect() for n in self.names}
        self.cold_pass_s = time.perf_counter() - t0
        for n, rs in rows.items():
            h = result_hash(r.asDict(recursive=True) for r in rs)
            self.check(h == self.oracle[n], f"{n} (warm-up): result hash != DuckDB oracle")

    def step(self, p: int) -> bool:
        for n in self.orders[p % len(self.orders)]:
            self.run_query(n, p)
        return True

    def end_to_end(self, recs) -> dict:
        passes: dict[int, float] = {}
        by_name: dict[str, list[float]] = {}
        for r in recs:
            passes[r["pass_no"]] = passes.get(r["pass_no"], 0.0) + r["s"]
            by_name.setdefault(r["name"], []).append(r["s"])
        return {
            "pass_s": median(list(passes.values())),
            "query_geomean_s": geomean([median(v) for v in by_name.values()]),
            "n_passes": len(passes),
            "per_query_s": {k: median(v) for k, v in sorted(by_name.items())},
        }


class IngestRun(Run):
    """``ingest_mixed``: passes of merges, replays, range and SQL reads
    and refusals, each on a fresh copy of the base rollup."""

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.ev = datagen.write_tables(self.data, self.seed, SCALE, n_events=workloads.N_EVENTS)
        n_orders = max(int(1_500_000 * SCALE), 10)
        self.plan = workloads.ingest_plan(self.seed, self.ev["ts"], n_orders)
        tbl = datagen.events_table(self.ev).append_column(
            "batch", pa.array(self.plan["batch_of_event"].astype("int64"))
        )
        self.stream_path = os.path.join(self.work, "stream.parquet")
        pq.write_table(tbl, self.stream_path)
        self.row_bytes = os.path.getsize(self.stream_path) / len(tbl)
        self.first = self.plan["first_batch"]
        self.base = os.path.join(self.work, "rollup_base")
        self.sql_checks: list[tuple[str, str | None, str]] = []

    def events_upto(self, last_batch: int):
        from pyspark.sql import functions as F

        return self.stream.filter(F.col("batch") <= last_batch).drop("batch")

    def batch_df(self, b: int):
        from pyspark.sql import functions as F

        return self.stream.filter(F.col("batch") == b).drop("batch")

    def refresh_view(self, path: str) -> None:
        from aden_hive_fork_spark.operators.rollup import read_rollup

        read_rollup(self.spark, path).select(
            "hour_start", "event_type", "n_events", "sum_value"
        ).createOrReplaceTempView("rollup_hourly")

    def current_vdir(self, path: str) -> str | None:
        from aden_hive_fork_spark.operators.layout import read_pointer

        p = read_pointer(path).get("path")
        return os.path.join(path, p) if p else None

    def warm_up(self) -> None:
        """Merge every batch before ``first_batch`` into the base
        rollup as one batch, then run ``INGEST_WARMUP_PASSES`` untimed
        passes, the first one cold; their results are checked like the
        window's."""
        from aden_hive_fork_spark.engine import Engine
        from aden_hive_fork_spark.streaming.rollup_stream import merge_batch

        self.stream = self.spark.read.parquet(self.stream_path)
        merge_batch(self.events_upto(self.first - 1), self.first - 1, self.base)
        t0 = time.perf_counter()
        self.engine = Engine(self.spark)
        self.step(-1)
        self.cold_pass_s = time.perf_counter() - t0
        for p in range(2, INGEST_WARMUP_PASSES + 1):
            self.step(-p)
        self.records.clear()

    def merge_files(self, vdir: str) -> dict:
        """Files the merge wrote vs linked forward, from link counts."""
        st = {"files_written": 0, "files_linked": 0, "bytes_written": 0, "dates_rewritten": 0}
        for d in os.listdir(vdir):
            if not d.startswith("event_date="):
                continue
            wrote = False
            for f in os.listdir(os.path.join(vdir, d)):
                if f.startswith(("_", ".")):
                    continue
                s = os.stat(os.path.join(vdir, d, f))
                if s.st_nlink == 1:
                    st["files_written"] += 1
                    st["bytes_written"] += s.st_size
                    wrote = True
                else:
                    st["files_linked"] += 1
            st["dates_rewritten"] += wrote
        return st

    def step(self, p: int) -> bool:
        """Pass ``p`` (negative for the warm-up): every round of the
        plan, on a fresh copy of the base rollup."""
        from aden_hive_fork_spark.engine import SqlGuardError
        from aden_hive_fork_spark.operators.layout import read_pointer
        from aden_hive_fork_spark.operators.rollup import rollup_range_agg
        from aden_hive_fork_spark.streaming.rollup_stream import merge_batch

        self.rollup = os.path.join(self.work, f"rollup{p}")
        shutil.copytree(self.base, self.rollup)
        self.refresh_view(self.rollup)
        self.merged = self.plan["batch_of_event"] < self.first
        tr = self.tracer
        for r, ops in enumerate(self.plan["rounds"]):
            for o in ops:
                kind = o["kind"]
                if kind in ("merge", "replay"):
                    b = o["batch"]
                    df = self.batch_df(b)
                    before = read_pointer(self.rollup).get("version", -1)

                    def merge():
                        with tr.span("rollup.merge"):
                            merge_batch(df, b, self.rollup)
                        if kind == "merge":
                            self.refresh_view(self.rollup)

                    _, rec = self.op(kind, merge, pass_no=p, round=r, batch=b)
                    after = read_pointer(self.rollup).get("version", -1)
                    rec["published"] = after != before
                    if kind == "replay":
                        self.check(after == before, f"replay of batch {b} moved the pointer")
                        continue
                    self.check(after == before + 1, f"merge of batch {b} published no generation")
                    in_batch = self.plan["batch_of_event"] == b
                    self.merged |= in_batch
                    rec.update(self.merge_files(self.current_vdir(self.rollup)))
                    rec["events"] = int(in_batch.sum())
                    rec["input_bytes"] = rec["events"] * self.row_bytes
                elif kind == "range_read":
                    events = self.events_upto(self.first + r)

                    def range_read():
                        with tr.span("rollup.range_agg"):
                            return rollup_range_agg(
                                self.spark, events, self.rollup, o["lo"], o["hi"]
                            ).collect()

                    rows, _ = self.op("range_read", range_read, pass_no=p, round=r)
                    got = {x["event_type"]: (x["n_events"], x["total_value"]) for x in rows}
                    self.check(
                        got == self.expected_range(o["lo"], o["hi"]),
                        f"range_read [{o['lo']}, {o['hi']}) in round {r} != exact count/sum",
                    )
                elif kind == "sql":

                    def sql():
                        with tr.span("engine.sql"):
                            return self.engine.sql(o["sql"], dialect=o["dialect"])

                    env, rec = self.op("sql_" + o["sub"], sql, pass_no=p, round=r)
                    rec["truncated"] = bool(env.get("truncated"))
                    self.check(env["success"], f"sql_read failed: {env.get('error', '')[:200]}")
                    if env["success"]:
                        from aden_hive_fork_spark.canonical import result_hash

                        self.sql_checks.append(
                            (o["sql"], self.current_vdir(self.rollup), result_hash(env["rows"]))
                        )
                elif kind == "refuse":

                    def refuse():
                        try:
                            with tr.span("engine.sql"):
                                self.engine.sql(o["sql"])
                        except SqlGuardError:
                            return True
                        return False

                    refused, rec = self.op("refuse", refuse, pass_no=p, round=r)
                    rec["refused"] = refused
                    self.check(refused, f"write statement not refused: {o['sql']}")
        return True

    def expected_range(self, lo: str, hi: str) -> dict:
        import datetime as dt

        def us(s):
            return datagen.epoch_us(dt.datetime.fromisoformat(s))

        ts = self.ev["ts"]
        m = self.merged & (ts >= us(lo)) & (ts < us(hi))
        out = {}
        for t, name in enumerate(datagen.EVENT_TYPES):
            sel = m & (self.ev["event_type"] == t)
            if sel.any():
                cents = int(np.sum(self.ev["value_cents"][sel]))
                out[name] = (int(sel.sum()), round(cents / 100.0, 2))
        return out

    def install_wrappers(self) -> list:
        """Time Engine.df, the guard and the dialect shim from outside."""
        from aden_hive_fork_spark import engine as engine_mod
        from aden_hive_fork_spark.functions import dialect

        tr = self.tracer
        return [
            tr.wrap(self.engine, "df", "engine.df"),
            tr.wrap(engine_mod, "ensure_read_only", "guard.ensure_read_only"),
            tr.wrap(dialect, "duckdb_to_spark_sql", "dialect.duckdb_to_spark_sql"),
        ]

    def verify_final(self) -> None:
        """Rebuild the rollup from every merged event and compare; then
        check every SQL read against DuckDB on its rollup generation."""
        import duckdb

        from aden_hive_fork_spark import catalog
        from aden_hive_fork_spark.canonical import result_hash
        from aden_hive_fork_spark.operators.rollup import materialize_rollup, read_rollup

        last = max((r["batch"] for r in self.records if r["kind"] == "merge"), default=-1)
        rebuilt = os.path.join(self.work, "rebuild")
        materialize_rollup(self.events_upto(last), rebuilt)

        def table(path):
            return {
                (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
                for r in read_rollup(self.spark, path)
                .select("hour_start", "event_type", "n_events", "sum_value")
                .collect()
            }

        self.check(table(self.rollup) == table(rebuilt), "final rollup != materialize_rollup rebuild")
        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{catalog.table_path(self.data, t)}')"
            )
        for sql, vdir, h in self.sql_checks:
            if vdir:
                con.execute(
                    "CREATE OR REPLACE VIEW rollup_hourly AS SELECT hour_start, event_type,"
                    f" n_events, sum_value FROM read_parquet('{vdir}/*/*.parquet')"
                )
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            ok = result_hash(dict(zip(cols, r)) for r in cur.fetchall()) == h
            self.check(ok, f"sql_read != DuckDB: {sql}")
        con.close()

    def end_to_end(self, recs) -> dict:
        passes: dict[int, float] = {}
        by_kind: dict[str, list[float]] = {}
        for r in recs:
            passes[r["pass_no"]] = passes.get(r["pass_no"], 0.0) + r["s"]
            by_kind.setdefault(r["kind"], []).append(r["s"])
        merges = by_kind.get("merge", [])
        reads = [r["s"] for r in recs if r["kind"] == "range_read" or r["kind"].startswith("sql_")]
        mp, mt = tail(merges)
        rp, rt = tail(reads)
        events = sum(r["events"] for r in recs if r["kind"] == "merge")
        return {
            "pass_s": median(list(passes.values())),
            "query_geomean_s": geomean([median(by_kind[k]) for k in INGEST_KINDS if k in by_kind]),
            "n_passes": len(passes),
            "merge_p50_s": median(merges),
            "merge_tail_s": {"p": mp, "n": len(merges), "value": mt},
            "read_p50_ms": 1000 * median(reads),
            "read_tail_ms": {"p": rp, "n": len(reads), "value": None if rt is None else 1000 * rt},
            "events_per_s": events / sum(r["s"] for r in recs) if recs else 0.0,
            "per_kind_s": {k: median(v) for k, v in sorted(by_kind.items())},
        }


# -- per-layer metrics -----------------------------------------------------

PER_LAYER = (
    "session.build_s", "session.jvm_hwm_mb", "catalog.register_s",
    "suite.build_s", "suite.build_jobs", "suite.collect_s", "suite.result_rows",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.busy_ratio",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.failed_tasks", "spark.python_worker_mb",
    "engine.sql_s", "engine.plan_s", "engine.guard_us", "engine.dialect_us",
    "engine.refused", "engine.truncated",
    "rollup.merge_jobs", "rollup.dates_rewritten", "rollup.files_written",
    "rollup.files_linked", "rollup.bytes_written_mb", "rollup.write_amp",
    "rollup.space_mb", "rollup.useful_merge_ratio", "rollup.replay_skip_ms",
    "process.cold_pass_s", "process.peak_rss_mb", "trace.overhead_pct", "trace.spans",
)  # fmt: skip
UNITS = {"_s": "s", "_ms": "ms", "_us": "us", "_mb": "MB", "_pct": "%", "ratio": "ratio", "_amp": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def space_mb(path: str) -> float:
    seen, total = set(), 0
    for d, _, files in os.walk(path):
        for f in files:
            s = os.stat(os.path.join(d, f))
            if (s.st_dev, s.st_ino) not in seen:
                seen.add((s.st_dev, s.st_ino))
                total += s.st_size
    return total / 1e6


def per_layer(run: Run) -> dict:
    """Per-layer metrics of the traced passes: per pass unless the name
    says otherwise."""
    traced = [r for r in run.records if r["traced"]]
    untraced = [r for r in run.records if not r["traced"]]
    units = len({r["pass_no"] for r in traced}) or 1
    groups = parse_event_log(os.path.join(run.work, "eventlog"))
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.build_s"] = median([b for b, _ in run.setups])
    m["catalog.register_s"] = median([c for _, c in run.setups])
    m["session.jvm_hwm_mb"] = run.jvm_hwm
    m["process.cold_pass_s"] = run.cold_pass_s
    m["process.peak_rss_mb"] = run.peak_rss
    spark_tot: dict[str, float] = {}
    wall = 0.0
    for r in traced:
        gs = [g for g in groups if g == f"op{r['op']}" or g.startswith(f"op{r['op']}.")]
        ivs = [iv for g in gs for iv in groups[g]["intervals"]]
        spark_tot["driver_only_s"] = spark_tot.get("driver_only_s", 0.0) + driver_only_s(r["wall"], ivs)
        wall += r["s"]
        for g in gs:
            for k, v in groups[g].items():
                if k != "intervals":
                    spark_tot[k] = spark_tot.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "driver_only_s", "task_run_s", "task_cpu_s", "gc_s"):
        m[f"spark.{k}"] = spark_tot.get(k, 0.0) / units
    for k in ("shuffle_read", "shuffle_write", "spill", "python_worker"):
        m[f"spark.{k}_mb"] = spark_tot.get(f"{k}_b", 0.0) / 1e6 / units
    m["spark.failed_tasks"] = spark_tot.get("failed_tasks", 0.0)
    m["spark.busy_ratio"] = spark_tot.get("task_run_s", 0.0) / (wall * run.cpus) if wall else 0.0
    q = [r for r in traced if r["kind"] == "query"]
    if q:
        m["suite.build_s"] = sum(r["build_s"] for r in q) / units
        m["suite.build_jobs"] = sum(r["build_jobs"] for r in q) / units
        m["suite.collect_s"] = sum(r["collect_s"] for r in q) / units
        m["suite.result_rows"] = sum(r["rows"] for r in q) / units
    tr = run.tracer
    sql_ok = [r for r in traced if r["kind"].startswith("sql_")]
    if sql_ok:
        m["engine.sql_s"] = median([r["s"] for r in sql_ok])
        m["engine.plan_s"] = median(tr.durations("engine.df"))
        m["engine.guard_us"] = 1e6 * median(tr.durations("guard.ensure_read_only"))
        m["engine.dialect_us"] = 1e6 * median(tr.durations("dialect.duckdb_to_spark_sql"))
        m["engine.truncated"] = sum(r["truncated"] for r in sql_ok) / units
        m["engine.refused"] = sum(r["refused"] for r in traced if r["kind"] == "refuse") / units
    merges = [r for r in traced if r["kind"] == "merge"]
    if merges:
        replays = [r for r in traced if r["kind"] == "replay"]
        calls = merges + replays
        for k in ("dates_rewritten", "files_written", "files_linked"):
            m[f"rollup.{k}"] = median([r[k] for r in merges])
        m["rollup.merge_jobs"] = median([r["jobs"] for r in merges])
        written = sum(r["bytes_written"] for r in merges)
        m["rollup.bytes_written_mb"] = written / 1e6 / len(merges)
        m["rollup.write_amp"] = written / sum(r["input_bytes"] for r in merges)
        m["rollup.space_mb"] = space_mb(run.rollup)
        m["rollup.useful_merge_ratio"] = sum(r["published"] for r in calls) / len(calls)
        m["rollup.replay_skip_ms"] = 1000 * median([r["s"] for r in replays])
    ratios = []
    for key in {(r["kind"], r.get("name")) for r in traced}:
        a = [r["s"] for r in traced if (r["kind"], r.get("name")) == key]
        b = [r["s"] for r in untraced if (r["kind"], r.get("name")) == key]
        if a and b and key[0] not in ("replay", "refuse"):
            ratios.append(median(a) / median(b))
    m["trace.overhead_pct"] = 100 * (geomean(ratios) - 1) if ratios else 0.0
    m["trace.spans"] = len(tr.spans)
    return m


def write_detail(run: Run, payload: dict) -> str:
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run.workload}-seed{run.seed}-trace{int(run.traced)}.json")
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import aden_hive_fork_spark
    except ImportError as exc:
        print(f"cannot import the engine package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(aden_hive_fork_spark.__file__))) != ROOT:
        print(f"the engine package is not the one in {ROOT}", file=sys.stderr)
        return 2
    run = (IngestRun if args.workload == "ingest_mixed" else SuiteRun)(args)
    run.prepare_env()
    phases: dict[str, float] = {}  # wall seconds of each part of the run

    def phase(name, fn):
        t0 = time.perf_counter()
        fn()
        phases[name] = time.perf_counter() - t0

    try:
        phase("generate", run.generate)
        phase("set_up", run.set_up)
        phase("warm_up", run.warm_up)
        phase("measure", run.measure)
        run.jvm_hwm = vm_hwm_mb(run.jvm_pid())
        run.peak_rss = vm_hwm_mb() + run.jvm_hwm
        if isinstance(run, IngestRun):
            phase("verify", run.verify_final)
        phase("shutdown", run.shutdown)
        layer = per_layer(run) if run.traced else None  # the event log is complete now
    finally:
        try:
            run.shutdown()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
    self_times = run.tracer.self_times()
    e2e = run.end_to_end([r for r in run.records if not r["traced"]])
    e2e.update(
        setup_s=median([b + c for b, c in run.setups]),
        cold_pass_s=run.cold_pass_s,
        peak_rss_mb=run.peak_rss,
    )
    attempted = len(run.records)
    failed = len(run.mismatches)
    detail = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds, "cpus": run.cpus,
        "scale": SCALE, "phases_s": phases, "setups": run.setups, "end_to_end": e2e,
        "error_rate": failed / attempted, "mismatches": run.mismatches, "per_layer": layer,
        "self_time_s": self_times, "ops": run.records, "spans": run.tracer.spans,
    }  # fmt: skip
    if isinstance(run, IngestRun):
        detail["plan"] = {
            k: run.plan[k] for k in ("mean_batch", "late_share", "first_batch", "rounds")
        }
    path = write_detail(run, detail)

    print(f"# {run.workload} seed={run.seed} cpus={run.cpus} detail={path}")
    print(f"#   phases_s: {json.dumps({k: round(v, 3) for k, v in phases.items()})}")
    for k, v in e2e.items():
        print(f"#   {k}: {json.dumps(v)}")
    print(f"#   error_rate: {failed / attempted:.4f} ({failed}/{attempted} ops failed)")
    for msg in run.mismatches[:20]:
        print(f"# MISMATCH {msg}")
    if layer is not None:
        for k, v in sorted(self_times.items()):
            print(f"#   self_s {k}: {v:.4f}")
        metrics = {k: {"value": layer[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    out = {"correct": not run.mismatches, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(out))
    return 0 if not run.mismatches else 1


if __name__ == "__main__":
    sys.exit(main())
