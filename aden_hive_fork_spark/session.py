"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-parity with the DuckDB oracle
(UTC session timezone, ANSI mode) and for scale-out behavior that
survives a 1000-executor cluster (AQE on, skew-join handling on,
partition coalescing on). On a real cluster the same builder is used
with ``master`` unset so spark-submit / the cluster manager decides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def build_session(
    app_name: str = "aden-hive-fork-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Scale notes (100 TB design):
    - AQE is the primary runtime optimizer: it coalesces post-shuffle
      partitions, converts sort-merge joins to broadcast when the
      runtime size fits, and splits skewed partitions.
    - ``spark.sql.shuffle.partitions`` is only the *initial* number;
      AQE coalescing makes over-provisioning safe, so on a cluster set
      it to ~2-3x total cores and let AQE shrink it.
    - Arrow is enabled for the pandas bridges (Excel source, Pandas
      UDFs) so Python round-trips are columnar, not pickled rows.
    """
    cpus = cpus or _default_cpus()
    if shuffle_partitions is None:
        # AQE coalesces post-shuffle partitions, so the initial count
        # mainly costs task-dispatch overhead at small scale — cap at
        # 32 locally (measured ~10% on join-heavy queries vs 64); on a
        # cluster override via SPARK_GRAFT_SHUFFLE to 2-3x total cores.
        shuffle_partitions = max(int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0") or 0), 0) or min(
            2 * cpus, 32
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate adds a `size(arr) > 0 AND
        # isnotnull(arr)` filter under every explode/inline; filter
        # pushdown then inlines the ARRAY EXPRESSION into that filter
        # TWICE and pushes it below the widening exchange — so every
        # heavy text/shingle/gram HOF array in this engine was being
        # evaluated 2x per row on the narrow pre-shuffle side (and a
        # 3rd time post-shuffle for the Generate itself). Measured
        # same-session A/B at sf0.1: q41 4.8 s -> 1.3 s, q232
        # 4.4 s -> 1.6 s, q336 ~-25%; no query measurably slower
        # (plan dumps in plans/r13/). The rule's win (skipping
        # empty-array rows before the shuffle) needs mostly-empty
        # arrays AND a cheap filter — this corpus engine has neither:
        # text-derived arrays are almost never empty and the inlined
        # expressions are the most expensive map work in the plan.
        # NOT a local[32] artifact — duplicating the heaviest
        # projection below the exchange costs the same 2x CPU on any
        # cluster.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # Spark caches the classes it generates and compiles with
        # Janino (about 4.5 ms each), but by default only 100 of them,
        # fewer than any warm working set here, so every warm pass
        # recompiled the same classes. Measured with perfbench on 4
        # cores: a cold pass generates about 485 distinct classes on
        # `curation`, 205 on `relational` and 140 on `ingest_mixed`,
        # and under the default bound each warm pass recompiled
        # 520-550, 150-200 and 90-120 of them. The 103 bench.py
        # headliners generate 2,001 distinct classes in one session at
        # sf0.01; 4096 holds all of them with room for other queries.
        # The bound is a static conf, read once per JVM, so it is a
        # constant here, not an option: an unused entry costs nothing,
        # and a full cache only evicts. 0 would disable the cache, and
        # no bound would let a long-lived session of ad-hoc SQL grow
        # metaspace without limit.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
