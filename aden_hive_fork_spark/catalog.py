"""Catalog: register parquet tables as temp views and describe them.

Mirrors the reference's catalog surface — ``pg_list_schemas`` /
``pg_list_tables`` / ``pg_describe_table``
(reference: tools/src/aden_tools/tools/postgres_tool/postgres_tool.py:358-475),
``excel_sheet_list`` (excel_tool.py:420-471), ``csv_info``
(csv_tool.py:215-271) — on top of ``spark.catalog``.

Timestamp note (driver testdata): most tables carry parquet
TIMESTAMP(MILLIS, ntz) columns which Spark reads natively as
``timestamp_ntz``; ``events.ts`` is TIMESTAMP(NANOS, ntz), which Spark
only reads with ``spark.sql.legacy.parquet.nanosAsLong=true`` (as a
BIGINT of epoch-nanos). ``load_table`` converts that column to
``timestamp_ntz`` by truncating to microseconds — exactly what DuckDB
does when it narrows ns→µs — using pure NTZ arithmetic so the result
is independent of the session timezone.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver's deterministic testdata tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)

# applicationId -> {(path, footer schema, inference confs): the schema
# Spark inferred for that single-file table}. Spark infers a parquet
# schema with a job (55-82 ms per call on a 4-core box, against 9-22 ms
# with the schema supplied), and every suite query reloads its tables. Nothing here
# depends on the data: every read still lists and scans its file, a
# rewritten footer or a new SparkContext misses, and only the live
# SparkContext's entry is kept.
_inferred_schemas: dict[str, dict[tuple, StructType]] = {}
_inferred_lock = threading.Lock()


def _nano_cols(schema) -> tuple[str, ...]:
    """Columns of an Arrow schema stored as TIMESTAMP(NANOS, ntz)."""
    import pyarrow.types as pt

    return tuple(
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit == "ns" and f.type.tz is None
    )


def _nano_ts_cols(path: str) -> tuple[str, ...]:
    """Columns stored as TIMESTAMP(NANOS, ntz) per the parquet footer.

    Driver-side metadata-only read (pyarrow); for a directory-backed
    table the first fragment's schema is authoritative (all fragments
    share the writer schema in our sinks)."""
    try:
        import pyarrow.dataset as ds

        return _nano_cols(ds.dataset(path, format="parquet").schema)
    except Exception:
        return ()


def _read_footer(path: str) -> tuple[tuple[str, ...], tuple] | None:
    """``(nano columns, footer key)`` of a single-file table from one
    metadata-only pyarrow read, or None for a directory or a file
    pyarrow cannot read (those take Spark's inference path).

    The key is the full parquet schema (physical and logical types,
    which is what Spark infers from) plus the key-value metadata, where
    Spark-written files keep their Spark schema."""
    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        return None
    try:
        md = pq.read_metadata(path)
    except (OSError, ValueError):  # unreadable, or not parquet
        return None
    # str() of a ParquetSchema is an object-address line, then the schema
    schema_text = str(md.schema).partition("\n")[2]
    key = (schema_text, tuple(sorted((md.metadata or {}).items())))
    return _nano_cols(md.schema.to_arrow_schema()), key


def _read_parquet(spark: SparkSession, path: str, footer_key: tuple | None) -> DataFrame:
    """``spark.read.parquet(path)``, supplying the schema Spark already
    inferred for this footer under the current confs in the live
    SparkContext; without a footer key (directory) it always infers."""
    if footer_key is None:
        return spark.read.parquet(path)
    app = spark.sparkContext.applicationId
    key = (path, footer_key, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    schema = _inferred_schemas.get(app, {}).get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _inferred_lock:
        if app not in _inferred_schemas:  # a new SparkContext
            _inferred_schemas.clear()
        _inferred_schemas.setdefault(app, {})[key] = df.schema
    return df


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


class _scoped_conf:
    """Set a session conf for the duration of a ``with`` block, then
    restore the previous value (or unset). Parquet reads capture their
    requested schema eagerly at ``spark.read`` time, so scoping the
    legacy nanos flag around the read is safe for later lazy execution
    (verified empirically: the scan honors the captured schema after
    the conf is restored) — and OTHER parquet reads through the same
    session no longer silently inherit nanos-as-BIGINT."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.key)
        except Exception:
            self.prev = None
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)


def _ns_long_to_ntz(col: str) -> F.Column:
    """epoch-nanos BIGINT -> timestamp_ntz, truncating to microseconds.

    ``timestampadd`` on an NTZ base is timezone-independent, so the
    same instant is produced no matter what the (driver's) session
    timezone is set to.
    """
    return F.expr(f"timestampadd(MICROSECOND, CAST(`{col}` div 1000 AS BIGINT), {_EPOCH_NTZ})")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with engine-canonical column types.

    Stays declarative: column pruning + filter pushdown reach the
    parquet scan for every natively-typed column. For the ns-encoded
    ``events.ts`` the conversion is a projection over the pushdown-
    friendly raw long (see ``load_events_raw`` for range-scan paths).

    The footer is read once per call (pyarrow, metadata only); it
    decides which columns are nanosecond timestamps and keys the
    schema memo (``_read_parquet``) of a single-file table.
    """
    path = table_path(sf_dir, name)
    footer = _read_footer(path)
    ns_cols, footer_key = footer if footer else (_nano_ts_cols(path), None)
    if ns_cols:
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = _read_parquet(spark, path, footer_key)
    else:
        df = _read_parquet(spark, path, footer_key)
    for c in ns_cols:
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, _ns_long_to_ntz(c))
    return df


def ts_micros_sql(dtype_simple: str, col: str = "ts") -> str:
    """SQL expression producing BIGINT epoch-micros from a ``ts``
    column of ANY physical encoding the driver has shipped so far:

    - ``bigint``        — epoch-nanos long (legacy ``nanosAsLong`` read
      of parquet TIMESTAMP(NANOS)); truncate ns -> us like DuckDB.
    - ``timestamp_ntz`` — native parquet TIMESTAMP(MICROS/MILLIS, ntz);
      NTZ wall-clock treated as UTC. ``timestampdiff`` on two NTZ
      values is pure value arithmetic: timezone-independent.
    - ``timestamp``     — LTZ instant; ``unix_micros`` is absolute.

    Every branch is timezone-independent, so results do not shift with
    the (driver's) session timezone.
    """
    if dtype_simple == "bigint":
        return f"CAST(`{col}` div 1000 AS BIGINT)"
    if dtype_simple == "timestamp_ntz":
        return f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, `{col}`)"
    if dtype_simple == "timestamp":
        return f"unix_micros(`{col}`)"
    raise TypeError(f"unsupported events ts dtype: {dtype_simple!r}")


def adaptive_ts_exprs(schema, col: str = "ts") -> tuple[F.Column, F.Column]:
    """(ts_ntz, ts_wm) Column pair for an events ``ts`` of any
    physical encoding (see ``ts_micros_sql``).

    ``ts_ntz`` is ``timestamp_ntz`` for timezone-proof value
    arithmetic (grouping, oracle comparison); ``ts_wm`` is an absolute
    LTZ instant for ``withWatermark`` (which rejects NTZ). Both are
    derived from the same epoch-micros subexpression.
    """
    us = ts_micros_sql(schema[col].dataType.simpleString(), col)
    ts_ntz = F.expr(f"timestampadd(MICROSECOND, {us}, {_EPOCH_NTZ})")
    ts_wm = F.expr(f"timestamp_micros({us})")
    return ts_ntz, ts_wm


def open_events_stream(spark: SparkSession, sf_dir: str):
    """``readStream`` over ``events.parquet`` with type-adaptive ts
    handling. Returns ``(stream_df, ts_ntz, ts_wm)``.

    The nanos legacy flag is applied ONLY when the footer says the file
    is nano-encoded (it is a no-op otherwise, but scoping keeps other
    reads from inheriting it). Schema capture happens eagerly at
    ``spark.read`` time, so the scoped conf is safe for the later lazy
    stream execution (same verified mechanism as ``load_table``).
    """
    import contextlib

    path = table_path(sf_dir, "events")
    ctx = (
        _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        if _nano_ts_cols(path)
        else contextlib.nullcontext()
    )
    with ctx:
        batch_schema = spark.read.parquet(path).schema
        stream = (
            spark.readStream.schema(batch_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_ntz, ts_wm = adaptive_ts_exprs(batch_schema, "ts")
    return stream, ts_ntz, ts_wm


def load_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a raw pushdown-friendly ``ts_ns`` BIGINT epoch-nanos
    column alongside whatever the file natively stores.

    Scale path: for a nano-encoded file the raw long IS the stored
    column, so a predicate on it is pushed to the parquet scan
    (row-group pruning on a 100 TB event log). For a natively-typed
    file (timestamp us/ms) the native ``ts`` is KEPT alongside the
    derived ``ts_ns`` — Spark pushes timestamp range predicates on
    ``ts`` to the scan directly, so filter on ``ts`` there (a
    predicate on the computed ``ts_ns`` is post-scan); ``ts_ns``
    keeps one arithmetic contract across encodings.
    """
    path = table_path(sf_dir, "events")
    if _nano_ts_cols(path):
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = spark.read.parquet(path)
        return df.withColumnRenamed("ts", "ts_ns")
    df = spark.read.parquet(path)
    us = ts_micros_sql(df.schema["ts"].dataType.simpleString(), "ts")
    return df.withColumn("ts_ns", F.expr(f"({us}) * CAST(1000 AS BIGINT)"))


def ns_literal(iso_ts: str) -> int:
    """ISO timestamp string -> epoch-nanos int for raw-long pushdown filters."""
    import datetime as _dt

    dt = _dt.datetime.fromisoformat(iso_ts)
    return int(dt.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000) * 1_000


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> list[str]:
    """Register every available table in ``sf_dir`` as a temp view.

    Views are lazy and scan no table data, but registration is not
    free: each table's schema comes from its parquet footer, and the
    first ``load_table`` of a table in a SparkContext launches a Spark
    job to infer it (55-82 ms). Later registrations of an unchanged
    single-file table reuse that schema and launch no job; a
    directory-backed table is inferred, with a job, every time.
    """
    registered = []
    for name in tables:
        if os.path.exists(table_path(sf_dir, name)):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            registered.append(name)
    return registered


def list_tables(spark: SparkSession) -> list[str]:
    """Analog of pg_list_tables / excel_sheet_list."""
    return sorted(t.name for t in spark.catalog.listTables())


def describe_table(spark: SparkSession, name: str, with_count: bool = True) -> dict:
    """Analog of pg_describe_table / csv_info / excel_info: columns,
    types, nullability, optional row count
    (reference: csv_tool.py:215-271, postgres_tool.py:427-475)."""
    df = spark.table(name)
    info: dict = {
        "success": True,
        "table": name,
        "columns": [
            {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in df.schema.fields
        ],
    }
    if with_count:
        info["row_count"] = df.count()
    return info
