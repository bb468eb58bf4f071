"""Parquet scan helpers (the engine's native storage format).

The reference stores tables in ClickHouse MergeTree with no sort key
(`backend/main.py:266-267`, ``ORDER BY tuple()``); our equivalent is
plain Parquet directories/files. Reads stay fully declarative so
Catalyst keeps column pruning + predicate pushdown into the scan.

:func:`read_table` is the engine's single table resolver. A plain
``spark.read.parquet`` infers the schema from the footer on every call,
and that inference is a Spark job run while the query is being built.
The resolver infers each table's schema once per file version and then
reads with ``spark.read.schema(cached).parquet(path)``, which launches
no job and yields the same schema and optimized plan. This is the
metastore's job in a real deployment (ClickHouse answers ``DESCRIBE``
from its own catalog, `backend/main.py:134-147`). The cache holds
``StructType`` metadata only, never data, in a bounded LRU of
:data:`SCHEMA_CACHE_SIZE` entries. An entry is keyed on:

- the resolved (symlink-free) path;
- the file's ``(st_mtime_ns, st_size)``, or for a directory table the
  sorted ``(relative name, size, mtime_ns)`` of every file under it, so
  a rewrite, an added part file or a removed one is a new version;
- the value of every SQL conf that schema inference reads
  (:data:`SCHEMA_CONFS`), so flipping one re-infers.

The cache is process-wide: a schema depends on the file version and the
conf values in its key, not on the session that read it.

Reads that bypass the cache, and why:

- tables the engine writes itself (ingest/warehouse/txnlog data,
  compaction outputs, the stream scratch in ``queries/streaming.py``,
  ``queries/sources_sinks.py`` and ``queries/temporal.py``) keep plain
  ``spark.read.parquet``: their files change with every write and are
  read back right after it, so an entry would seldom be hit;
- URIs (``hdfs://``, ``s3a://`` ...) cannot be versioned with
  ``os.stat`` and are read plainly; a metastore owns that job there.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TPCH_TABLES = (
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


# Tables a process resolves: the ten registry tables per scale factor,
# times the few schema-conf combinations in use, fit many times over.
SCHEMA_CACHE_SIZE = 256

# SQL confs that change what parquet schema inference returns.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

_schemas: OrderedDict[tuple, T.StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _file_version(path: str) -> tuple | None:
    """What changes when the table at ``path`` is rewritten, or None when
    it cannot be stat'ed locally."""
    if "://" in path:
        return None
    local = os.path.realpath(path)
    try:
        if not os.path.isdir(local):
            st = os.stat(local)
            return (local, st.st_mtime_ns, st.st_size)
        leaves = []
        for root, _dirs, files in os.walk(local):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                leaves.append((os.path.relpath(fp, local), st.st_size, st.st_mtime_ns))
    except OSError:  # missing, or a file vanished mid-walk (write in progress)
        return None
    return (local, tuple(sorted(leaves)))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one named table from a scale-factor directory, with its
    footer schema inferred once per file version and schema-conf state
    (see module doc)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    version = _file_version(path)
    if version is None:
        return spark.read.parquet(path)
    key = (version, tuple(spark.conf.get(c, None) for c in SCHEMA_CONFS))
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        while len(_schemas) > SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(read_table(spark, sf_dir, n) for n in names)


def enable_nanos_as_long(spark: SparkSession) -> None:
    """The ``events`` table carries TIMESTAMP(NANOS) parquet, which
    Spark's TimestampType (microseconds) refuses outright. With this
    legacy conf the column surfaces as nanosecond longs instead."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def nanos_to_timestamp(col: str):
    """Exact ns→µs conversion via integer division (no double rounding)."""
    from pyspark.sql import functions as F

    return F.timestamp_micros(F.expr(f"CAST({col} DIV 1000 AS LONG)"))


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType regardless of how
    this Spark version surfaced the TIMESTAMP(NANOS) parquet source:
    ns-bigint (<=4.0 with ``nanosAsLong``) → exact ns→µs integer
    division; TIMESTAMP_NTZ (>=4.1 native) → cast, a pure
    reinterpretation under the pinned UTC session timezone. Works on
    batch and streaming DataFrames alike.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, nanos_to_timestamp(col))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``ts`` normalized to a timestamp (µs, truncated
    from ns exactly as DuckDB truncates).

    Spark-version adaptive: Spark <=4.0 refuses TIMESTAMP(NANOS) parquet
    unless ``nanosAsLong`` surfaces it as a bigint we convert ourselves;
    Spark >=4.1 reads it natively as TIMESTAMP_NTZ with the same µs
    truncation DuckDB applies (verified value-identical). The NTZ column
    is cast to TimestampType — a pure reinterpretation under the pinned
    UTC session timezone (session.py:44) — so downstream instant
    functions (``unix_micros`` etc.) keep working unchanged.
    """
    enable_nanos_as_long(spark)
    return normalize_ts(read_table(spark, sf_dir, "events"))
