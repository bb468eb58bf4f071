"""Catalog introspection (reference R1/R2).

Reference: ``SHOW TABLES`` capped at 1000 rows
(`backend/main.py:102-103`) and ``EXISTS TABLE`` + ``DESCRIBE TABLE``
returning per-column name/type/default/comment (`backend/main.py:134-147`).

Spark-first: the session catalog answers both without a server round
trip. For path-based (non-registered) tables we describe the Parquet
footer schema — still metadata-only, no data scan.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAX_LIST_TABLES = 1000  # reference main.py:102 max_result_rows


class TableNotFoundError(KeyError):
    """Maps to the reference's 404 on a missing table (main.py:136-139)."""


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    tables = spark.catalog.listTables(db) if db else spark.catalog.listTables()
    return [t.name for t in tables][:MAX_LIST_TABLES]


def table_exists(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def clear_orphaned_location(spark: SparkSession, name: str) -> None:
    """Remove ``<warehouse>/<name>`` when the catalog has no table
    ``name``. The in-memory catalog dies with its session but the
    warehouse directory survives it, so a reused warehouse left by an
    earlier process makes ``saveAsTable`` raise LOCATION_ALREADY_EXISTS
    (``DROP TABLE IF EXISTS`` cannot remove a location the catalog does
    not know). With a real metastore the table would still be listed and
    this is a no-op."""
    if table_exists(spark, name):
        return
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, name.lower()), ignore_errors=True)


def describe_table(spark: SparkSession, name: str) -> list[dict[str, str]]:
    """DESCRIBE TABLE → [{name, type, default, comment}] (main.py:141-147)."""
    if not table_exists(spark, name):
        raise TableNotFoundError(f"Table '{name}' not found")
    return schema_to_columns(spark.table(name).schema)


def schema_to_columns(schema: T.StructType) -> list[dict[str, str]]:
    return [
        {
            "name": f.name,
            "type": f.dataType.simpleString(),
            "default": "",
            "comment": str(f.metadata.get("comment", "")) if f.metadata else "",
        }
        for f in schema.fields
    ]


def columns_df(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Schema of ``df`` as a (name, type) DataFrame — the engine-level
    DESCRIBE result used by the ``catalog_list_columns`` query."""
    rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    return spark.createDataFrame(rows, "col_name string, data_type string")
