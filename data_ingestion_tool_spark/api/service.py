"""Engine-level service mirroring the reference's five HTTP endpoints.

Each function returns the same JSON-shaped dict the corresponding
reference endpoint returns, so a FastAPI wrapper (``api.app``) is a
one-line delegation per route and a reference user sees identical
response bodies:

- :func:`connect` ↔ ``POST /connect-clickhouse``
  (`/root/reference/backend/main.py:88-118`)
- :func:`get_columns` ↔ ``POST /get-columns`` (main.py:120-161)
- :func:`export_flatfile` ↔ ``POST /clickhouse-to-flatfile``
  (main.py:163-208)
- :func:`import_flatfile` ↔ ``POST /flatfile-to-clickhouse``
  (main.py:210-302)
- :func:`health` ↔ ``GET /health`` (main.py:304-334)

Error mapping keeps the reference's status codes via
:class:`ApiError(status_code, detail)` — 400 invalid input, 404 missing
table, 500 export/import failure, 503 unhealthy.

Spark-first differences (deliberate, documented):
- "connection" is the shared SparkSession + its catalog; the pool keyed
  by host:port:db:user (main.py:64-87) collapses into
  ``SparkSession.getOrCreate`` semantics. The connection model and its
  host-regex validation are kept for API-compatible 400s.
- the export query is built as a DataFrame plan (comma-join + WHERE →
  ``crossJoin`` + ``filter``), so Catalyst recovers equi-joins and
  pushes predicates/projections into the scan instead of shipping an
  opaque SQL string to a server.
- ingest lands in the session catalog as a Parquet-backed table with the
  reference's first-writer-defines-schema, append-wins policy
  (``CREATE TABLE IF NOT EXISTS`` + insert, main.py:263-286). The 10k
  driver-side batch loop becomes per-partition task writes.
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession

from ..catalog import TableNotFoundError, describe_table, list_tables
from ..sources.csv_io import export_csv_rows, read_csv_compat
from .connector import route
from .models import ColumnSelection, ConnectionInfo, build_export_dataframe


class ApiError(Exception):
    """Carries the HTTP status the reference maps each failure to."""

    def __init__(self, status_code: int, detail: str) -> None:
        super().__init__(detail)
        self.status_code = status_code
        self.detail = detail


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def connect(spark: SparkSession, conn: ConnectionInfo) -> dict[str, Any]:
    """List tables + connection echo (main.py:96-111). The SHOW TABLES
    probe is capped at 1000 names like the reference's
    ``max_result_rows`` setting (main.py:102). When external routing is
    enabled (connector.route), the listing comes from the real server
    ``conn`` names; otherwise from the session catalog."""
    try:
        be = route(conn)
        names = be.list_tables() if be is not None else list_tables(spark)
    except Exception as e:  # noqa: BLE001 — mirror blanket 400 (main.py:112-118)
        raise ApiError(400, f"Connection failed: {e}") from e
    return {
        "status": "success",
        "tables": names,
        "connection": f"{conn.host}:{conn.port}",
        "timestamp": _now(),
    }


def get_columns(spark: SparkSession, conn: ConnectionInfo, table: str) -> dict[str, Any]:
    """EXISTS guard + DESCRIBE (main.py:128-153): 404 when absent, else
    per-column name/type/default/comment — from the routed server when
    external routing is enabled, else from the session catalog."""
    try:
        be = route(conn)
        if be is None:
            cols = describe_table(spark, table)
        elif be.table_exists(table):
            cols = be.columns(table)
        else:
            raise TableNotFoundError(table)
    except TableNotFoundError:
        raise ApiError(404, f"Table {table} does not exist") from None
    except Exception as e:  # noqa: BLE001
        raise ApiError(400, f"Failed to get columns: {e}") from e
    return {"status": "success", "columns": cols, "count": len(cols)}


def export_flatfile(
    spark: SparkSession, conn: ConnectionInfo, selection: ColumnSelection
) -> dict[str, Any]:
    """Query → inline CSV (main.py:163-208): zero-row short-circuit
    without materializing (main.py:185-191), else CSV string with header
    = exactly the selected columns (BOM-less, matching the reference's
    actual response body — see csv_io.export_csv_rows).

    The ``query`` echo field reproduces the SQL text the reference
    would have generated (main.py:176-180) — the actual execution is
    the Catalyst-planned DataFrame, not this string.
    """
    query = f"SELECT {', '.join(selection.columns)} FROM {selection.table}"
    if selection.join_tables and selection.join_condition:
        tables_str = ", ".join([selection.table, *selection.join_tables])
        query = (
            f"SELECT {', '.join(selection.columns)} FROM {tables_str} "
            f"WHERE {selection.join_condition}"
        )
    be = route(conn)
    if be is not None:
        # routed export (main.py:184-201): the SQL string runs on the
        # real server; rows → CSV exactly like the reference (pandas
        # to_csv to a string — its utf-8-sig arg is dead there, see
        # csv_io.export_csv_rows)
        try:
            rows = be.query_rows(query)
            if not rows:
                return {"status": "success", "data": "", "count": 0,
                        "message": "No data found"}
            import pandas as pd

            csv_data = pd.DataFrame(
                rows, columns=selection.columns
            ).to_csv(index=False)
            return {
                "status": "success",
                "data": csv_data,
                "count": len(rows),
                "query": query,
                "exported_at": _now(),
            }
        except Exception as e:  # noqa: BLE001 — reference maps all to 500
            raise ApiError(500, f"Export failed: {e}") from e
    try:
        df = build_export_dataframe(spark, selection)
        if df.isEmpty():
            return {"status": "success", "data": "", "count": 0,
                    "message": "No data found"}
        # row count from the collected frame, like the reference's
        # len(result_rows) — counting '\n' in the CSV overcounts when
        # field values carry quoted embedded newlines
        csv_data, count = export_csv_rows(df)
        return {
            "status": "success",
            "data": csv_data,
            "count": count,
            "query": query,
            "exported_at": _now(),
        }
    except ApiError:
        raise
    except Exception as e:  # noqa: BLE001 — reference maps all to 500
        raise ApiError(500, f"Export failed: {e}") from e


def import_flatfile(
    spark: SparkSession,
    conn: ConnectionInfo,
    filename: str,
    contents: bytes,
    table: str = "imported_data",
    delimiter: str = ",",
) -> dict[str, Any]:
    """CSV upload → catalog table (main.py:210-302).

    Keeps every reference semantic: .csv/.txt extension gate (400),
    empty-file 400, all-string compat parse (``dtype=str,
    na_filter=False`` ≡ ``read_csv_compat``), first-writer-defines-schema
    append policy, and the ``{count, columns, table}`` response. The
    upload is spooled to a temp file so executors parse the CSV splits —
    at API scale the contents arrive in memory anyway, but the parse and
    write stay distributed.
    """
    if not filename.lower().endswith((".csv", ".txt")):
        raise ApiError(400, "Only CSV files are supported")
    tmp = tempfile.NamedTemporaryFile(
        mode="wb", suffix=".csv", delete=False
    )
    try:
        tmp.write(contents)
        tmp.close()
        # multiline=True: uploads are single bounded files (faithful to
        # pandas' whole-file parse); splittability doesn't matter here
        df = read_csv_compat(spark, tmp.name, delimiter=delimiter, multiline=True)
        if df.isEmpty() or not df.columns:
            raise ApiError(400, "File is empty or invalid format")
        be = route(conn)
        if be is not None:
            # routed import (main.py:258-286): all-String IF NOT
            # EXISTS auto-DDL + 10k-row batched inserts against the
            # real server. The collect is bounded by construction —
            # these rows arrived in THIS request's multipart body.
            be.create_table_all_string(table, df.columns)
            count = be.insert_rows(
                table, df.columns, [list(r) for r in df.collect()]
            )
            return {
                "status": "success",
                "count": count,
                "columns": df.columns,
                "table": table,
                "imported_at": _now(),
            }
        # append-wins / IF NOT EXISTS policy: first writer defines the
        # schema; later ingests append (main.py:263-268 + insert loop).
        df.write.mode("append").format("parquet").saveAsTable(table)
        count = df.count()  # inserted rows this call, like the reference
        return {
            "status": "success",
            "count": count,
            "columns": df.columns,
            "table": table,
            "imported_at": _now(),
        }
    except ApiError:
        raise
    except Exception as e:  # noqa: BLE001
        raise ApiError(500, f"Import failed: {e}") from e
    finally:
        os.unlink(tmp.name)


def health(spark: SparkSession) -> dict[str, Any]:
    """SELECT 1 probe (main.py:304-334) against the session instead of a
    localhost ClickHouse."""
    try:
        assert spark.sql("SELECT 1").collect()[0][0] == 1
        return {
            "status": "healthy",
            "timestamp": _now(),
            "services": {"database": "available", "storage": "ok"},
        }
    except Exception as e:  # noqa: BLE001
        raise ApiError(503, f"Service unavailable: {e}") from e
