"""The table resolver (``parquet_io.read_table``) infers each parquet
schema once per file version and schema-conf state, then reads with the
schema pinned. It must be indistinguishable from a plain
``spark.read.parquet`` read: same schema, same optimized plan, and a
rewrite, an added part file or a flipped inference conf must re-infer."""

from __future__ import annotations

import contextlib
import os
import re
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_tool_spark.sources.parquet_io import TPCH_TABLES, read_table


@pytest.fixture(scope="module")
def sf_gate(sf_dir):
    """The differential gate's scale factor, beside the unit-test one."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@contextlib.contextmanager
def conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def optimized_plan(df) -> str:
    # expression ids differ between any two reads; the plan must not
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def jobs_in(spark, action) -> int:
    """Jobs ``action`` launches, counted through its own job group. The
    status store is fed asynchronously, so a fence job in a later group
    must show up first: the listener bus is ordered, so every job of the
    measured group is recorded by then."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    group = f"resolver-{time.monotonic_ns()}"
    sc.setJobGroup(group, "measured")
    try:
        action()
        sc.setJobGroup(group + "-fence", "fence")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-fence"):
        assert time.monotonic() < deadline, "fence job never recorded"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


@pytest.mark.parametrize("nanos_as_long", ["false", "true"])
def test_resolver_matches_plain_read_on_every_table(spark, sf_gate, nanos_as_long):
    with conf(spark, "spark.sql.legacy.parquet.nanosAsLong", nanos_as_long):
        for t in TPCH_TABLES:
            plain = spark.read.parquet(f"{sf_gate}/{t}.parquet")
            read_table(spark, sf_gate, t)  # populate
            cached = read_table(spark, sf_gate, t)
            assert cached.schema == plain.schema, t
            assert optimized_plan(cached) == optimized_plan(plain), t


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.columns == ["a", "b"]
    assert df.count() == 2


def test_added_part_file_invalidates_directory_entry(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    with conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        assert read_table(spark, str(tmp_path), "t").columns == ["a"]
        pq.write_table(pa.table({"a": [2], "c": [3.0]}), d / "part-1.parquet")
        df = read_table(spark, str(tmp_path), "t")
        assert df.schema == spark.read.parquet(str(d)).schema
        assert sorted(df.columns) == ["a", "c"]
        assert df.count() == 2


def test_schema_conf_flip_misses_the_cache(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    with conf(spark, key, "false"):
        assert dict(read_table(spark, str(tmp_path), "t").dtypes)["k"] == "binary"
    with conf(spark, key, "true"):
        assert dict(read_table(spark, str(tmp_path), "t").dtypes)["k"] == "string"
    with conf(spark, key, "false"):
        assert dict(read_table(spark, str(tmp_path), "t").dtypes)["k"] == "binary"


def test_second_read_launches_no_job(spark, tmp_path):
    # a fresh file version, so the first read is a guaranteed miss
    pq.write_table(pa.table({"a": list(range(10))}), tmp_path / "t.parquet")
    assert jobs_in(spark, lambda: read_table(spark, str(tmp_path), "t")) >= 1
    assert jobs_in(spark, lambda: read_table(spark, str(tmp_path), "t")) == 0


def test_concurrent_reads_stay_correct_and_bounded(spark, tmp_path):
    """API requests resolve tables from several threads at once; the
    shared cache must hand every thread its own table's schema and stay
    within its bound."""
    from concurrent.futures import ThreadPoolExecutor

    from data_ingestion_tool_spark.sources import parquet_io

    for i in range(4):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"t{i}.parquet")

    def resolve(n):
        i = n % 4
        return i, read_table(spark, str(tmp_path), f"t{i}").columns

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(resolve, range(64), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all(cols == [f"c{i}"] for i, cols in results)
    assert len(parquet_io._schemas) <= parquet_io.SCHEMA_CACHE_SIZE
