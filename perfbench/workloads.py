"""The two workloads: what one op is, how it is checked, and what
``--seed`` changes.

- ``registry-mix``: six registry keys, one per cost tertile of the
  relational/analytic families (``SQL_FAMILIES``) and of the LLM-pipeline
  families (``LLM_FAMILIES``), listed in ``keys.json``. The seed sets
  the generated tables and the order the keys run in.
- ``ingest-roundtrip``: the reference's API surface (CSV import, catalog
  listing, CSV export) plus a streaming resume into a transaction-log
  table. The seed sets every upload and event batch.

A registry op is the registry function call (driver build) followed by
a ``noop`` write (execution). The warm-up pass checks each key once
against its DuckDB oracle with the comparison ``tools/verify_local.py``
uses. Every ingest op is checked right after it runs, outside its
timing.
"""

from __future__ import annotations

import collections
import csv
import importlib.util
import io
import json
import os
import random
import time
from dataclasses import dataclass, field

import gen

SQL_FAMILIES = (
    "tpch relational sql_surface analytics statistics temporal advanced "
    "sketches mixing sources_sinks streaming"
).split()
LLM_FAMILIES = "dedup similarity text multimodal".split()
ALL_FAMILIES = SQL_FAMILIES + LLM_FAMILIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def family(fn) -> str:
    return fn.__module__.rsplit(".", 1)[1]


def mix_keys(seed: int, registry: dict, oracles: dict) -> list[str]:
    """The keys of ``keys.json`` (a stratified draw made once, see
    ``make_keys.py``) in an order drawn from ``seed``. Keys that are no
    longer registered, or have no oracle, drop out."""
    with open(os.path.join(HERE, "keys.json"), encoding="utf-8") as fh:
        keys = [e["key"] for e in json.load(fh)["registry-mix"]]
    keys = [k for k in keys if k in registry and k in oracles]
    random.Random(seed).shuffle(keys)
    return keys


def _verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def warm_and_check(spark, sf_dir: str, keys: list[str], registry, oracles) -> dict[str, str]:
    """registry-mix's first warm-up pass: build every key and execute
    its plan once, collecting the rows, and compare them with its DuckDB
    oracle (row count, column names, type family, order-insensitive
    value hash). Returns ``{key: problem}``; empty means all correct."""
    import duckdb

    vl = _verify_local()
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for k in keys:
        try:
            sdf = registry[k](spark, sf_dir)
            scols, sdtypes = sdf.columns, sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(oracles[k])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ddesc = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {oracles[k]}").fetchall()]
        except Exception as e:  # noqa: BLE001 - a failing key is a finding, not a crash
            bad[k] = f"{type(e).__name__}: {e}"[:300]
            continue
        problems = vl.type_problems(sdtypes, ddesc)
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems and vl.value_hash(srows, scols) != vl.value_hash(drows, dcols):
            problems.append("value-hash mismatch")
        if problems:
            bad[k] = "; ".join(problems)
    con.close()
    return bad


# -- samples ---------------------------------------------------------------


@dataclass
class Sample:
    """One timed op. ``kind`` is the registry key or the ingest op name;
    ``seconds`` is wall-clock time."""

    kind: str
    family: str
    seconds: float
    span: int
    build: float = 0.0
    exec: float = 0.0
    t0: float = 0.0  # wall clock (time.time()) at start and end, for host
    t1: float = 0.0  # speed and for matching stream progress events
    rows: int = 0
    ok: bool = True


def run_key(ctx, key: str) -> Sample:
    """One registry op: build the DataFrame, then execute it into the
    ``noop`` sink. A traced run also forces the physical plan in between
    so planning shows as its own span."""
    tr, fn = ctx.tracer, ctx.registry[key]
    fam = family(fn)
    ctx.calibrate()
    t0w, t0 = time.time(), time.perf_counter()
    with tr.span(f"queries.family.{fam}", op=True) as op:
        with tr.span("queries.build") as b:
            df = fn(ctx.spark, ctx.sf_dir)
        if tr.enabled:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec") as x:
            df.write.format("noop").mode("overwrite").save()
    return Sample(key, fam, time.perf_counter() - t0, op.id, build=b.dur, exec=x.dur,
                  t0=t0w, t1=time.time())


# -- ingest-roundtrip --------------------------------------------------------

DIM_TABLE = "grp_dim"
UPLOADS_PER_TABLE = 3  # then the table rotates, keeping exports well under EXPORT_MAX_ROWS
# Column count of every upload table. Widths that change from table to
# table repeat only every few rounds of the rotation, so runs that end
# after a different number of rounds would time a different mix.
UPLOAD_COLS = 6


@dataclass
class IngestState:
    """What the engine should hold after every ingest op so far."""

    seed: int
    root: str
    rows: tuple[int, ...]  # rows of successive uploads, cycled
    stream_rows: tuple[int, ...]  # rows of successive event files, cycled
    uploads: int = 0
    tables: dict = field(default_factory=dict)  # name -> {"cols", "rows", "uploads"}
    labels: dict = field(default_factory=dict)  # gid -> label
    landed: int = 0
    landed_sum: int = 0
    batches: int = 0
    upload_bytes: int = 0
    stored_bytes: int = 0
    files_written: int = 0
    imports: int = 0

    @property
    def src(self) -> str:
        return os.path.join(self.root, "stream_src")

    @property
    def txn(self) -> str:
        return os.path.join(self.root, "stream_table")

    @property
    def ckpt(self) -> str:
        return os.path.join(self.root, "stream_ckpt")


def _parse_csv(text: str) -> list[list[str]]:
    return list(csv.reader(io.StringIO(text, newline="")))


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _check(ok: bool, what: str, problems: list[str]) -> None:
    if not ok:
        problems.append(what)


def ingest_setup(ctx, st: IngestState) -> None:
    """Create the dimension table the join export reads, and the stream
    source directory."""
    from data_ingestion_tool_spark.api import ConnectionInfo, service

    os.makedirs(st.src, exist_ok=True)
    g = gen.rng(st.seed, "dim")
    st.labels = {str(i): f"label-{int(g.integers(0, 1000))}" for i in range(50)}
    body = "gid,label\n" + "".join(f"{k},{v}\n" for k, v in st.labels.items())
    with ctx.tracer.span("setup.dim_table"):
        service.import_flatfile(ctx.spark, ConnectionInfo(), "dim.csv", body.encode(), table=DIM_TABLE)


def _next_table(st: IngestState) -> str:
    """The table the next upload goes to: the newest open table, or a
    fresh one once it holds ``UPLOADS_PER_TABLE`` uploads."""
    open_ = [t for t, v in st.tables.items() if v["uploads"] < UPLOADS_PER_TABLE]
    if open_:
        return open_[-1]
    n = len(st.tables)
    st.tables[f"upload_{n}"] = {
        "cols": gen.upload_columns(UPLOAD_COLS), "rows": [], "uploads": 0,
    }
    return f"upload_{n}"


def ingest_cycle(ctx, st: IngestState, samples: list[Sample]) -> int:
    """One cycle of five ops; returns the number of ops that failed or
    whose output was wrong. Ops append their Sample as they finish.

    The shape of the n-th cycle (rows, columns, delimiter, table
    rotation, projection width) is the same for every seed, so runs
    with different seeds do the same amount of work; the seed sets the
    contents and which columns are projected."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_ingestion_tool_spark.api import ColumnSelection, ConnectionInfo, service
    from data_ingestion_tool_spark.streaming.ingest import stream_ingest_txnlog

    tr, spark, conn = ctx.tracer, ctx.spark, ConnectionInfo()
    i = st.uploads
    st.uploads += 1
    g = gen.rng(st.seed, f"cycle-{i}")
    table = _next_table(st)
    meta = st.tables[table]
    n_rows = st.rows[i % len(st.rows)]
    body, delim, rows = gen.csv_upload(st.seed, i, n_rows, len(meta["cols"]))
    failed = 0

    def op(kind: str, fn, check):
        nonlocal failed
        problems: list[str] = []
        ctx.calibrate()
        t0w, t0 = time.time(), time.perf_counter()
        try:
            with tr.span(f"ingest.{kind}", op=True) as s:
                out = fn()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            problems.append(f"{type(e).__name__}: {e}"[:300])
            out = None
        sample = Sample(kind, "ingest", time.perf_counter() - t0, s.id, t0=t0w, t1=time.time())
        if not problems:
            with tr.span("check.ingest"):
                check(out, problems, sample)
        sample.ok = not problems
        if problems:
            failed += 1
            ctx.problems.append(f"{kind} #{i}: {'; '.join(problems)}")
        samples.append(sample)

    # 1. import
    before = _dir_files(ctx.warehouse)

    def do_import():
        with tr.span("api.import"):
            return service.import_flatfile(
                spark, conn, f"upload_{i}.csv", body, table=table, delimiter=delim
            )

    def check_import(out, problems, sample):
        _check(out["count"] == n_rows, f"import count {out['count']} != {n_rows}", problems)
        _check(out["columns"] == meta["cols"], f"import columns {out['columns']}", problems)
        meta["rows"].extend(rows)
        meta["uploads"] += 1
        new = {p: b for p, b in _dir_files(ctx.warehouse).items() if p not in before}
        st.files_written += len(new)
        st.stored_bytes += sum(new.values())
        st.upload_bytes += len(body)
        st.imports += 1
        sample.rows = n_rows

    op("import", do_import, check_import)

    # 2. catalog: list tables, then describe the table just written
    def do_catalog():
        with tr.span("api.connect"):
            listed = service.connect(spark, conn)
        with tr.span("api.get_columns"):
            cols = service.get_columns(spark, conn, table)
        return listed, cols

    def check_catalog(out, problems, sample):
        listed, cols = out
        _check(table in listed["tables"], f"{table} not listed", problems)
        names = [c["name"] for c in cols["columns"]]
        types = {c["type"] for c in cols["columns"]}
        _check(names == meta["cols"] and types == {"string"},
               f"get_columns {names} {types} != first writer {meta['cols']}", problems)

    op("catalog", do_catalog, check_catalog)

    # 3. projection export of half the columns, a seeded subset
    pick = sorted(g.choice(len(meta["cols"]), size=len(meta["cols"]) // 2, replace=False).tolist())
    sel_cols = [meta["cols"][j] for j in pick]

    def do_project():
        with tr.span("api.export"):
            return service.export_flatfile(spark, conn, ColumnSelection(table, sel_cols))

    def check_project(out, problems, sample):
        got = _parse_csv(out["data"])
        want = collections.Counter(tuple(r[j] for j in pick) for r in meta["rows"])
        _check(got[:1] == [sel_cols], f"export header {got[:1]}", problems)
        _check(out["count"] == len(meta["rows"]), f"export count {out['count']}", problems)
        _check(collections.Counter(map(tuple, got[1:])) == want, "export rows differ", problems)
        sample.rows = out["count"]

    op("export_project", do_project, check_project)

    # 4. comma-join export against the dimension table
    def do_join():
        with tr.span("api.export"):
            return service.export_flatfile(spark, conn, ColumnSelection(
                table, ["k", "label"], join_tables=[DIM_TABLE], join_condition="grp = gid",
            ))

    def check_join(out, problems, sample):
        got = _parse_csv(out["data"])
        want = collections.Counter((r[0], st.labels[r[1]]) for r in meta["rows"])
        _check(got[:1] == [["k", "label"]], f"join export header {got[:1]}", problems)
        _check(collections.Counter(map(tuple, got[1:])) == want, "join export rows differ", problems)
        sample.rows = out["count"]

    op("export_join", do_join, check_join)

    # 5. land event files, then resume the stream from its checkpoint
    n_files = 2
    landed = []
    with tr.span("ingest.land"):
        for j in range(n_files):
            b = st.batches + j
            t = gen.event_batch(st.seed, b, st.stream_rows[b % len(st.stream_rows)])
            tmp = os.path.join(st.root, f"events-{b:06d}.parquet.tmp")
            gen.write_parquet(t, tmp)
            os.replace(tmp, os.path.join(st.src, f"events-{b:06d}.parquet"))
            landed.append(t)
    st.batches += n_files
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.LongType()),
    ])

    def do_stream():
        with tr.span("streaming.cycle"):
            return stream_ingest_txnlog(spark, st.src, schema, st.txn, checkpoint=st.ckpt)

    def check_stream(txn, problems, sample):
        st.landed += sum(t.num_rows for t in landed)
        st.landed_sum += sum(int(t["value"].to_numpy().sum()) for t in landed)
        n, distinct, total = txn.snapshot().agg(
            F.count("*"), F.countDistinct("event_id"), F.sum("value")
        ).first()
        _check(n == st.landed, f"stream rows {n} != landed {st.landed}", problems)
        _check(distinct == n, f"stream event_id not unique ({distinct}/{n})", problems)
        _check(total == st.landed_sum, f"stream sum {total} != {st.landed_sum}", problems)
        sample.rows = sum(t.num_rows for t in landed)

    op("stream", do_stream, check_stream)
    return failed
