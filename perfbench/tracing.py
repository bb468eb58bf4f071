"""Spans and counters taken from the benchmark's side of each layer.

Nothing here edits the engine. A traced run wraps, at class or module
level, the public entry points each layer is reached through:

- ``DataFrameReader.parquet``                 -> ``sources.parquet_open``
- ``DataFrame.localCheckpoint/checkpoint/persist`` -> ``plans.pin``
- ``TxnLogTable.commit`` / ``has_meta``       -> ``sources.txnlog_*``
- ``api.service.export_csv_rows``             -> ``api.export_collect``

and the workloads open spans around their own calls into ``queries``,
``api`` and ``streaming``. Spans live in memory (id, parent, name,
start, end) and are written out when the run ends. Jobs are counted per
span through ``setJobGroup`` + ``statusTracker``; executor run time,
shuffle and spill come from an uncompressed event log parsed after the
session stops; micro-batch phase times come from a Python
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("id", "parent", "name", "op", "start", "end", "group", "jobs",
                 "stages", "tasks")

    def __init__(self, sid, parent, name, op, group):
        self.id, self.parent, self.name, self.op, self.group = sid, parent, name, op, group
        self.start = time.perf_counter()
        self.end = None
        self.jobs: list[int] = []
        self.stages = self.tasks = 0

    @property
    def dur(self) -> float:
        return (self.end or time.perf_counter()) - self.start


class Tracer:
    """Records spans for one run. ``enabled=False`` keeps only the timing
    the end-to-end metrics need (no wrappers, job groups or listeners),
    so the untraced run measures the engine alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op = None  # span of the op in flight; parent for callback threads
        self._lock = threading.Lock()
        self._sc = None
        self._undo: list = []
        self.progress: list[dict] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        """Open a span; ``op=True`` marks one workload operation (the
        unit the end-to-end latency metrics count). Each span gets its
        own job group when tracing, on the client thread only; the jobs
        a span launched are counted when it closes."""
        st = self._stack()
        parent = st[-1] if st else self._op
        with self._lock:
            sid = next(self._ids)
        client = threading.current_thread() is threading.main_thread()
        group = f"pb-{sid}" if (self._sc is not None and client) else None
        s = Span(sid, parent.id if parent else None, name,
                 parent.op if parent else None, group)
        if op:
            s.op = sid
            self._op = s
        st.append(s)
        if group:
            self._sc.setJobGroup(group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if group:
                s.jobs, s.stages, s.tasks = self.job_counts(group)
                if st and st[-1].group:
                    self._sc.setJobGroup(st[-1].group, st[-1].name, interruptOnCancel=False)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            if op:
                self._op = None
            with self._lock:
                self.spans.append(s)

    # -- wrappers ------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Attach wrappers, job-group accounting and the stream listener.
        A no-op when tracing is off."""
        if not self.enabled:
            return
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader
        from pyspark.sql.streaming import StreamingQueryListener

        from data_ingestion_tool_spark.api import service
        from data_ingestion_tool_spark.sources.txnlog import TxnLogTable

        self._sc = spark.sparkContext
        self._wrap(DataFrameReader, "parquet", "sources.parquet_open")
        for attr in ("localCheckpoint", "checkpoint", "persist"):
            self._wrap(DataFrame, attr, "plans.pin")
        self._wrap(TxnLogTable, "commit", "sources.txnlog_commit")
        self._wrap(TxnLogTable, "has_meta", "sources.txnlog_has_meta")
        self._wrap(service, "export_csv_rows", "api.export_collect")

        progress = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({
                    "timestamp": p.timestamp,
                    "rows": int(p.numInputRows),
                    "durationMs": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._undo.append((None, "listener", spark))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if owner is None:
                try:
                    orig.streams.removeListener(self._listener)
                except Exception:  # noqa: BLE001 - session may already be stopped
                    pass
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- job accounting --------------------------------------------------

    def job_counts(self, group: str) -> tuple[list[int], int, int]:
        """(job ids, stages, tasks) launched under one span's job group."""
        st = self._sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si is not None else 0
        return jobs, stages, tasks


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run time (s), shuffle bytes written and
    bytes spilled, summed over the task-end events of its stages. Reads
    the uncompressed JSON-lines event log the traced session wrote."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"run_s": 0.0, "shuffle_b": 0.0, "spill_b": 0.0}
    )
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    acc = out[group]
                    acc["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part its
    children cover (children never outlive their parent here, and
    siblings never overlap on the single client thread)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += max(0.0, s.dur - child[s.id])
    return dict(out)
