"""Turns op samples and spans into the benchmark's named metrics.

End-to-end metrics come from op timings alone, so they are the same
computation with tracing on or off. Per-layer metrics need the spans,
job counts, event-log totals and stream progress of a traced run.
"""

from __future__ import annotations

import datetime
import math
import statistics
from collections import defaultdict

from tracing import self_times
from workloads import ALL_FAMILIES

# One pass of the ingest cycle, by op kind.
INGEST_PASS = ["import", "catalog", "export_project", "export_join", "stream"]
EXPORTS = ("export_project", "export_join")

UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "success_rate": "share",
    "peak_rss_mb": "MB",
    "import_p50_s": "s",
    "import_rows_per_s": "rows/s",
    "export_p50_s": "s",
    "export_tail_s": "s",
    "catalog_p50_s": "s",
    "stream_cycle_p50_s": "s",
    "stream_rows_per_s": "rows/s",
    "stored_bytes_per_input_byte": "ratio",
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_share": "share",
    "queries.build_jobs": "count",
    **{f"queries.family.{f}.op_s": "s" for f in ALL_FAMILIES},
    "sources.parquet_opens": "count",
    "sources.parquet_open_s": "s",
    "plans.pin_calls": "count",
    "plans.pin_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.core_busy_share": "share",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "api.import_s": "s",
    "api.import_jobs": "count",
    "api.export_s": "s",
    "api.export_jobs": "count",
    "api.export_collect_s": "s",
    "api.connect_s": "s",
    "api.get_columns_s": "s",
    "sources.files_written": "count",
    "sources.stored_bytes": "bytes",
    "sources.txnlog_commits": "count",
    "sources.txnlog_commit_s": "s",
    "sources.txnlog_has_meta_s": "s",
    "streaming.batches": "count",
    "streaming.rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.cycle_overhead_s": "s",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs) -> tuple[float, int, int]:
    """``(value, percentile, n)``: the highest percentile with at least
    ten samples beyond it (nearest rank). With fewer than 21 samples no
    such percentile reaches the median, so the upper median stands in
    and the percentile says so."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    idx = max(n - 11, n // 2)
    return xs[idx], math.floor(100 * (idx + 1) / n), n


def kind_tail(times: dict[str, list[float]], kinds) -> tuple[float, int, int]:
    """:func:`tail` of the op kind whose tail is slowest. For two kinds
    of markedly different cost (the two exports), the pooled tail falls
    in the gap between them, where one sample more or less moves it by
    the whole gap."""
    tails = [tail(times[k]) for k in kinds if times.get(k)]
    return max(tails) if tails else (0.0, 0, 0)


def kind_medians(times: dict[str, list[float]], pass_kinds) -> list[float]:
    """Each op of one pass of the mix at its median time (an op that
    runs twice in a pass, twice)."""
    return [median(times[k]) for k in pass_kinds if times.get(k)]


def mix_rate(times: dict[str, list[float]], pass_kinds) -> float:
    """Ops per second of one pass of the mix, each op at its median
    time. Unlike ops/elapsed, a partly finished last pass cannot tilt
    it toward whichever ops it happened to reach."""
    meds = kind_medians(times, pass_kinds)
    return len(meds) / sum(meds) if meds else 0.0


def end_to_end(ops, ingest, st, *, setup_s, rss_mb, attempted, failed, pass_kinds,
               clock=lambda s: s.seconds) -> dict:
    """The end-to-end metrics, timing each op by ``clock`` (wall seconds
    by default; ``setup_s`` comes already timed).

    ``op_p50_s`` is the median op of a pass with each op at its median
    time, not the median of all samples pooled: a mix holds ops of very
    different cost, and the pooled median falls in the gap between two
    of them, where it jumps with the slowest sample of the one and the
    fastest of the other. ``export_p50_s`` is the same over the cycle's
    two exports, and ``export_tail_s`` is the slower export's tail."""
    ok = [s for s in ops if s.ok]
    by_kind = defaultdict(list)
    for s in ok:
        by_kind[s.kind].append(clock(s))
    ing = defaultdict(list)
    for s in ingest:
        if s.ok:
            ing[s.kind].append(s)
    ing_times = {k: [clock(s) for s in ss] for k, ss in ing.items()}
    secs = lambda kind: ing_times.get(kind, [])  # noqa: E731
    rate = lambda ss: sum(s.rows for s in ss) / sum(clock(s) for s in ss) if ss else 0.0  # noqa: E731
    op_tail, op_pct, op_n = tail(clock(s) for s in ok)
    ex_tail, ex_pct, ex_n = kind_tail(ing_times, EXPORTS)
    return {
        "setup_s": setup_s,
        "op_p50_s": median(kind_medians(by_kind, pass_kinds)),
        "op_tail_s": op_tail,
        "ops_per_s": mix_rate(by_kind, pass_kinds),
        "success_rate": 1.0 - failed / attempted if attempted else 0.0,
        "peak_rss_mb": rss_mb,
        "import_p50_s": median(secs("import")),
        "import_rows_per_s": rate(ing["import"]),
        "export_p50_s": median(kind_medians(ing_times, EXPORTS)),
        "export_tail_s": ex_tail,
        "catalog_p50_s": median(secs("catalog")),
        "stream_cycle_p50_s": median(secs("stream")),
        "stream_rows_per_s": rate(ing["stream"]),
        "stored_bytes_per_input_byte": st.stored_bytes / st.upload_bytes if st.upload_bytes else 0.0,
        "_tails": {
            "op_tail_s": {"percentile": op_pct, "samples": op_n},
            "export_tail_s": {"percentile": ex_pct, "samples": ex_n},
        },
    }


# -- per-layer ---------------------------------------------------------------

_STREAM_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def per_layer(tracer, ops, ingest, st, groups, cpus: int) -> dict:
    """Per-layer metrics over the timed ops (``ops``) and the ingest
    ops (``ingest``, the same list on ingest-roundtrip). Times are
    medians per op (or per call), counts are means per op."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def subtree(sid):
        out, todo = [], [by_id[sid]]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s.id])
        return out

    def named(sid, name):
        return [s for s in subtree(sid) if s.name == name]

    def jobs(ss):
        return sum(len(s.jobs) for s in ss), sum(s.stages for s in ss), sum(s.tasks for s in ss)

    def ev(ss, key):
        return sum(groups.get(s.group, {}).get(key, 0.0) for s in ss if s.group)

    ok = [s for s in ops if s.ok]
    reg = [s for s in ok if s.family != "ingest"]
    out: dict[str, float] = {}
    start = [s.dur for s in spans if s.name == "session.start"]
    out["session.start_s"] = start[0] if start else 0.0

    out["queries.build_s"] = median(s.build for s in reg)
    total = sum(s.seconds for s in reg)
    out["queries.build_share"] = sum(s.build for s in reg) / total if total else 0.0
    out["queries.build_jobs"] = mean(
        jobs([x for b in named(s.span, "queries.build") for x in subtree(b.id)])[0] for s in reg
    )
    for f in ALL_FAMILIES:
        out[f"queries.family.{f}.op_s"] = median(s.seconds for s in reg if s.family == f)

    opens = [named(s.span, "sources.parquet_open") for s in ok]
    out["sources.parquet_opens"] = mean(len(o) for o in opens)
    out["sources.parquet_open_s"] = mean(sum(x.dur for x in o) for o in opens)
    pins = [named(s.span, "plans.pin") for s in ok]
    out["plans.pin_calls"] = mean(len(p) for p in pins)
    out["plans.pin_s"] = mean(sum(x.dur for x in p) for p in pins)

    out["spark.plan_s"] = median(sum(x.dur for x in named(s.span, "spark.plan")) for s in reg)
    out["spark.exec_s"] = median(s.exec for s in reg)
    trees = [subtree(s.span) for s in ok]
    counts = [jobs(t) for t in trees]
    out["spark.jobs"] = mean(c[0] for c in counts)
    out["spark.stages"] = mean(c[1] for c in counts)
    out["spark.tasks"] = mean(c[2] for c in counts)
    out["spark.executor_run_s"] = mean(ev(t, "run_s") for t in trees)
    # busy share over the execution phase: the noop write for registry
    # ops, the whole op for ingest ops
    busy = wall = 0.0
    for s in ok:
        ex = named(s.span, "spark.exec") or [by_id[s.span]]
        busy += ev([x for e in ex for x in subtree(e.id)], "run_s")
        wall += sum(e.dur for e in ex)
    out["spark.core_busy_share"] = busy / (wall * cpus) if wall else 0.0
    out["spark.shuffle_write_mb"] = mean(ev(t, "shuffle_b") for t in trees) / 1e6
    out["spark.spill_mb"] = mean(ev(t, "spill_b") for t in trees) / 1e6

    ing = [s for s in ingest if s.ok]

    def calls(name):
        return [x for s in ing for x in named(s.span, name)]

    out["api.import_s"] = median(x.dur for x in calls("api.import"))
    out["api.import_jobs"] = mean(jobs(subtree(x.id))[0] for x in calls("api.import"))
    out["api.export_s"] = median(x.dur for x in calls("api.export"))
    out["api.export_jobs"] = mean(jobs(subtree(x.id))[0] for x in calls("api.export"))
    out["api.export_collect_s"] = median(x.dur for x in calls("api.export_collect"))
    out["api.connect_s"] = median(x.dur for x in calls("api.connect"))
    out["api.get_columns_s"] = median(x.dur for x in calls("api.get_columns"))
    out["sources.files_written"] = st.files_written / st.imports if st.imports else 0.0
    out["sources.stored_bytes"] = st.stored_bytes / st.imports if st.imports else 0.0

    cycles = [s for s in ing if s.kind == "stream"]
    commits = [named(s.span, "sources.txnlog_commit") for s in cycles]
    out["sources.txnlog_commits"] = mean(len(c) for c in commits)
    out["sources.txnlog_commit_s"] = median(sum(x.dur for x in c) for c in commits)
    out["sources.txnlog_has_meta_s"] = median(
        sum(x.dur for x in named(s.span, "sources.txnlog_has_meta")) for s in cycles
    )
    per_cycle = []
    for s in cycles:
        evs = [p for p in tracer.progress if s.t0 <= _epoch(p["timestamp"]) <= s.t1]
        per_cycle.append((s, evs))
    out["streaming.batches"] = mean(len(e) for _, e in per_cycle)
    out["streaming.rows"] = mean(sum(p["rows"] for p in e) for _, e in per_cycle)
    for name, phase in _STREAM_PHASES.items():
        out[name] = median(
            sum(p["durationMs"].get(phase, 0) for p in e) / 1000.0 for _, e in per_cycle
        )
    out["streaming.cycle_overhead_s"] = median(
        s.seconds - sum(p["durationMs"].get("triggerExecution", 0) for p in e) / 1000.0
        for s, e in per_cycle
    )
    return out


def self_time_table(spans) -> list[list]:
    """``[[span name, self seconds, calls]]``, largest self time first."""
    st = self_times(spans)
    n = defaultdict(int)
    for s in spans:
        n[s.name] += 1
    return sorted(([k, round(v, 6), n[k]] for k, v in st.items()), key=lambda r: -r[1])
