"""Benchmark harness — the driver's per-round performance probe.

Runs the headline query set (every DuckDB-hash-checked key from
SURVEY.md §2.B, i.e. ``oracle_sql()``'s keys) at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "cpus": <task threads>}

Timing methodology (BASELINE.md protocol): per query, one warm-up run
then median of ``$SPARK_GRAFT_BENCH_REPS`` (default 3) timed runs.
Execution is forced with the ``noop`` sink — full plan runs on the
executors, nothing is collected to the driver, so the number measures
the engine, not Python row deserialization.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    from data_ingestion_tool_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # task threads of this run: the per-key regression gate only
    # compares runs made on the same core count
    cpus = spark.sparkContext.defaultParallelism
    qs, oracles = E.queries(), E.oracle_sql()
    headline = [k for k in qs if k in oracles]

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Global JVM prewarm: run a few representative plan shapes untimed
    # so JIT/codegen warm-up costs don't land on whichever queries
    # happen to run first (per-query numbers become position-
    # independent; the per-query warm-up below still handles
    # plan-specific compilation).
    for name in (
        "filter_comparison", "agg_groupby_basic", "join_multiway",
        "window_running_sum", "csv_roundtrip_strings",
    ):
        if name in qs:
            try:
                run_once(qs[name])
            except Exception:  # noqa: BLE001 - prewarm must never abort bench
                pass

    # Machine-load sentinel: a FIXED query defined here (never from the
    # registry, so registry edits can't change it) whose plan has been
    # stable since round 1 — scan + filter + groupBy/sum on lineitem.
    # Its drift vs the BASELINE.md sentinel value separates machine-load
    # noise from real plan regressions: ratios should be read as
    # (query_ratio / sentinel_ratio). Added per round-3 verdict item 3
    # after two plan-unchanged floor-level queries tripped the 2x flag
    # purely from measurement-era load differences.
    def sentinel_once() -> float:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        (
            spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
            .where(F.col("l_shipdate") > "1995-01-01")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sq"),
                F.sum("l_extendedprice").alias("sp"),
                F.count(F.lit(1)).alias("n"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    sentinel_once()  # warm-up
    sentinel = round(statistics.median(sentinel_once() for _ in range(5)), 4)

    timings: dict[str, float] = {}
    for name in headline:
        fn = qs[name]
        try:
            run_once(fn)  # warm-up
            timings[name] = round(
                statistics.median(run_once(fn) for _ in range(REPS)), 4
            )
        except Exception as e:  # a broken query must not hide the rest
            print(f"bench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            timings[name] = -1.0

    ok = {k: v for k, v in timings.items() if v >= 0}
    timings3 = {k: round(v, 3) for k, v in timings.items()}

    # Sentinel-normalized regression gate (round-4 verdict item 5): read
    # the PREVIOUS round's numbers and emit
    # (q_now/q_prev)/(sentinel_now/sentinel_prev) per common key.
    # Ratios > 2x are listed loudly as ``regressions`` in both the full
    # artifact and the short summary line, turning BASELINE.md's manual
    # cross-round protocol into machinery. Sub-0.2s keys are exempt from
    # the loud list (floor-level noise, per BASELINE.md round-3 note).
    # The reference is the FROZEN round-start snapshot
    # tools/bench_prior.json (regenerated each round from the prior
    # round's committed BENCH.json, like tools/window_prior_keys.json):
    # comparing against the live BENCH.json would make a second bench
    # run in the same round compare against this round's own numbers
    # and hide a real >2x regression on rerun (round-5 ADVICE).
    here = Path(__file__).resolve().parent
    prev_path = here / "tools" / "bench_prior.json"
    normalized: dict[str, float] = {}
    regressions: dict[str, float] = {}
    if not prev_path.exists():
        # Round-7 ADVICE: falling back to the live BENCH.json here is
        # the exact self-compare hazard the frozen snapshot removes —
        # a second bench run in the same round would compare against
        # its own numbers and hide a >2x regression. Skip the gate
        # LOUDLY instead; run tools/round_start.py first.
        print(
            "bench: WARNING no tools/bench_prior.json — regression gate "
            "SKIPPED (no prior reference; run tools/round_start.py at "
            "round start)",
            file=sys.stderr,
        )
        prev_path = None
    try:
        if prev_path is None:
            raise FileNotFoundError("bench_prior.json missing")
        prev = json.loads(prev_path.read_text())
        if prev.get("cpus") != cpus:
            # a ratio between runs on different core counts is not a
            # regression signal; never compare them silently
            print(
                "bench: WARNING tools/bench_prior.json is from another "
                "core count — regression gate SKIPPED "
                f"(cpus {prev.get('cpus', 'missing')} vs {cpus})",
                file=sys.stderr,
            )
            prev = {}
        prev_q = prev.get("queries", {})
        prev_sentinel = float(prev.get("sentinel_sec") or 0)
        load = (sentinel / prev_sentinel) if prev_sentinel > 0 else 1.0
        for k, v in ok.items():
            pv = prev_q.get(k)
            if isinstance(pv, (int, float)) and pv > 0:
                normalized[k] = round((v / pv) / load, 3)
                if normalized[k] > 2.0 and v > 0.2:
                    regressions[k] = normalized[k]
    except Exception as e:  # noqa: BLE001 - a missing artifact must not abort bench
        print(f"bench: no prior BENCH.json ratios: {e}", file=sys.stderr)
    for k, r in sorted(regressions.items(), key=lambda kv: -kv[1]):
        print(
            f"bench: REGRESSION {k}: {r}x normalized vs prior round",
            file=sys.stderr,
        )

    # Per-family subtotals (round-9 verdict item 6): family = the
    # queries/<family>.py module a key is registered in, so a growing
    # registry can't mask a per-family regression inside the suite sum.
    families: dict[str, dict] = {}
    for k, v in ok.items():
        fam = getattr(qs[k], "__module__", "unknown").rsplit(".", 1)[-1]
        agg = families.setdefault(fam, {"sec": 0.0, "n": 0})
        agg["sec"] += v
        agg["n"] += 1
    for agg in families.values():  # round once at emit, not per step
        agg["sec"] = round(agg["sec"], 3)

    full = {
        "metric": "headline_suite_seconds",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "queries": timings3,
        "sf": sf_from_dir(SF_DIR),
        "cpus": cpus,
        "n_queries": len(timings),
        "reps": REPS,
        "sentinel_sec": sentinel,
        "families": families,
        "normalized_ratio_vs_prev": normalized,
        "regressions_over_2x": regressions,
    }
    # Durable artifact first: the full result always lands on disk, so a
    # stdout capture limit can't lose the per-query numbers (BENCH_r01
    # was truncated by the driver's line cap).
    Path(__file__).resolve().parent.joinpath("BENCH.json").write_text(
        json.dumps(full, indent=1) + "\n"
    )
    # Full contract line first, compact summary line LAST: the driver
    # keeps the output TAIL, so the final line must be short enough to
    # survive any line/byte cap (r1+r2 both recorded parsed:null when a
    # long line sat last).
    print(json.dumps(full))
    # Round-13 verdict item 1 (per-query visibility): the driver parses
    # the last complete JSON line inside a ~2000-char stdout tail
    # (BENCH_r01/r02 recorded parsed:null when the only line was the
    # ~3.6 KB full artifact; BENCH_r03+ parsed once a short line sat
    # last). The full per-query dict serializes to ~17 KB for 519 keys
    # — it physically cannot cross that pipe in one line, and chunking
    # doesn't help because only the tail survives. What CAN fit, and
    # now does, is a per-family + slowest-keys line immediately before
    # the headline: both lines together stay under ~1800 chars, so the
    # driver's stored tail carries family-level perf and the worst
    # offenders even when PERF's per_query (prev-vs-now at full key
    # grain) stays empty. BENCH.json on disk keeps the full dict.
    slowest = dict(sorted(ok.items(), key=lambda kv: -kv[1])[:15])
    print(
        json.dumps(
            {
                "metric": "family_suite_seconds",
                "families": {k: v["sec"] for k, v in families.items()},
                "slowest": slowest,
            }
        )
    )
    failed = sorted(k for k, v in timings.items() if v < 0)
    loud_regr = dict(sorted(regressions.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": full["value"],
                "unit": "sec",
                "sf": full["sf"],
                "n_queries": full["n_queries"],
                "reps": REPS,
                "sentinel_sec": sentinel,
                # capped at 10/12 entries so this line can never outgrow
                # the driver's tail window, whatever happens upstream
                "failed": failed[:12],
                "n_failed": len(failed),
                "regressions_over_2x": loud_regr,
                "n_regressions_over_2x": len(regressions),
                "queries_file": "BENCH.json",
            }
        )
    )


if __name__ == "__main__":
    main()
