"""Reads result files from ``perfbench/results/``.

    python3 perfbench/summary.py trace [RESULTS_DIR]
        per workload: the per-layer self-time table of the traced runs
        and the tracing overhead (traced op_p50_s minus untraced
        op_p50_s, over seeds run both ways)
    python3 perfbench/summary.py compare A.json B.json
        end-to-end metrics side by side; refuses, with exit code 2,
        to compare results taken on different core counts

Result files are written by ``run.py`` as
``<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def _load(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def trace_summary(results_dir: str) -> None:
    runs = defaultdict(dict)  # (workload, trace) -> {seed: result}
    for path in glob.glob(os.path.join(results_dir, "*-seed*-trace*.json")):
        r = _load(path)
        p = r["provenance"]
        runs[(p["workload"], p["trace"])][p["seed"]] = r
    for wl in sorted({w for w, _ in runs}):
        traced, plain = runs.get((wl, 1), {}), runs.get((wl, 0), {})
        print(f"== {wl}: {len(traced)} traced, {len(plain)} untraced runs")
        if traced:
            selfs, calls = defaultdict(list), defaultdict(list)
            for r in traced.values():
                for name, secs, n in r["self_time"]:
                    selfs[name].append(secs)
                    calls[name].append(n)
            total = sum(statistics.median(v) for v in selfs.values())
            print(f"  {'span':40s} {'self s':>9s} {'share':>6s} {'calls':>6s}")
            for name in sorted(selfs, key=lambda k: -statistics.median(selfs[k])):
                s = statistics.median(selfs[name])
                print(f"  {name:40s} {s:9.3f} {s / total:6.1%} {statistics.median(calls[name]):6.0f}")
        both = sorted(set(traced) & set(plain))
        if both:
            d = [traced[s]["end_to_end"]["op_p50_s"] - plain[s]["end_to_end"]["op_p50_s"] for s in both]
            base = statistics.median(plain[s]["end_to_end"]["op_p50_s"] for s in both)
            print(f"  tracing overhead on op_p50_s: {statistics.median(d):+.4f} s "
                  f"({statistics.median(d) / base:+.1%} of {base:.4f} s, {len(both)} seeds)")


def compare(a_path: str, b_path: str) -> int:
    a, b = _load(a_path), _load(b_path)
    ca, cb = a["provenance"]["cpus"], b["provenance"]["cpus"]
    if ca != cb:
        print(f"REFUSED: {a_path} ran on {ca} cores, {b_path} on {cb} cores; "
              "timings from different core counts are not comparable", file=sys.stderr)
        return 2
    print(f"{'metric':32s} {'A':>14s} {'B':>14s} {'B/A':>7s}")
    for k, va in a["end_to_end"].items():
        vb = b["end_to_end"].get(k)
        ratio = f"{vb / va:7.3f}" if vb is not None and va else "      -"
        print(f"{k:32s} {va:14.6g} {vb if vb is not None else float('nan'):14.6g} {ratio}")
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["trace"] and len(argv) <= 2:
        trace_summary(argv[1] if len(argv) == 2 else os.path.join(HERE, "results"))
        return 0
    if argv[:1] == ["compare"] and len(argv) == 3:
        return compare(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
