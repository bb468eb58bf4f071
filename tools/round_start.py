"""Round-start snapshot ritual — run ONCE at the top of each round.

Freezes the two per-round reference artifacts the gates normalize
against, so mid-round activity can't drift them:

1. ``tools/window_prior_keys.json`` — every key registered as of the
   prior round's close. ``__spark_entry__._window_priority`` sorts
   never-driver-checked PRIOR keys ahead of this round's additions, so
   each 50-entry CORRECTNESS window attests long-standing keys first.
2. ``tools/bench_prior.json`` — the prior round's committed BENCH.json,
   core count (``cpus``) included. ``bench.py``'s sentinel-normalized
   regression gate compares against this FROZEN file; comparing against
   the live BENCH.json would let a second bench run in the same round
   hide a real regression. The gate is skipped, with a warning, when
   the prior's ``cpus`` is missing or differs from the run's.

Usage: python tools/round_start.py   (idempotent within a round only if
you haven't registered new queries or run bench yet — run it FIRST.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> None:
    from data_ingestion_tool_spark.queries import QUERIES

    keys = sorted(QUERIES)
    with open(os.path.join(HERE, "window_prior_keys.json"), "w") as f:
        json.dump({"keys": keys}, f, indent=0)
    print(f"window_prior_keys.json: {len(keys)} keys")

    bench = os.path.join(REPO, "BENCH.json")
    if os.path.exists(bench):
        shutil.copy(bench, os.path.join(HERE, "bench_prior.json"))
        prior = json.load(open(bench))
        n = len(prior.get("queries", {}))
        cpus = prior.get("cpus", "MISSING, bench.py will skip its gate")
        print(f"bench_prior.json: frozen ({n} query timings, cpus {cpus})")
    else:
        print("bench_prior.json: no BENCH.json to freeze (first round?)")


if __name__ == "__main__":
    main()
