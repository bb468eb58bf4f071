"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

- smoke: each workload runs at sf0.001 with one pass of its ops, traced
  and untraced, and must emit every metric ``BENCHMARK.json`` names,
  with its unit, and no failed op;
- seeds: the same seed gives the same key order and byte-identical
  inputs; a different seed changes both.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, seed: int = 3) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    path = os.path.join(BENCH, "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, encoding="utf-8") as fh:
        return last, json.load(fh)


def _units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced_run_emits_every_metric(workload):
    last, full = _run(workload, trace=1)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0, full["problems"]
    assert last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == _units(SPEC["per_layer"])
    assert set(full["end_to_end"]) == set(_units(SPEC["end_to_end"]))
    assert full["left_behind_bytes"] == 0
    assert full["self_time"], "traced run recorded no spans"
    if workload != "ingest-roundtrip":
        assert full["provenance"]["keys"], "mix drew no keys"
        assert last["metrics"]["queries.build_s"]["value"] > 0
    assert last["metrics"]["api.import_s"]["value"] > 0
    assert last["metrics"]["streaming.batches"]["value"] > 0


def test_smoke_untraced_run_prints_end_to_end_metrics():
    last, full = _run("ingest-roundtrip", trace=0)
    assert last["correct"] and last["failed"] == 0, full["problems"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == _units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in last["metrics"].values())
    prov = full["provenance"]
    for key in ("cpus", "nproc", "SPARK_GRAFT_CPUS", "git_sha", "spark", "pyarrow",
                "python", "seed", "keys"):
        assert key in prov


def _registry():
    from data_ingestion_tool_spark.queries import ORACLES, QUERIES

    return QUERIES, ORACLES


def test_same_seed_same_key_order_other_seed_other_order():
    q, o = _registry()
    a = W.mix_keys(7, q, o)
    assert a == W.mix_keys(7, q, o)
    assert a != W.mix_keys(8, q, o)
    assert sorted(a) == sorted(W.mix_keys(8, q, o))
    assert len(a) == len(set(a)) >= 6 and all(k in o for k in a)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_byte_identical_inputs(tmp_path):
    for seed, sub in ((11, "a"), (11, "b"), (12, "c")):
        gen.write_star_schema(seed, 0.001, str(tmp_path / sub))
    a, b, c = (_files(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert gen.csv_upload(11, 0, 50, 5) == gen.csv_upload(11, 0, 50, 5)
    assert gen.csv_upload(11, 0, 50, 5)[0] != gen.csv_upload(12, 0, 50, 5)[0]
    assert gen.event_batch(11, 0, 50).equals(gen.event_batch(11, 0, 50))
    assert not gen.event_batch(11, 0, 50).equals(gen.event_batch(12, 0, 50))
