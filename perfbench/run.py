"""Benchmark for the engine: two workloads, end-to-end metrics with
tracing off, per-layer metrics with tracing on.

    python3 perfbench/run.py --workload registry-mix --seed 1 --seconds 25 --trace 0

Run from the repository root. Every workload is a closed loop with one
client thread in this process, against ``get_spark()`` on
``local[<cores>]``. A run:

1. set-up (``setup_s``): start the session, generate the inputs from
   ``--seed`` (``gen.py``) and warm up: on ``registry-mix`` one untimed
   pass that runs every key and checks its rows against its DuckDB
   oracle; on ``ingest-roundtrip`` one untimed round of three ingest
   cycles;
2. runs the workload's ops for ``--seconds`` seconds, in whole passes
   of the key mix or whole rounds of ingest cycles (at least one),
   timing the host-speed kernel (``hostspeed.py``) before every op.
   On ``registry-mix`` the key mix gets two thirds of ``--seconds`` and
   the rest goes to whole rounds (at least two) of small ingest cycles,
   so the ingest metrics exist on every workload;
3. prints a provenance line, then as the LAST line one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0`` (times in reference seconds, see
   ``hostspeed.py``), the per-layer metrics with ``--trace 1``.

The full result (provenance, the key order, every op time, the per-layer
self-time table) is also written to ``perfbench/results/``. Each run
gets its own warehouse, scratch, shuffle and checkpoint directories
under ``.perfbench_run/``; they are removed at exit and any bytes left
behind are reported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads as W  # noqa: E402
from hostspeed import HostSpeed  # noqa: E402
from tracing import Tracer, read_event_log  # noqa: E402

WORKLOADS = ("registry-mix", "ingest-roundtrip")
SF = 0.1
# rows of successive uploads and event files on ingest-roundtrip; the
# ingest probe that follows registry-mix uses the small sizes
INGEST_ROWS, INGEST_STREAM_ROWS = (9_000, 10_000, 11_000), (2_000, 2_200)
PROBE_ROWS, PROBE_STREAM_ROWS = (2_000, 2_200, 2_400), (1_000, 1_100)
# registry-mix spends this share of --seconds on its key mix, the rest
# (at least PROBE_ROUNDS rounds) on the ingest probe
MIX_SHARE = 2 / 3
PROBE_ROUNDS = 2
INGEST_WARM_CYCLES = 3  # one whole round
DRIVER_MEM = "2g"


def cores() -> int:
    """Spark task threads: half the CPUs this process may run on. The
    other half is left to the driver's Python, the Arrow Python workers,
    the JVM's GC and compiler threads and the host-speed kernel; with a
    task thread per CPU a shared host's scheduler, not the engine, set
    the timings (and a pass of the key mix ran slower)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def provenance(args, keys) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_ingestion_tool_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cores(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": sha,
        "source_sha256": h.hexdigest(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "sf": args.sf,
        "keys": keys,
    }


class Run:
    """State of one benchmark run: directories, session, tracer."""

    def __init__(self, args):
        self.args = args
        self.base = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
        self.sf_dir = os.path.join(self.base, "data")
        self.warehouse = os.path.join(self.base, "warehouse")
        self.eventlog = os.path.join(self.base, "eventlog")
        self.tracer = Tracer(bool(args.trace))
        self.problems: list[str] = []
        self.spark = None
        self.registry = None
        # called right before every timed op (times the host-speed kernel)
        self.calibrate = lambda: None

    def prepare_env(self) -> None:
        """Point every engine directory, and the temp dirs of Python and
        the JVM, into this run's own directory before anything starts."""
        shutil.rmtree(self.base, ignore_errors=True)
        tmp = os.path.join(self.base, "tmp")
        for d in (self.sf_dir, self.warehouse, self.eventlog, tmp):
            os.makedirs(d)
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        # a fixed 2 GB driver heap: the JVM grows into it the same way on
        # every run, so peak RSS is comparable (the engine's default
        # lets G1 settle anywhere up to 8 GB)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.warehouse
        os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(self.base, "scratch")
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.base, "local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = tmp
        self.tmp = tmp

    def start_session(self):
        from data_ingestion_tool_spark.session import get_spark

        conf = {
            # a fixed heap and young generation: G1 then touches the same
            # memory on every run, so peak RSS is comparable between runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn512m"
            ),
            "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.install(self.spark)

    def jvm_pid(self):
        return self.spark.sparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        """Stop the session, then end the JVM and wait for it, so no
        process of this run outlives it."""
        from pyspark import SparkContext

        self.tracer.uninstall()
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits on EOF of its stdin
            gw.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def cleanup(self) -> int:
        if self.spark is not None:
            self.stop_session()
        shutil.rmtree(self.base, ignore_errors=True)
        left = _du(self.base) if os.path.exists(self.base) else 0
        try:
            os.rmdir(os.path.dirname(self.base))  # only succeeds once no run is left
        except OSError:
            pass
        return left


def run_mix(run: Run, keys: list[str], samples: list, seconds: float) -> tuple[int, int]:
    """Closed loop over the key mix in seeded order, in whole passes
    until ``seconds`` have passed (at least one), so every key has the
    same number of samples. Returns (attempted, failed); an op that
    raises is failed and has no sample."""
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while True:
        for k in keys:
            attempted += 1
            try:
                samples.append(W.run_key(run, k))
            except Exception as e:  # noqa: BLE001 - counted and reported
                failed += 1
                run.problems.append(f"{k}: {type(e).__name__}: {e}"[:300])
        if time.perf_counter() >= t_end:
            return attempted, failed


def execute(args) -> dict:
    run = Run(args)
    run.prepare_env()
    tr = run.tracer
    ingest = args.workload == "ingest-roundtrip"
    result: dict = {}
    try:
        # -- set-up: session, inputs, warm-up pass
        t_setup = time.perf_counter()
        run.start_session()
        from data_ingestion_tool_spark.queries import ORACLES, QUERIES

        run.registry = QUERIES
        keys: list[str] = []
        if not ingest:
            with tr.span("setup.generate"):
                gen.write_star_schema(args.seed, args.sf, run.sf_dir)
            keys = W.mix_keys(args.seed, QUERIES, ORACLES)
        st = W.IngestState(
            args.seed, os.path.join(run.base, "ingest"),
            INGEST_ROWS if ingest else PROBE_ROWS,
            INGEST_STREAM_ROWS if ingest else PROBE_STREAM_ROWS,
        )
        # warm-up: on registry-mix a pass that runs each key and checks
        # its rows against its oracle, then one ingest cycle for the
        # probe; on ingest-roundtrip one round of cycles
        warm: list = []
        bad: dict = {}
        with tr.span("setup.warmup"):
            W.ingest_setup(run, st)
            if ingest:
                failed = sum(W.ingest_cycle(run, st, warm) for _ in range(INGEST_WARM_CYCLES))
                attempted = len(warm)
            else:
                bad = W.warm_and_check(run.spark, run.sf_dir, keys, QUERIES, ORACLES)
                run.problems += [f"{k}: {p}" for k, p in bad.items()]
                failed = W.ingest_cycle(run, st, warm)
                attempted, failed = len(keys) + len(warm), failed + len(bad)
        setup_s = time.perf_counter() - t_setup

        speed = HostSpeed(run.spark)

        def calibrate() -> None:
            with tr.span("hostspeed"):
                speed.sample()

        with tr.span("hostspeed"):
            speed.warm()
        run.calibrate = calibrate

        # -- the timed loop
        samples: list = []
        t0 = time.perf_counter()
        with tr.span("loop"):
            if ingest:
                # whole rounds of table rotation, so every run exports
                # tables of each size equally often
                while not samples or time.perf_counter() - t0 < args.seconds:
                    for _ in range(W.UPLOADS_PER_TABLE):
                        failed += W.ingest_cycle(run, st, samples)
            else:
                a, f = run_mix(run, keys, samples, args.seconds * MIX_SHARE)
        if ingest:
            attempted += len(samples)
        else:
            attempted, failed = attempted + a, failed + f
            # every op of a key whose output is wrong is a failed op
            failed += sum(1 for s in samples if s.kind in bad)
            for s in samples:
                s.ok = s.kind not in bad
        loop_s = time.perf_counter() - t0

        # -- ingest probe, so every workload reports the ingest metrics
        probe: list = []
        if not ingest:
            rounds = 0
            while rounds < PROBE_ROUNDS or time.perf_counter() - t0 < args.seconds:
                rounds += 1
                with tr.span("probe.ingest"):
                    for _ in range(W.UPLOADS_PER_TABLE):
                        failed += W.ingest_cycle(run, st, probe)
            attempted += len(probe)
        speed.sample()  # one after the last op, too

        rss = _vm_hwm_mb("self") + _vm_hwm_mb(run.jvm_pid())
        if tr.enabled:
            time.sleep(1.0)  # let the listener bus deliver the last stream progress events
        run.stop_session()

        ingest_ops = samples if ingest else probe
        common = dict(rss_mb=rss, attempted=attempted, failed=failed,
                      pass_kinds=metrics.INGEST_PASS if ingest else keys)
        wall = metrics.end_to_end(samples, ingest_ops, st, setup_s=setup_s, **common)
        # set-up is scaled by the whole run's kernel time: the kernel cannot
        # run before the JVM is up, and samples taken during set-up mostly
        # timed the JVM's busy compiler threads
        e2e = metrics.end_to_end(samples, ingest_ops, st, setup_s=setup_s * speed.factor(),
                                 clock=lambda s: s.seconds * speed.factor_at(s.t0, s.t1), **common)
        wall.pop("_tails")
        result = {
            "provenance": provenance(args, keys),
            "attempted": attempted,
            "failed": failed,
            "error_rate": failed / attempted,
            "problems": run.problems[:50],
            "loop_s": loop_s,
            "host_speed": speed.summary(),
            "end_to_end_wall": wall,
            "tails": e2e.pop("_tails"),
            # kind, wall seconds, start and end (time.time())
            "ops": [[s.kind, s.seconds, s.t0, s.t1] for s in samples],
            "probe_ops": [[s.kind, s.seconds, s.t0, s.t1] for s in probe],
            "end_to_end": e2e,
        }
        if tr.enabled:
            groups = read_event_log(run.eventlog)
            result["per_layer"] = metrics.per_layer(tr, samples, ingest_ops, st, groups, cores())
            result["self_time"] = metrics.self_time_table(tr.spans)
    finally:
        result["left_behind_bytes"] = run.cleanup()
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="scale factor of the generated tables (the smoke test uses 0.001)")
    args = ap.parse_args(argv)

    result = execute(args)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)

    chosen = result["per_layer"] if args.trace else result["end_to_end"]
    summary = {k: result["provenance"][k] for k in ("workload", "seed", "cpus", "spark", "git_sha")}
    summary.update(error_rate=result["error_rate"], left_behind_bytes=result["left_behind_bytes"],
                   host_factor=round(result["host_speed"]["factor"], 4),
                   tails=result["tails"], problems=result["problems"][:5])
    print("perfbench: " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
