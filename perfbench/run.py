"""Benchmark of the engine's two user-facing workloads.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Each run is one closed loop with a single client in this process. It pins
the environment, starts the Spark session, generates the workload's
inputs from ``--seed``, runs untimed warm-up rounds, then times rounds
until ``--seconds`` have passed and checks every output after its clock
stops. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it alternates traced and untraced rounds and reports the
per-layer metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.dont_write_bytecode = True

PROGRAM = "yahoofinancedatalake_spark"
DAILY_STAGES = ("ingest", "format", "combine", "predict", "serve", "pipeline.audit")
DAILY_FIELDS = ("jobs", "tasks", "exec_run_s", "gc_s", "shuffle_bytes",
                "output_bytes", "util")
QUERY_FIELDS = ("jobs", "stages", "tasks", "input_bytes", "exec_run_s",
                "gc_s", "util")


def pin_environment(root: Path, work: Path, cores: int) -> None:
    """Everything the engine and its worker processes see, set before
    the JVM starts: the core count, scratch directories inside the run's
    work directory, and the program on the Python workers' path."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": str(root),
        "PYTHONDONTWRITEBYTECODE": "1",
        # no JVM writes its perf-data file or temp files outside the
        # run's work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    })
    tempfile.tempdir = None
    sys.path.insert(1, str(root))


def start_session(work: Path, cores: int):
    from yahoofinancedatalake_spark.session import get_spark  # noqa: PLC0415

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it; the Python workers are stopped with the context."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_round(steps, tracer, log) -> tuple[list[float], int]:
    """Run one round; returns each step's latency and the failed count.
    A step fails when it raises or its output check does not pass."""
    lat, failed = [], 0
    for step in steps:
        tracer.begin_op()
        t0 = time.perf_counter()
        try:
            out, err = step.run(), None
        except Exception:
            out, err = None, f"raised:\n{traceback.format_exc()}"
        lat.append(time.perf_counter() - t0)
        if err is None and (bad := step.check(out)) is not None:
            err = f"output check failed: {bad}"
        if err is not None:
            failed += 1
            log(f"{step.key} {err}")
    return lat, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "daily"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    root = Path.cwd()
    if not (root / PROGRAM / "__init__.py").is_file():
        log(f"no {PROGRAM}/ package under {root}; run from the repository root")
        return 2
    cores = len(os.sched_getaffinity(0))
    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    # SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        pin_environment(root, work, cores)
        from spans import (  # noqa: PLC0415
            Tracer, host_fingerprint, layer_metrics, median, peak_rss_mb,
            steal_s,
        )
        from workloads import WORKLOADS  # noqa: PLC0415

        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        inputs_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        for i in range(wl.warmup_rounds):
            lat, failed = run_round(wl.round(), tracer, log)
            log(f"warm-up round {i}: {sum(lat):.2f}s, {failed} failed")
            if failed:
                log("warm-up failed; no measurement")
                return 1
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start

        # the timed window: whole rounds until --seconds have passed; a
        # traced run alternates untraced and traced rounds
        plain, traced, failed, rounds = [], [], 0, 0
        t_run, steal0 = time.perf_counter(), steal_s()
        while time.perf_counter() - t_run < args.seconds or (
            args.trace and rounds < 2
        ):
            tracer.enabled = bool(args.trace and rounds % 2)
            lat, f = run_round(wl.round(), tracer, log)
            (traced if tracer.enabled else plain).extend(lat)
            log(f"round {rounds}{' traced' if tracer.enabled else ''}: "
                f"{sum(lat):.2f}s, {f} failed; ops {[round(x, 3) for x in lat]}")
            failed += f
            rounds += 1
        run_s = time.perf_counter() - t_run
        run_steal_s = steal_s() - steal0
        tracer.enabled = False
        attempted = len(plain) + len(traced)
        rss_mb = peak_rss_mb(spark.sparkContext._gateway.proc.pid)

        if args.trace:
            metrics = {
                "session.start_s": (session_start_s, "s"),
                "inputs_s": (inputs_s, "s"),
                "warmup_s": (warmup_s, "s"),
                "tracing_overhead_s": (median(traced) - median(plain), "s"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
            n_ops = len(tracer.ops)
            for stage in DAILY_STAGES:
                m = layer_metrics(tracer.spans(stage), cores, n_ops)
                metrics[f"{stage}_s"] = (m["s"], "s")
                for k in DAILY_FIELDS:
                    metrics[f"{stage}.{k}"] = (m[k], _unit(k))
            for layer in ("serve.bind", "panel.plan", "query.exec"):
                m = layer_metrics(tracer.spans(layer), cores, n_ops)
                metrics[f"{layer}_s"] = (m["s"], "s")
            query = layer_metrics(
                [s for op in tracer.ops for s in op
                 if s.layer in ("serve.bind", "panel.plan", "query.exec")],
                cores, n_ops,
            )
            for k in QUERY_FIELDS:
                metrics[f"query.{k}"] = (query[k], _unit(k))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(plain), "s"),
                "ops_per_s": (len(plain) / run_s, "1/s"),
            }
        host = host_fingerprint()
        host.update(workload=args.workload, seed=args.seed, trace=args.trace,
                    rounds=rounds, ops=attempted, run_s=round(run_s, 3),
                    steal_s=round(run_steal_s, 2), peak_rss_mb=round(rss_mb),
                    session_start_s=round(session_start_s, 3),
                    inputs_s=round(inputs_s, 3), warmup_s=round(warmup_s, 3))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("bytes"):
        return "B"
    return "ratio" if field == "util" else "count"


if __name__ == "__main__":
    sys.exit(main())
