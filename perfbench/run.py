#!/usr/bin/env python3
"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads: ``backfill`` (batch convert,
register, Athena-style queries, then a pool of catalog queries) and
``trickle`` (an open-loop drip of small files through the streaming
converter).  See perfbench/README.md.

Standard output ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, and the
spans are written to ``.perfbench/traces/``.  Lines before the JSON give
every reported figure with its unit and sample count.  A failed output check
sets ``correct`` to false and the exit code to 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "aws_vpcflowlogs_parquet_spark")

END_TO_END = ("setup_s", "latency_p50_s", "work_s", "work_cpu_s", "stored_bytes_per_row")


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    run the engine with its own defaults (no SPARK_GRAFT_* overrides)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.chdir(work)


def _stop_spark() -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def render(r, traced: bool) -> tuple[list[str], dict]:
    """The report lines and the result object of one run.

    Untraced, the metrics are the end-to-end ones; traced, the per-layer
    ones.  The report lines list every figure with its unit and count.
    """
    lines = [f"{name:<24} {value:>14.6g} {unit:<6} n={n}" for name, value, unit, n in r.report]
    if traced:
        metrics = r.layers
        lines += [f"{name:<32} {value:>14.6g} {unit}" for name, (value, unit) in metrics.items()]
    else:
        metrics = {k: r.e2e[k] for k in END_TO_END}
    return lines, {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    # Spark and the JVM may print to stdout; keep it for our own lines
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    _isolate(work)
    sys.path.insert(0, ROOT)
    import workloads

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    crashed = None
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:  # noqa: BLE001 — report the crash as a failed run
        crashed = traceback.format_exc()
    finally:
        try:
            _stop_spark()
        finally:
            os.chdir(cwd)
    r = run.result
    t = os.times()
    run.log(f"cpu: self {t.user + t.system:.1f}s, jvm and workers {t.children_user + t.children_system:.1f}s")
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.write(os.path.join(traces, f"{args.workload}-s{args.seed}-{int(time.time())}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    if crashed:
        print(crashed, file=sys.stderr)
        print("perfbench: the workload crashed; no result", file=sys.stderr)
        return 1
    for msg in r.errors:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)

    lines, out = render(r, bool(args.trace))
    lines.insert(0, f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    lines.append(json.dumps(out))
    os.write(real_stdout, ("\n".join(lines) + "\n").encode())
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
