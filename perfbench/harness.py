"""What every workload shares: the run's state, set-up, timing and output.

A :class:`Run` stages nothing itself; a workload stages its seeded input,
calls :meth:`Run.setup` (``SETUPS`` set-ups, ``setup_s`` is their median),
brackets its measured phase with :meth:`Run.start_measuring` and
:meth:`Run.stop_measuring`, checks its outputs, and ends with
:meth:`Run.finish`, which records the gated end-to-end metrics.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from spans import Tracer, self_time_by_layer

SETUPS = 3


def p90(xs: list[float]) -> float:
    """The 90th percentile, linear between ranks (needs two values)."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


@dataclass
class Result:
    """What one run measured: gated metrics, the full report, layer metrics."""

    e2e: dict = field(default_factory=dict)  # name -> (value, unit)
    report: list = field(default_factory=list)  # (name, value, unit, n)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(msg)


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(f"{workload}-s{seed}-{os.getpid()}", traced)
        self.result = Result()
        self.spark = None
        self.t_start = time.perf_counter()
        self.work_cpu_s = 0.0

    def log(self, what: str) -> None:
        """A progress line on standard error."""
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def units(self, unit_s: float) -> int:
        """How many units of work fill the requested seconds.

        The count depends on the arguments alone, never on the measured
        speed, so every run at a given length does the same work.
        """
        return max(1, round(self.seconds / unit_s))

    # -- set-up -------------------------------------------------------

    def setup(self, warmup) -> None:
        """Start the session and warm it ``SETUPS`` times; keep the last."""
        from aws_vpcflowlogs_parquet_spark.session import get_spark

        totals, gets, warms = [], [], []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench")
            t1 = time.perf_counter()
            self.tracer.bind(self.spark)
            with self.tracer.layer("session.warmup"):
                warmup(self.spark, i)
            t2 = time.perf_counter()
            totals.append(t2 - t0)
            gets.append(t1 - t0)
            warms.append(t2 - t1)
            self.log(f"set-up {i + 1}/{SETUPS}: {t2 - t0:.2f}s (get_spark {t1 - t0:.2f}s)")
        r = self.result
        r.e2e["setup_s"] = (statistics.median(totals), "s")
        r.report.append(("setup_s", statistics.median(totals), "s", SETUPS))
        r.layers["session.get_spark_s"] = (statistics.median(gets), "s")
        r.layers["session.warmup_s"] = (statistics.median(warms), "s")

    @staticmethod
    def _jvm_pid() -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus its JVM child."""
        total = 0
        for pid in ("self", self._jvm_pid()):
            if pid is None:
                continue
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        descendants (the Python workers), all threads included."""
        tick = os.sysconf("SC_CLK_TCK")
        t = os.times()
        total = t.user + t.system
        stack = [pid for pid in (self._jvm_pid(),) if pid is not None]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                    # utime, stime, cutime, cstime: fields 14-17 of proc(5)
                    fields = fh.read().rsplit(")", 1)[1].split()
                tasks = os.listdir(f"/proc/{pid}/task")
            except (FileNotFoundError, ProcessLookupError):
                continue
            total += sum(int(x) for x in fields[11:15]) / tick
            for tid in tasks:
                try:
                    with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                        stack.extend(int(k) for k in fh.read().split())
                except FileNotFoundError:
                    continue
        return total

    def start_measuring(self) -> None:
        self._cpu0 = self.cpu_s()

    def stop_measuring(self) -> None:
        """Record the CPU seconds the measured phase used."""
        self.work_cpu_s = self.cpu_s() - self._cpu0
        self.log("measured")

    def finish(self, latencies: list[float], work_s: float, stored_bytes_per_row: float) -> None:
        """Record the gated metrics shared by every workload, then fill
        every layer metric this workload did not touch with 0."""
        r = self.result
        rss = self.peak_rss_mb()
        r.e2e["latency_p50_s"] = (statistics.median(latencies), "s")
        r.e2e["work_s"] = (work_s, "s")
        r.e2e["work_cpu_s"] = (self.work_cpu_s, "s")
        r.e2e["stored_bytes_per_row"] = (stored_bytes_per_row, "B/row")
        r.report.append(("work_cpu_s", self.work_cpu_s, "s", 1))
        r.report.append(("stored_bytes_per_row", stored_bytes_per_row, "B/row", 1))
        r.report.append(("peak_rss_mb", rss, "MB", 1))
        r.report.append(
            ("failed_ratio", r.failed / max(r.attempted, 1), "ratio", r.attempted)
        )
        for name, unit in LAYER_UNITS.items():
            r.layers.setdefault(name, (0.0, unit))
        if self.traced:
            spans = self.tracer.spans
            for name, s in sorted(self_time_by_layer(spans).items()):
                n = sum(1 for x in spans if x.name == name)
                r.report.append((f"self_s:{name}", s, "s", n))

    # -- timed calls ----------------------------------------------------

    def timed_query(self, layer: str, build, execute, inspect=None):
        """Build, then execute, one query; return (latency_s, result, span
        attributes).  ``inspect`` sees the built DataFrame between the two
        timed halves, outside the latency."""
        tr = self.tracer
        with tr.layer(f"{layer}.build") as b:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
        extra = inspect(df) if inspect is not None else {}
        with tr.layer(f"{layer}.exec") as e:
            t2 = time.perf_counter()
            out = execute(df)
            t3 = time.perf_counter()
        return (t1 - t0) + (t3 - t2), out, {
            "build_s": t1 - t0, "exec_s": t3 - t2, "build": b.attrs, "exec": e.attrs, **extra
        }


LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "convert.wall_s": "s",
    "convert.n_jobs": "count",
    "convert.n_stages": "count",
    "convert.n_tasks": "count",
    "convert.map_run_s": "s",
    "convert.map_cpu_s": "s",
    "convert.write_run_s": "s",
    "convert.write_cpu_s": "s",
    "convert.input_bytes": "B",
    "convert.shuffle_write_bytes": "B",
    "convert.output_bytes": "B",
    "convert.output_files": "count",
    "convert.spill_bytes": "B",
    "convert.write_task_skew": "ratio",
    "convert.driver_s": "s",
    "convert.rows_written_share": "ratio",
    "convert.stored_bytes_per_row": "B/row",
    "register.wall_s": "s",
    "register.n_partitions": "count",
    "register.s_per_partition": "s",
    "table_query.build_s": "s",
    "table_query.exec_s": "s",
    "table_query.n_jobs": "count",
    "table_query.input_bytes": "B",
    "table_query.input_rows": "count",
    "stream.batches": "count",
    "stream.files_per_batch": "count",
    "stream.rows_per_batch": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.latest_offset_s": "s",
    "stream.query_planning_s": "s",
    "stream.overhead_share": "ratio",
    "stream.busy_share": "ratio",
    "stream.n_jobs_per_batch": "count",
    "stream.output_files_per_batch": "count",
    "stream.stored_bytes_per_row": "B/row",
    "stream.backlog_files_max": "count",
    "stream.generator_lag_s": "s",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.exec_s": "s",
    "catalog.exec_jobs": "count",
    "catalog.n_stages": "count",
    "catalog.n_tasks": "count",
    "catalog.s_per_job": "s",
    "catalog.executor_run_s": "s",
    "catalog.executor_cpu_s": "s",
    "catalog.cpu_util": "ratio",
    "catalog.shuffle_write_bytes": "B",
    "catalog.spill_bytes": "B",
    "catalog.python_plan_nodes": "count",
    "catalog.driver_s": "s",
    "trace.overhead_share": "ratio",
}


def paired(run: Run, i: int, fn):
    """Traced runs time each op twice, untraced and traced, in alternating
    order; the traced copy feeds the layer metrics and the pair feeds
    ``trace.overhead_share``.  Untraced runs time it once."""
    if not run.traced:
        return fn(), None
    tr = run.tracer
    order = (False, True) if i % 2 == 0 else (True, False)
    got = {}
    for traced in order:
        tr.enabled = traced
        try:
            got[traced] = fn()
        finally:
            tr.enabled = True
    return got[False], got[True]


def overhead_share(pairs: list[tuple[float, float]]) -> float:
    """Median over paired ops of (traced - untraced) / untraced latency."""
    return statistics.median((t - p) / p for p, t in pairs) if pairs else 0.0
