"""``trickle``: an open-loop drip of small gzip files through the stream.

Every ``DRIP_PERIOD_S`` the generator drops a burst of ``DRIP_BURST`` files
(the flush of a few ENI groups; a burst is the stream's default
``maxFilesPerTrigger``) into the watched directory by write-then-rename,
on schedule whatever the stream's progress.  ``start_flowlog_stream(...,
table=...)`` runs with its defaults.  Freshness is timed from each file's
due time to the commit of the micro-batch holding it, registration
included: the commit log entry is written after ``foreachBatch`` returns.
Files map to batches through the checkpoint's source log; phases come from
``StreamingQueryProgress``.

Checks: every file's rows are in the table exactly once by the end (files
are told apart by their interface ids), rows per ``(dt, account)`` equal
the generator's truth, and every partition is registered.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import threading
import time

import checks
import flowgen
from harness import Run, mean, p90
from spans import Span

DRIP_PERIOD_S = 1.0
DRIP_BURST = 5
DRIP_ROWS_PER_FILE = 400
DRIP_GRACE_S = 60.0
WARM_STREAM_FILES = 10


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    out = {}
    logdir = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(logdir):
        return out
    for name in os.listdir(logdir):
        if name.startswith("."):
            continue
        with open(os.path.join(logdir, name), encoding="utf-8") as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _committed_files(ckpt: str) -> set[str]:
    """Files whose micro-batch has a commit-log entry."""
    commit_dir = os.path.join(ckpt, "commits")
    if not os.path.isdir(commit_dir):
        return set()
    done = {int(n) for n in os.listdir(commit_dir) if n.isdigit()}
    return {f for f, b in _source_log(ckpt).items() if b in done}


def _merge_progress(query, progress: dict[int, dict]) -> None:
    """Fold the query's recent StreamingQueryProgress into ``progress``,
    keyed by batch id (the query keeps only the last hundred)."""
    for p in query.recentProgress:
        start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        progress.setdefault(p.batchId, {}).update(
            {"d": dict(p.durationMs), "rows": p.numInputRows, "start": start.timestamp()}
        )


def trickle(run: Run) -> None:
    from aws_vpcflowlogs_parquet_spark.operators.convert import register_flowlog_table
    from aws_vpcflowlogs_parquet_spark.streaming.convert_stream import start_flowlog_stream

    r = run.result
    n_files = run.units(DRIP_PERIOD_S) * DRIP_BURST
    source = flowgen.DripSource(run.seed, DRIP_ROWS_PER_FILE)
    payloads, truth = [], flowgen.Truth()
    for k in range(n_files):
        data, t = source.flush(k)
        payloads.append(data)
        truth.merge(t)
    warm_files = [flowgen.DripSource(run.seed + 1, DRIP_ROWS_PER_FILE).flush(k)[0]
                  for k in range(WARM_STREAM_FILES)]

    def warm(spark, i):
        # a short stream over a few pre-dropped files: the same path as the
        # measured stream, so its first micro-batches are not measured cold
        drop, dst = run.path("warm_drop", str(i)), run.path("warm_out", str(i))
        os.makedirs(drop)
        os.makedirs(dst)
        for k, data in enumerate(warm_files):
            with open(os.path.join(drop, f"{k:05d}.log.gz"), "wb") as fh:
                fh.write(data)
        register_flowlog_table(spark, f"warm_{i}", dst, partitions=[])
        ckpt = run.path("warm_ckpt", str(i))
        query = start_flowlog_stream(spark, drop, dst, ckpt, table=f"warm_{i}")
        try:
            give_up = time.time() + DRIP_GRACE_S
            while query.isActive and time.time() < give_up:
                if len(_committed_files(ckpt)) == len(warm_files):
                    break
                time.sleep(0.02)
        finally:
            query.stop()

    run.log("staged")
    run.setup(warm)
    spark, tr = run.spark, run.tracer

    drop, staging = run.path("drop"), run.path("drop_tmp")
    dst, ckpt = run.path("out"), run.path("ckpt")
    for d in (drop, staging, dst):
        os.makedirs(d)
    register_flowlog_table(spark, "flows", dst, partitions=[])
    due = [0.0] * n_files
    lag = [0.0] * n_files
    dropped = [0]

    def drip(t0: float) -> None:
        for first in range(0, n_files, DRIP_BURST):
            burst = range(first, min(first + DRIP_BURST, n_files))
            for k in burst:
                with open(os.path.join(staging, f"{k:05d}.log.gz"), "wb") as fh:
                    fh.write(payloads[k])
            t_due = t0 + first // DRIP_BURST * DRIP_PERIOD_S
            wait = t_due - time.time()
            if wait > 0:
                time.sleep(wait)
            # renames only: the burst appears in the drop dir within microseconds
            for k in burst:
                name = f"{k:05d}.log.gz"
                os.rename(os.path.join(staging, name), os.path.join(drop, name))
            for k in burst:
                due[k] = t_due
                lag[k] = time.time() - t_due
            dropped[0] = burst[-1] + 1

    commits: dict[int, float] = {}
    progress: dict[int, dict] = {}
    committed_files = 0
    backlog_max = 0
    run.start_measuring()
    with tr.span("stream") as stream_span:
        query = start_flowlog_stream(spark, drop, dst, ckpt, table="flows")
        t0 = time.time() + 0.5
        gen = threading.Thread(target=drip, args=(t0,), name="drip")
        gen.start()
        give_up = t0 + n_files / DRIP_BURST * DRIP_PERIOD_S + DRIP_GRACE_S
        next_progress = 0.0
        commit_dir = os.path.join(ckpt, "commits")
        try:
            while time.time() < give_up and query.isActive:
                if os.path.isdir(commit_dir):
                    new = [e for e in os.scandir(commit_dir)
                           if e.name.isdigit() and int(e.name) not in commits]
                    for e in new:
                        commits[int(e.name)] = e.stat().st_mtime
                    if new:
                        committed_files = len(_committed_files(ckpt))
                backlog_max = max(backlog_max, dropped[0] - committed_files)
                if time.time() >= next_progress:
                    _merge_progress(query, progress)
                    next_progress = time.time() + 1.0
                if dropped[0] == n_files and committed_files == n_files:
                    break
                time.sleep(0.02)
        finally:
            gen.join()
            _merge_progress(query, progress)
            run_id = str(query.runId)
            query.stop()
    if run.traced:
        tr.attach_jobs(stream_span, run_id)

    run.stop_measuring()
    # -- freshness, from the checkpoint: file -> batch -> commit time
    batch_of = _source_log(ckpt)
    fresh = []
    for k in range(n_files):
        b = batch_of.get(f"{k:05d}.log.gz")
        r.attempted += 1
        if b is None or b not in commits:
            r.fail(f"file {k} never committed")
            continue
        fresh.append(commits[b] - due[k])
        if run.traced:
            tr.spans.append(Span("stream/file", due[k], commits[b], -b - 1, run=tr.run_id,
                                 attrs={"file": k, "batch": b}))
    if run.traced:
        # batch spans take the ids the file spans point at
        for b, end in commits.items():
            start = progress.get(b, {}).get("start") or end
            tr.spans.append(Span("stream/batch", start, end, stream_span.id, -b - 1,
                                 tr.run_id, {"batch": b, **progress.get(b, {}).get("d", {})}))

    # -- exactly once: every file's rows, once, in the table
    con = checks.duck_over_parquet(dst)
    per_file = dict(
        con.execute(
            "SELECT substr(interfaceid, 5, 5), COUNT(*) FROM flows GROUP BY 1"
        ).fetchall()
    )
    for tag, n in truth.file_rows.items():
        if per_file.get(tag, 0) != n:
            r.fail(f"file {tag}: {per_file.get(tag, 0)} rows committed, generated {n}")
    if checks.rows_per_partition(con) != dict(truth.rows):
        r.fail("rows per (dt, account) differ from the generator")
    con.close()
    registered = spark.sql("SHOW PARTITIONS flows").count()
    if registered != len(truth.rows):
        r.fail(f"{registered} partitions registered, generator has {len(truth.rows)}")

    data = {b: p for b, p in progress.items() if "addBatch" in p["d"]}
    trig = [p["d"].get("triggerExecution", 0) / 1e3 for p in data.values()]
    busy = sum(trig)
    batches = max(len(commits), 1)
    files = checks.parquet_files(dst)
    stored = sum(os.path.getsize(f) for f in files)
    makespan = (max(commits.values()) - t0) if commits else DRIP_GRACE_S
    if len(fresh) < 2:  # nothing committed: report the give-up time
        fresh = [DRIP_GRACE_S, DRIP_GRACE_S]
    r.report += [
        ("freshness_p50_s", statistics.median(fresh), "s", len(fresh)),
        ("freshness_p90_s", p90(fresh), "s", len(fresh)),
        ("ingest_makespan_s", makespan, "s", n_files),
        ("stream_busy_s", busy, "s", len(trig)),
    ]

    def phase(key):
        return mean(p["d"].get(key, 0) / 1e3 for p in data.values())

    L = r.layers
    L["stream.batches"] = (len(commits), "count")
    L["stream.files_per_batch"] = (n_files / batches, "count")
    L["stream.rows_per_batch"] = (sum(p["rows"] for p in data.values()) / batches, "count")
    L["stream.trigger_s"] = (phase("triggerExecution"), "s")
    L["stream.add_batch_s"] = (phase("addBatch"), "s")
    L["stream.wal_commit_s"] = (phase("walCommit"), "s")
    L["stream.commit_offsets_s"] = (phase("commitOffsets"), "s")
    L["stream.latest_offset_s"] = (phase("latestOffset"), "s")
    L["stream.query_planning_s"] = (phase("queryPlanning"), "s")
    add = sum(p["d"].get("addBatch", 0) for p in data.values()) / 1e3
    L["stream.overhead_share"] = (1 - add / busy if busy else 0.0, "ratio")
    L["stream.busy_share"] = (busy / makespan, "ratio")
    L["stream.n_jobs_per_batch"] = (stream_span.attrs.get("n_jobs", 0) / batches, "count")
    L["stream.output_files_per_batch"] = (len(files) / batches, "count")
    L["stream.stored_bytes_per_row"] = (stored / max(truth.valid, 1), "B/row")
    L["stream.backlog_files_max"] = (backlog_max, "count")
    L["stream.generator_lag_s"] = (max(lag), "s")
    # the stream runs untouched in both modes: its spans are rebuilt after
    # it stops, so tracing adds nothing to the freshness it measures
    L["trace.overhead_share"] = (0.0, "ratio")
    run.log("checked")
    # work: the time to ingest the whole drip, which grows only when the
    # stream falls behind its input (busy time swung 0.23 run to run)
    run.finish(fresh, makespan, stored / truth.valid)
