"""Spans around calls into the engine, with Spark jobs and stages as children.

A :class:`Tracer` keeps spans in memory and writes them out once, at the
end of a run.  Each span has a name, start and end (epoch seconds, so they
line up with the JVM's own timestamps), its parent and the run id.  When a
:class:`Tracer` is enabled, :meth:`Tracer.layer` tags the Spark jobs that a
call starts with a job group of its own; once the call returns it reads
those jobs and their stages from Spark's status tracker and status store
and attaches them as child spans.  Untraced runs pay for none of this:
``layer`` then only times the call.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Spark stage states that ran tasks; AQE reports reused stages as SKIPPED
_RAN = {"COMPLETE", "ACTIVE", "FAILED"}
# stage counters summed over a layer call's stages
_SUMMED = ("n_tasks", "run_s", "cpu_s", "input_bytes", "input_rows", "output_bytes",
           "output_rows", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (parallel stages) and may stick out of
    their parent (a job's completion event stamped after the call
    returned); only the union of their intervals, clipped to the parent,
    is subtracted.
    """
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name (layer spans and job/stage spans)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Use this session's status tracker from now on."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 id=next(self._ids), run=self.run_id, attrs=attrs)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    @contextmanager
    def layer(self, name: str, **attrs):
        """A span around one call into an engine layer.

        Traced, the call's Spark jobs run under a job group named after the
        span, and are attached with their stages once the call returns.
        """
        with self.span(name, **attrs) as s:
            group = None
            if self.enabled and self._sc is not None:
                group = f"{self.run_id}-{s.id}"
                self._sc.setJobGroup(group, name, False)
            try:
                yield s
            finally:
                if group is not None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
        if group is not None:
            self.attach_jobs(s, group)

    def attach_jobs(self, parent: Span, group: str) -> None:
        """Add the group's jobs and stages as children of ``parent`` and
        sum their counters into ``parent.attrs``."""
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        totals = dict.fromkeys(("n_jobs", "n_stages") + _SUMMED, 0)
        stages = []
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            job = Span(f"{parent.name}/job", _opt_ms(jd.submissionTime()) or parent.start,
                       _opt_ms(jd.completionTime()) or parent.end, parent.id,
                       next(self._ids), self.run_id, {"job_id": jid})
            self.spans.append(job)
            totals["n_jobs"] += 1
            ids = jd.stageIds()
            for i in range(ids.size()):
                sd = store.lastStageAttempt(ids.apply(i))
                if sd.status().toString() not in _RAN:
                    continue
                rec = {
                    "stage_id": sd.stageId(),
                    "n_tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "input_bytes": sd.inputBytes(),
                    "input_rows": sd.inputRecords(),
                    "output_bytes": sd.outputBytes(),
                    "output_rows": sd.outputRecords(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
                if rec["output_bytes"]:
                    tasks = store.taskList(sd.stageId(), sd.attemptId(), 100000)
                    rec["task_s"] = [
                        tasks.apply(k).duration().get() / 1e3
                        for k in range(tasks.size())
                        if tasks.apply(k).duration().isDefined()
                    ]
                stage = Span(f"{parent.name}/stage", _opt_ms(sd.submissionTime()) or job.start,
                             _opt_ms(sd.completionTime()) or job.end, job.id,
                             next(self._ids), self.run_id, rec)
                self.spans.append(stage)
                stages.append(rec)
                totals["n_stages"] += 1
                for k in _SUMMED:
                    totals[k] += rec[k]
        parent.attrs.update(totals)
        parent.attrs["stages"] = stages
        parent.attrs["driver_s"] = self_times(
            [parent] + [s for s in self.spans if s.parent == parent.id]
        )[parent.id]

    def write(self, path: str) -> None:
        """One JSON line per span, then one with the self time per span name."""
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
            fh.write(json.dumps({"run": self.run_id, "self_s": self_time_by_layer(self.spans)}) + "\n")
