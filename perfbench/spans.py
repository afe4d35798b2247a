"""Outside-in tracing: spans around calls into the engine's layers, and
a roll-up of Spark's event log into per-span counters.

Nothing here edits the engine. ``Tracer.wrap`` swaps a module or class
attribute for a timing wrapper and ``Tracer.close`` puts it back. Every
span sets ``spark.jobGroup.id`` to its own id while it is open and
restores the previous value on exit, so each Spark job in the event log
names the innermost span that submitted it. Jobs without a span id (the
engine's helper threads do not inherit the property) land in the
``untagged`` bucket, so totals still reconcile.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
PREFIX = "perfbench-span-"
UNTAGGED = "untagged"


def _now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every method a
    pass-through so the untraced run pays nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        #: seconds spent opening and closing spans (two py4j calls each)
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, _now_ms())
        self.spans.append(sp)
        self._stack.append(sp.id)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"{PREFIX}{sp.id}")
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = _now_ms()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or method) with a wrapper
        that runs it inside ``span(name)``."""
        if not self.enabled:
            return
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def close(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def calls(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def mean_ms(self, name: str) -> float:
        spans = self.calls(name)
        return sum(s.end - s.start for s in spans) / len(spans) if spans else 0.0

    def uncovered_ms(self, op: Span) -> float:
        """Wall time of ``op`` that none of its direct children covers."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == op.id]
        return (op.end - op.start) - _union_ms(kids, op.start, op.end)


def _union_ms(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: Per-task counters summed into each span's bucket. Python-runner
#: entries are SQL metrics, summed from the task accumulable updates.
COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
    "scheduler_delay_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_records", "output_bytes", "python_bytes_sent",
    "python_bytes_returned", "python_run_ms",
)
_PY_ACCUMS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_run_ms",
}


@dataclass
class Rollup:
    """Event-log counters keyed by span name (innermost span) plus
    ``untagged``; ``job_spans`` maps each job to its span id (or None)
    and ``job_times`` to its (submit, complete) epoch ms."""

    by_name: dict[str, dict[str, float]] = field(
        default_factory=lambda: defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    )
    job_spans: dict[int, int | None] = field(default_factory=dict)
    job_times: dict[int, tuple[float, float]] = field(default_factory=dict)

    def total(self, counter: str) -> float:
        return sum(v[counter] for v in self.by_name.values())

    def driver_only_ms(self, tracer: Tracer, op) -> float:
        """Wall time of ``op`` during which none of the jobs submitted
        from it (or its descendants) was running."""
        inside = _descendants(tracer, op.id)
        jobs = [
            self.job_times[j] for j, s in self.job_spans.items()
            if s in inside and j in self.job_times
        ]
        return (op.end - op.start) - _union_ms(jobs, op.start, op.end)


def _descendants(tracer: Tracer, root: int) -> set[int]:
    out = {root}
    for s in tracer.spans:  # spans are created parent-first
        if s.parent in out:
            out.add(s.id)
    return out


def rollup(log_dir: str, tracer: Tracer, since_ms: float) -> Rollup:
    """Parse the single plain JSON-lines event log in ``log_dir``,
    keeping the jobs submitted at or after ``since_ms``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    names = {s.id: s.name for s in tracer.spans}
    r = Rollup()
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}

    def bucket_of_job(job: int) -> dict[str, float]:
        sid = r.job_spans.get(job)
        return r.by_name[names.get(sid, UNTAGGED)]

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if ev["Submission Time"] < since_ms:
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, None)
                    continue
                job = ev["Job ID"]
                group = (ev.get("Properties") or {}).get(GROUP) or ""
                sid = int(group[len(PREFIX):]) if group.startswith(PREFIX) else None
                r.job_spans[job] = sid
                r.job_times[job] = (ev["Submission Time"], ev["Submission Time"])
                bucket_of_job(job)["jobs"] += 1
                for st in ev["Stage IDs"]:
                    stage_job.setdefault(st, job)
            elif kind == "SparkListenerJobEnd":
                job = ev["Job ID"]
                if job in r.job_times:
                    r.job_times[job] = (r.job_times[job][0], ev["Completion Time"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                job = stage_job[info["Stage ID"]]
                if job is not None:
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                    bucket_of_job(job)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job[ev["Stage ID"]]
                if job is not None:
                    _add_task(bucket_of_job(job), ev, stage_submit.get(ev["Stage ID"]))
    return r


def _add_task(b: dict[str, float], ev: dict, stage_submit: float | None) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    b["tasks"] += 1
    if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
        b["failed_tasks"] += 1
    b["executor_run_ms"] += m.get("Executor Run Time", 0)
    if stage_submit:
        # time the task waited for a slot after its stage was submitted
        b["scheduler_delay_ms"] += max(0, info["Launch Time"] - stage_submit)
    b["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics", {})
    b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0)
    b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    b["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    b["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            b[key] += float(acc.get("Update", 0) or 0)
