"""Spans recorded around calls into the engine, and the fold of Spark's
event log into them.

A span has a name, a start, an end and a parent. Spans stay in memory
and are written out once, when the traced run ends. Jobs are
attributed to the innermost span open when the job was submitted (by
time, not by job group: ``run_crawl``'s tail-job threads do not carry
the job-group property), and tasks follow their stage's job.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1 << 20


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class SpanStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_mb: float = 0.0
    #: (launch, finish) epoch seconds of every task
    task_windows: list = field(default_factory=list)
    #: executor run seconds per stage id
    stage_task_s: dict = field(default_factory=dict)

    def add(self, other: "SpanStats") -> None:
        for k in (
            "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "python_mb",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_windows += other.task_windows
        for st, ts in other.stage_task_s.items():
            self.stage_task_s.setdefault(st, []).extend(ts)


#: SQL metrics of the Arrow/Python exchange (MapInPandas, ArrowEvalPython)
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _events(log_dir: str):
    """Events of the single application logged under ``log_dir``, in
    order (Spark 4 writes an ``eventlog_v2_*`` directory of rolled,
    uncompressed ``events_<n>_*`` files)."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if not apps:
        raise FileNotFoundError(f"no event log under {log_dir}")
    files = glob.glob(os.path.join(apps[-1], "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for p in files:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def fold_event_log(log_dir: str, tracer: Tracer) -> dict[int, SpanStats]:
    """Per-span self statistics: each job goes to the innermost span
    open at its submission time; its stages and tasks follow it."""
    spans = sorted(tracer.spans, key=lambda s: s.start)

    def owner(t: float) -> int | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return None if best is None else best.id

    stage_owner: dict[int, int | None] = {}
    stats: dict[int, SpanStats] = {}

    def of(sid):
        return stats.setdefault(sid, SpanStats())

    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = owner(ev["Submission Time"] / 1000.0)
            of(sid).jobs += 1
            for st in ev.get("Stage IDs", []):
                stage_owner[st] = sid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Completion Time" in info:
                of(stage_owner.get(info["Stage ID"])).stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_owner.get(ev["Stage ID"])
            s = of(sid)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            s.tasks += 1
            s.task_windows.append(
                (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
            )
            run = m.get("Executor Run Time", 0) / 1000.0
            s.run_s += run
            s.stage_task_s.setdefault(ev["Stage ID"], []).append(run)
            s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_mb += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            wr = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / MB
            s.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PYTHON_METRICS:
                    s.python_mb += float(acc.get("Update", 0) or 0) / MB
    return stats


def subtree(tracer: Tracer, stats: dict[int, SpanStats], root: Span) -> SpanStats:
    """Statistics of ``root`` and every span below it."""
    out = SpanStats()
    todo = [root]
    while todo:
        s = todo.pop()
        if s.id in stats:
            out.add(stats[s.id])
        todo.extend(tracer.children(s))
    return out


def idle_share(windows: list, start: float, end: float) -> float:
    """Share of [start, end] during which no task was running."""
    iv = sorted(
        (max(a, start), min(b, end)) for a, b in windows if b > start and a < end
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    span = end - start
    return max(0.0, 1.0 - busy / span) if span > 0 else 0.0


def heaviest_stage_skew(stage_task_s: dict) -> float:
    """max / median task time of the stage with the most task time
    (1.0 = perfectly even, 0.0 when no stage ran)."""
    import statistics

    if not stage_task_s:
        return 0.0
    ts = max(stage_task_s.values(), key=sum)
    med = statistics.median(ts)
    return max(ts) / med if med > 0 else 1.0
