"""Spans for the traced run, recorded from the benchmark's side.

``layers.install`` uses ``Tracer.wrap`` and ``Tracer.patch`` to rebind the
functions the crawler calls - in the crawler's (and the seen set's) module
namespace, and the engine / seen-set methods on their classes - with
wrappers that record a span each. No package file is edited;
``Tracer.uninstall`` restores the originals.

Spark is lazy, so a wrapper that gets DataFrames back checkpoints and
counts them inside its span: the span then holds that layer's own work (the
untraced engine would run it later, inside some downstream action). Table
reads are the exception: a materialized read of a table that is later
appended to or rewritten would serve stale rows, so ``read_table`` spans
cover only the eager part of a read (listing and schema inference).

Spark jobs, stages, tasks and shuffle bytes come from the event log and are
attributed to spans by job submission time (``attribute_jobs``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds (comparable with event-log times)
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by its
    child spans (children may overlap each other, e.g. parallel writes)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start)
        - covered(s.start, s.end, [(c.start, c.end) for c in children.get(s.id, [])])
        for s in spans
    }


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Records spans in memory; one per traced crawl run (``run_id``)."""

    def __init__(self, run_id: str = "run"):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        # a worker thread's first span hangs under the main thread's open
        # span (the checkpoint's parallel table writes)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, time.time(), 0.0, parent, self.run_id)
            self.spans.append(s)
        stack.append(s.id)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    # -- wrappers ------------------------------------------------------------

    def _materialize(self, out, s: Span):
        """Compute every DataFrame in ``out`` (a frame or a tuple) inside the
        span and hand back the materialized copies. A local checkpoint,
        not ``persist``: the engine already caches a spine of nested plans,
        and more cached plans make Catalyst's cache lookups grow until
        planning, not execution, dominates; a checkpoint also truncates
        the plan the next layer builds on."""
        frames = out if isinstance(out, tuple) else (out,)
        done, rows = [], []
        for df in frames:
            if isinstance(df, DataFrame):
                df = df.localCheckpoint(eager=True)
                rows.append(df.count())
            done.append(df)
        if rows:
            s.counts["rows"] = rows
        return tuple(done) if isinstance(out, tuple) else done[0]

    def wrap(self, fn, name: str, materialize: bool = True, after=None):
        """``fn`` wrapped in a span named ``name``. ``after(span, args,
        result)`` runs inside a child span ``trace:bookkeeping`` so the
        counting it does is excluded from the layer's self time."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if materialize:
                    out = self._materialize(out, s)
                if after is not None:
                    with self.span("trace:bookkeeping"):
                        after(s, args, out)
                return out

        return wrapper

    def patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._restore):
            setattr(owner, attr, old)
        self._restore.clear()

    # -- output ----------------------------------------------------------------

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": st[s.id]}) + "\n")


# -- event log ------------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]
    span: int | None = None


@dataclass
class EventLog:
    jobs: list[Job]
    stage_tasks: dict[int, int]
    task_s: dict[int, list[float]]  # stage -> task durations
    shuffle_write: dict[int, int]
    shuffle_read: dict[int, int]
    spill: dict[int, int]


_WANTED = tuple(
    '{"Event":"SparkListener%s"' % k for k in ("JobStart", "JobEnd", "StageCompleted", "TaskEnd")
)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the uncompressed Spark event log(s) under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_tasks, task_s = {}, {}
    sw, sr, sp = {}, {}, {}
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                # SQL execution events carry whole plans: skip them unparsed
                if not line.startswith(_WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], e["Submission Time"] / 1000, 0.0, list(e["Stage IDs"])
                    )
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stage_tasks[si["Stage ID"]] = si["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    sid, ti = e["Stage ID"], e["Task Info"]
                    m = e.get("Task Metrics") or {}
                    task_s.setdefault(sid, []).append((ti["Finish Time"] - ti["Launch Time"]) / 1000)
                    w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    sw[sid] = sw.get(sid, 0) + w
                    sr[sid] = sr.get(sid, 0) + r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    sp[sid] = sp.get(sid, 0) + m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    # stages listed by a job but skipped (their output reused) never complete
    for j in jobs.values():
        j.stages = [s for s in j.stages if s in stage_tasks]
    return EventLog(sorted(jobs.values(), key=lambda j: j.id), stage_tasks, task_s, sw, sr, sp)


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> None:
    """Set each job's span: the deepest span open at its submission time
    (the latest-started one among equally deep spans)."""
    depth: dict[int, int] = {}
    for s in spans:  # parents are created before children
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    for j in jobs:
        open_ = [s for s in spans if s.start <= j.submit <= s.end]
        if open_:
            j.span = max(open_, key=lambda s: (depth[s.id], s.start)).id


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
