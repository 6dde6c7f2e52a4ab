"""Spans around the benchmark's calls into each layer, and the Spark event
log parsed back onto those spans.

Every call the benchmark makes into a library layer runs inside a span
(name, start, end, parent, iteration). Spans are kept in memory and written
out once, when the run ends. In a traced run each span also becomes the
Spark job group of the jobs it starts, so the event log attributes every
stage, and its task metrics, to the span that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    iteration: int
    parent: int | None
    start: float          # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``spark`` set, each span is also the job group of
    the Spark jobs started inside it (traced runs only)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, iteration: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, iteration,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(str(s.id), s.name)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {s.id: s.wall - covered([(c.start, c.end)
                                        for c in kids.get(s.id, [])])
                for s in self.spans}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Stage:
    id: int
    span: int | None
    submitted: float = 0.0   # epoch seconds
    completed: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: list = field(default_factory=list)    # per successful task
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill_bytes: int = 0
    sql: dict = field(default_factory=dict)      # SQL metric name -> sum

    @property
    def task_run_s(self) -> float:
        return sum(self.run_s)


def _span_of(props: dict | None) -> int | None:
    g = (props or {}).get("spark.jobGroup.id")
    return int(g) if g is not None and g.isdigit() else None


def read_event_log(log_dir: str) -> tuple[list[Stage], list[int | None]]:
    """(completed stages, span of each job) of every event log under
    ``log_dir`` (plain or rolling)."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith(
                       (".", "appstatus")))
    stages: dict[int, Stage] = {}
    jobs: list[int | None] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(_span_of(ev.get("Properties")))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(
                        info["Stage ID"],
                        Stage(info["Stage ID"], _span_of(ev.get("Properties"))))
                    st.submitted = info.get("Submission Time", 0) / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.get(info["Stage ID"])
                    if st is not None:
                        st.completed = info.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev["Stage ID"])
                    if st is None:
                        continue
                    _add_task(st, ev)
    return [s for s in stages.values() if s.completed], jobs


def _add_task(st: Stage, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        st.failed_tasks += 1
        return
    st.run_s.append(m.get("Executor Run Time", 0) / 1e3)
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0)
    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name in SQL_METRICS:
            try:
                st.sql[name] = st.sql.get(name, 0) + int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass


#: SQL task metrics the per-layer report reads (all in ms)
SQL_METRICS = {"scan time", "task commit time", "time to run Python workers"}
