"""Spans recorded around calls into the package's layers, and the
engine accounting attributed to them.

A span carries a name (``<layer>.<step>``), start, end, parent and op
id. Spans are kept in memory and written out when the run ends. Each
span sets a Spark job group named after its id, so every job Spark's
event log records can be attributed to the innermost span that
launched it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "session",
    "sources",
    "plans",
    "operators",
    "timeseries",
    "sinks",
    "caching",
    "spark",
)

GROUP_PREFIX = "perfbench-span-"

# PythonSQLMetrics names (Spark 4.1) -> per-layer metric. "time to
# start Python workers" is left out: workers start during warm-up and
# are reused, so a pass after it always reads 0.
PYTHON_SQL_METRICS = {
    "time to initialize Python workers": "spark.python_init_ms",
    "time to run Python workers": "spark.python_run_ms",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
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
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder for one driver thread."""

    def __init__(self):
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class NoTracer:
    """Tracing off: spans cost one context-manager entry."""

    def bind(self, spark) -> None:
        pass

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        yield None


@dataclass
class EngineStats:
    """Event-log accounting for the jobs of a set of job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    task_queue_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_ms: dict = field(default_factory=lambda: dict.fromkeys(PYTHON_SQL_METRICS.values(), 0))

    def metrics(self) -> dict[str, float]:
        out = {
            f"spark.{k}": v
            for k, v in self.__dict__.items()
            if k != "python_ms"
        }
        out.update(self.python_ms)
        return out


class EventLog:
    """Parsed Spark event log (uncompressed, not rolled)."""

    def __init__(self, log_dir: str):
        files = [
            p
            for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p)
        ]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_submit: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.python_acc: dict[int, str] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan_metrics(self, info: dict) -> None:
        for m in info.get("metrics", ()):
            name = PYTHON_SQL_METRICS.get(m.get("name"))
            if name:
                self.python_acc[m["accumulatorId"]] = name
        for child in info.get("children", ()):
            self._plan_metrics(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            self.job_group[jid] = props.get("spark.jobGroup.id")
            self.job_stages[jid] = list(e.get("Stage IDs", ()))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            self.stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(e)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            self._plan_metrics(e.get("sparkPlanInfo") or {})

    def stats(self, groups: set[str] | None = None) -> EngineStats:
        """Accounting over the jobs whose group is in ``groups`` (all
        jobs when None)."""
        jobs = [
            j
            for j, g in self.job_group.items()
            if groups is None or g in groups
        ]
        st = EngineStats(jobs=len(jobs))
        stage_ids = {s for j in jobs for s in self.job_stages[j]}
        ran = set()
        for e in self.tasks:
            sid = e["Stage ID"]
            if sid not in stage_ids:
                continue
            ran.add(sid)
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            st.tasks_failed += bool(info.get("Failed"))
            st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            submit = self.stage_submit.get(sid)
            if submit and info.get("Launch Time"):
                st.task_queue_s += max(info["Launch Time"] - submit, 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in info.get("Accumulables", ()):
                name = self.python_acc.get(acc.get("ID"))
                if name and acc.get("Update") is not None:
                    st.python_ms[name] += int(acc["Update"])
        # skipped stages (reused shuffle output) ran no tasks
        st.stages = len(ran)
        return st

    def groups_jobs(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for g in self.job_group.values():
            if g:
                out[g] += 1
        return out


def span_group(span: Span) -> str:
    return f"{GROUP_PREFIX}{span.id}"


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out, stack = [], [root]
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids[s.id])
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer over ``spans`` (spans of other layers are
    not credited to it)."""
    st = self_times(spans)
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        if s.layer in out:
            out[s.layer] += st[s.id]
    return out
