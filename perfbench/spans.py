"""Spans around the benchmark's calls into the engine, and the Spark
event-log reader that attributes jobs, stages and tasks to them.

A span is (id, name, start, end, parent, op).  Spans live in memory
and are written out once, after the run.  Entering a span sets the
Spark job group to ``bench:<span id>``, so every job the call launches
carries the span in its ``spark.jobGroup.id`` property and the event
log can be joined back to the span tree.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "bench:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost one clock read and tag nothing."""

    enabled = False
    op: int | None = None
    spans: list[Span] = []

    def attach(self, spark) -> None:
        pass

    @contextmanager
    def span(self, name, op=None):
        s = Span(-1, name, time.perf_counter())
        try:
            yield s
        finally:
            s.end = time.perf_counter()


class Tracer:
    """Records spans and tags the Spark jobs inside each with its id."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = None if spark is None else spark.sparkContext

    def _tag(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span is None else f"{GROUP_PREFIX}{span.id}",
            )

    @contextmanager
    def span(self, name, op=None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            parent=None if parent is None else parent.id,
            op=self.op if op is None else op,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- self time --------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration
        - union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        )
        for s in spans
    }


# --- Spark event log ----------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
# SQL metric types whose values are times, and their unit in seconds
_TIME_UNIT = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0


class EventLog:
    """One application's Spark event log (JSON lines, Spark 4.1 field
    names), indexed by job group: jobs, the stages that actually ran,
    per-task metrics, and SQL plan metrics (task and driver updates,
    named by their plan node)."""

    def __init__(self, path: str):
        self.jobs: list[Job] = []
        self.stage_group: dict[int, str | None] = {}
        self.stage_exec: dict[int, int | None] = {}
        self.tasks: list[dict] = []
        self.acc_name: dict[int, tuple[str, str, str]] = {}
        self.plans: dict[int, dict] = {}  # execution id -> final plan
        self.driver_acc: dict[int, list[tuple[int, float]]] = {}
        jobs: dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    props = ev.get("Properties") or {}
                    self.stage_group[sid] = props.get("spark.jobGroup.id")
                    ex = props.get("spark.sql.execution.id")
                    self.stage_exec[sid] = None if ex is None else int(ex)
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(self._task(ev))
                elif kind in (
                    _SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    self._plan_metrics(ev["sparkPlanInfo"])
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev.get("sqlPlanMetrics", ()):
                        self.acc_name.setdefault(
                            m["accumulatorId"], ("?", m["name"], m["metricType"])
                        )
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    self.driver_acc.setdefault(ev["executionId"], []).extend(
                        (int(a), float(v)) for a, v in ev["accumUpdates"]
                    )
        self.jobs = sorted(jobs.values(), key=lambda j: j.id)

    @staticmethod
    def _task(ev) -> dict:
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        accs = []
        for a in info.get("Accumulables", ()):
            try:
                accs.append((int(a["ID"]), float(a["Update"])))
            except (KeyError, TypeError, ValueError):
                pass
        return {
            "stage": ev["Stage ID"],
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "shuffle_write_b": (sw.get("Shuffle Bytes Written", 0)),
            "accs": accs,
        }

    def _plan_metrics(self, node) -> None:
        for m in node.get("metrics", ()):
            self.acc_name[m["accumulatorId"]] = (
                node["nodeName"], m["name"], m["metricType"]
            )
        for child in node.get("children", ()):
            self._plan_metrics(child)

    def select(self, groups: set[str]) -> "Slice":
        return Slice(self, groups)


class Slice:
    """The part of an event log whose jobs and stages carry one of
    ``groups`` as their job group."""

    def __init__(self, log: EventLog, groups: set[str]):
        self.jobs = [j for j in log.jobs if j.group in groups]
        stages = {s for s, g in log.stage_group.items() if g in groups}
        self.stages = stages
        self.tasks = [t for t in log.tasks if t["stage"] in stages]
        self._log = log
        self._execs = {log.stage_exec[s] for s in stages} - {None}
        self._driver = [
            u for e in self._execs for u in log.driver_acc.get(e, ())
        ]

    def total(self, key: str) -> float:
        return sum(t[key] for t in self.tasks)

    def sql(self, metric: str, node: str | None = None) -> float:
        """Sum of a SQL metric over the slice, in seconds for times;
        ``node`` restricts it to plan nodes whose name contains it."""
        out = 0.0
        updates = [u for t in self.tasks for u in t["accs"]] + self._driver
        for acc, v in updates:
            name = self._log.acc_name.get(acc)
            if name is None or name[1] != metric:
                continue
            if node is not None and node not in name[0]:
                continue
            out += v * _TIME_UNIT.get(name[2], 1.0)
        return out

    def rows_into(self, names: tuple[str, ...]) -> float:
        """Rows fed into the lowest plan node named in ``names``: the
        output rows of its nearest descendant that counts them."""
        ids = set()
        for e in self._execs:
            best, todo = None, [(self._log.plans.get(e), 0)]
            while todo:
                node, depth = todo.pop()
                if node is None:
                    continue
                if node["nodeName"] in names and (best is None or depth > best[1]):
                    best = (node, depth)
                todo.extend((c, depth + 1) for c in node.get("children", ()))
            node = best[0]["children"][0] if best and best[0]["children"] else None
            while node is not None:
                acc = [m["accumulatorId"] for m in node.get("metrics", ())
                       if m["name"] == "number of output rows"]
                if acc:
                    ids.add(acc[0])
                    break
                node = node["children"][0] if node.get("children") else None
        return sum(v for t in self.tasks for a, v in t["accs"] if a in ids)

    def stage_task_skew(self) -> float:
        """max/median task run time of the stage with the most tasks
        (1.0 when it has one task)."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        if not by_stage:
            return 0.0
        runs = sorted(max(by_stage.values(), key=len))
        med = runs[len(runs) // 2] if len(runs) % 2 else (
            runs[len(runs) // 2 - 1] + runs[len(runs) // 2]) / 2
        return runs[-1] / med if med > 0 else 1.0

    def job_union_s(self, lo: float, hi: float) -> float:
        return union_length(
            (max(j.start, lo), min(j.end, hi)) for j in self.jobs if j.end > lo
        )


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
