"""Spans around calls into the program's layers, and the Spark event log
that attributes task-level cost to them.

A span records (name, start, end, parent) and runs its calls under a Spark
job group of its own, so the event log (enabled only in the traced run)
tells which tasks, task time, GC, shuffle, spill and fetch-wait time each
span's jobs cost. Spans stay in memory and are printed when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


_SUMMED = ("stages", "tasks", "task_s", "gc_s", "spill_mb",
           "shuffle_write_mb", "fetch_wait_s", "input_rows")


@dataclass
class GroupCost:
    """Task-level cost of every job run under one job group."""

    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    fetch_wait_s: float = 0.0
    input_rows: int = 0
    # stage id -> (task durations in s, reads shuffle)
    stage_tasks: dict[int, tuple[list[float], bool]] = field(default_factory=dict)

    def add(self, other: "GroupCost") -> "GroupCost":
        out = GroupCost(stage_tasks={**self.stage_tasks, **other.stage_tasks})
        for k in _SUMMED:
            setattr(out, k, getattr(self, k) + getattr(other, k))
        return out

    def scaled(self, f: float) -> "GroupCost":
        out = GroupCost(stage_tasks=self.stage_tasks)
        for k in _SUMMED:
            setattr(out, k, getattr(self, k) * f)
        return out

    def busiest_stage(self) -> list[float]:
        """Task durations of the stage with the most task time."""
        if not self.stage_tasks:
            return []
        return max(self.stage_tasks.values(), key=lambda v: sum(v[0]))[0]

    def post_exchange_task_skew(self) -> float:
        """max / median task time over the stages that read a shuffle."""
        durs = [d for ts, reads in self.stage_tasks.values() if reads for d in ts]
        if not durs or statistics.median(durs) <= 0:
            return 0.0
        return max(durs) / statistics.median(durs)


class Tracer:
    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent.name if parent else None,
                  group=f"{self.tag}:{len(self.spans)}:{name}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, f"perfbench {name}")
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"perfbench {parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        """Median duration of the spans called ``name`` (0 if none)."""
        xs = [s.seconds for s in self.spans if s.name == name]
        return statistics.median(xs) if xs else 0.0

    def jobs_in(self, name: str) -> int:
        """Jobs the status tracker saw under the spans called ``name``."""
        st = self.sc.statusTracker()
        return sum(
            len(st.getJobIdsForGroup(s.group)) for s in self.spans if s.name == name
        )

    def stages_in(self, name: str) -> int:
        st = self.sc.statusTracker()
        stages = set()
        for s in self.spans:
            if s.name == name:
                for j in st.getJobIdsForGroup(s.group):
                    info = st.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
        return len(stages)

    def as_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"name": s.name, "parent": s.parent, "start": round(s.start - t0, 6),
             "end": round(s.end - t0, 6), "group": s.group}
            for s in self.spans
        ]


def read_event_log(log_dir: str) -> dict[str, GroupCost]:
    """Per-job-group task cost from the (uncompressed) event log files."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    costs: dict[str, GroupCost] = {}
    stage_seen: dict[str, set] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        costs.setdefault(group, GroupCost())
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = job_group.get(stage_job.get(sid, -1))
                    if group is None:
                        continue
                    _add_task(costs[group], stage_seen.setdefault(group, set()),
                              sid, ev)
    return costs


def _add_task(c: GroupCost, seen: set, sid: int, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    if sid not in seen:
        seen.add(sid)
        c.stages += 1
    c.tasks += 1
    c.task_s += m.get("Executor Run Time", 0) / 1e3
    c.gc_s += m.get("JVM GC Time", 0) / 1e3
    c.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
    c.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    c.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
    reads = (sr.get("Remote Blocks Fetched", 0) + sr.get("Local Blocks Fetched", 0)) > 0
    dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    durs, r = c.stage_tasks.get(sid, ([], False))
    durs.append(dur)
    c.stage_tasks[sid] = (durs, r or reads)


def cost_of(costs: dict[str, GroupCost], tracer: Tracer, name: str) -> GroupCost:
    """Cost of the spans called ``name`` (children excluded); the mean
    over the spans when a layer was run more than once."""
    spans = [s for s in tracer.spans if s.name == name]
    out = GroupCost()
    for s in spans:
        out = out.add(costs.get(s.group, GroupCost()))
    return out.scaled(1 / len(spans)) if len(spans) > 1 else out


def cache_state(spark) -> tuple[float, int]:
    """(MB, entries) of the cached RDDs the session holds right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return mb, len(infos)


def plan_nodes(df):
    """Every node of ``df``'s executed physical plan (through AQE stages)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def join_output_rows(df) -> int:
    """Rows out of the join nodes of ``df``'s executed plan: the pairs a
    similarity join computed a score for."""
    total = 0
    for node in plan_nodes(df):
        if node.getClass().getSimpleName().endswith("JoinExec"):
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                total += int(m.get().value())
    return total


def plan_has(df, simple_name: str) -> bool:
    return any(
        n.getClass().getSimpleName() == simple_name for n in plan_nodes(df)
    )
