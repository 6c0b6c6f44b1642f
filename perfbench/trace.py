"""Span recording and an outside-in Spark event-log reader.

Spans are recorded from the benchmark's side of each call into the engine
(nothing inside ``cdc_tools_spark`` is edited): a :class:`Tracer` keeps
them in memory, and when it is bound to a SparkContext it also makes each
span's id the Spark job group of every job launched while that span is the
innermost one open. After the run, :func:`fold_event_log` reads the
session's uncompressed event log and sums jobs, tasks, executor time,
shuffle, spill and I/O per job group, so every span gets the cluster-side
cost of exactly the jobs it launched.

The untraced benchmark runs use the same span tree with no SparkContext
bound: timestamps only, no job groups and no event log.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

JOB_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span tree; ``sc`` (optional) tags jobs with span ids."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        s = Span(
            f"pb-{len(self.spans)}", name,
            parent.id if parent else None, time.time(), attrs=attrs,
        )
        self.spans.append(s)
        self._open.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self._tag(parent)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty(JOB_GROUP_KEY, None)
        else:
            self.sc.setJobGroup(s.id, s.name, False)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> set[str]:
        """Ids of ``s`` and every span opened inside it."""
        ids = {s.id}
        for c in self.spans:  # a child is recorded after its parent
            if c.parent in ids:
                ids.add(c.id)
        return ids

    def self_time(self, s: Span) -> float:
        """Wall time of ``s`` minus the part its child spans cover."""
        return s.wall - union_length(
            [(c.start, c.end) for c in self.children(s)], s.start, s.end
        )


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class GroupCost:
    """Cluster-side cost of the jobs one job group launched."""

    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) s
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: GroupCost) -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.executor_run_s += other.executor_run_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.spill_bytes += other.spill_bytes
        self.input_bytes += other.input_bytes
        self.output_bytes += other.output_bytes


def fold_event_log(path: str) -> dict[str, GroupCost]:
    """Sum a Spark event log (JSON lines, uncompressed) per job group.

    Jobs are attributed through ``JobStart`` properties and tasks through
    the properties of the stage they ran in, so a stage shared by several
    jobs is charged once, to the job group that actually ran it. Jobs and
    tasks with no job group are filed under ``""``."""
    groups: dict[str, GroupCost] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def cost(g: str | None) -> GroupCost:
        return groups.setdefault(g or "", GroupCost())

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get(JOB_GROUP_KEY) or ""
                job_submit[jid] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_submit:
                    cost(job_group[jid]).jobs.append(
                        (job_submit[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get(JOB_GROUP_KEY) or ""
            elif kind == "SparkListenerTaskEnd":
                c = cost(stage_group.get(ev["Stage ID"]))
                c.tasks += 1
                m = ev.get("Task Metrics") or {}
                c.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                c.spill_bytes += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return groups


@dataclass
class LayerCost:
    """Spans of one name, with the cluster cost of their jobs summed."""

    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    job_s: float = 0.0  # union of the spans' job intervals
    cost: GroupCost = field(default_factory=GroupCost)

    @property
    def driver_gap_s(self) -> float:
        """Span time with none of the span's own jobs running."""
        return self.wall_s - self.job_s


def layer_table(tracer: Tracer, groups: dict[str, GroupCost]) -> dict[str, LayerCost]:
    """Fold the tracer's spans by name into per-layer costs."""
    out: dict[str, LayerCost] = {}
    for s in tracer.spans:
        layer = out.setdefault(s.name, LayerCost())
        g = groups.get(s.id, GroupCost())
        layer.calls += 1
        layer.wall_s += s.wall
        layer.self_s += tracer.self_time(s)
        layer.job_s += union_length(g.jobs, s.start, s.end)
        layer.cost.add(g)
    return out
