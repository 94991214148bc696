"""Spans and boundary counters for the traced run.

A span is opened around each call the benchmark makes into an engine
module, and around the module calls nested inside one operation. Each
holds its name, layer, start, end and parent, plus the counters taken
at the same place:

- py4j round trips, by wrapping the gateway client's ``send_command``
  in this process; a call under 5 ms is chatter, the rest blocking;
- Spark jobs and stages, by the scheduler's job-id and stage-id
  counters (job groups miss the jobs a stream starts on its own
  thread); tasks and task run time from the status store, read once at
  the end;
- Python driver CPU (``time.process_time``).

Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

CHATTER_S = 0.005


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0  # self: calls made while this was the innermost span
    chatter_s: float = 0.0
    blocking_s: float = 0.0
    cpu0: float = 0.0
    cpu_s: float = 0.0  # inclusive
    job0: int = 0
    job1: int = 0
    stage0: int = 0
    stage1: int = 0
    children: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover.

    Children of one span never overlap (calls are sequential), so the
    covered part is the sum of the children's durations clipped to the
    parent's interval."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        covered = 0.0
        for cid in s.children:
            c = by_id[cid]
            covered += max(0.0, min(c.end, s.end) - max(c.start, s.start))
        out[s.id] = s.wall - covered
    return out


def _self_range(s: Span, by_id, lo_attr, hi_attr) -> set[int]:
    ids = set(range(getattr(s, lo_attr), getattr(s, hi_attr)))
    for cid in s.children:
        c = by_id[cid]
        ids -= set(range(getattr(c, lo_attr), getattr(c, hi_attr)))
    return ids


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._internal = False
        self.outside = {"py4j_calls": 0, "chatter_s": 0.0, "blocking_s": 0.0}
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

    def install(self) -> None:
        """Start counting py4j calls (wraps ``send_command``)."""
        self._client.send_command = self._send_command

    def uninstall(self) -> None:
        self._client.send_command = self._orig

    def _send_command(self, *args, **kwargs):
        if self._internal:
            return self._orig(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return self._orig(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            tgt = self._stack[-1] if self._stack else None
            if tgt is None:
                self.outside["py4j_calls"] += 1
                key = "chatter_s" if dt < CHATTER_S else "blocking_s"
                self.outside[key] += dt
            else:
                tgt.py4j_calls += 1
                if dt < CHATTER_S:
                    tgt.chatter_s += dt
                else:
                    tgt.blocking_s += dt

    def _counters(self) -> tuple[int, int]:
        self._internal = True
        try:
            return int(self._dag.nextJobId()), int(self._dag.nextStageId())
        finally:
            self._internal = False

    def open(self, name: str, layer: str) -> Span:
        job, stage = self._counters()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            cpu0=time.process_time(),
            job0=job,
            stage0=stage,
        )
        if parent:
            parent.children.append(s.id)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        s.cpu_s = time.process_time() - s.cpu0
        popped = self._stack.pop()
        assert popped is s, "spans must close in order"
        s.job1, s.stage1 = self._counters()

    def span(self, name: str, layer: str) -> "_SpanCtx":
        """Context-manager form of open/close for nested module calls."""
        return _SpanCtx(self, name, layer)

    def stage_details(self) -> dict[int, tuple[int, float]]:
        """Stage id -> (tasks, task run seconds) for stages that ran."""
        lo = min((s.stage0 for s in self.spans), default=0)
        hi = max((s.stage1 for s in self.spans), default=0)
        out = {}
        self._internal = True
        try:
            for sid in range(lo, hi):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out[sid] = (int(sd.numTasks()), int(sd.executorRunTime()) / 1000.0)
        finally:
            self._internal = False
        return out

    def summary(self) -> dict:
        """Self-attributed totals per layer and per span name."""
        by_id = {s.id: s for s in self.spans}
        selft = self_times(self.spans)
        stages = self.stage_details()
        per_layer = defaultdict(lambda: defaultdict(float))
        per_name = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            st = _self_range(s, by_id, "stage0", "stage1")
            ran = [sid for sid in st if sid in stages]
            child_jobs = sum(by_id[c].job1 - by_id[c].job0 for c in s.children)
            child_cpu = sum(by_id[c].cpu_s for c in s.children)
            vals = {
                "self_s": selft[s.id],
                "py4j_calls": s.py4j_calls,
                "chatter_s": s.chatter_s,
                "blocking_s": s.blocking_s,
                "jobs": (s.job1 - s.job0) - child_jobs,
                "stages": len(ran),
                "tasks": sum(stages[i][0] for i in ran),
                "task_run_s": sum(stages[i][1] for i in ran),
                "cpu_s": s.cpu_s - child_cpu,
            }
            for k, v in vals.items():
                per_layer[s.layer][k] += v
                per_name[s.name][k] += v
            per_layer[s.layer]["spans"] += 1
            per_name[s.name]["spans"] += 1
            if s.parent is None:
                per_name[s.name]["wall_s"] += s.wall
        return {
            "per_layer": {k: dict(v) for k, v in per_layer.items()},
            "per_name": {k: dict(v) for k, v in per_name.items()},
        }

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {k: v for k, v in asdict(s).items() if k != "cpu0"}
                    for s in self.spans
                ],
                f,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.s = self.tracer.open(self.name, self.layer)
        return self.s

    def __exit__(self, *exc):
        self.tracer.close(self.s)
        return False

