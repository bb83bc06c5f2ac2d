"""Spans around the package's public functions, measured from outside.

A ``Tracer`` records one span per wrapped call (name, start, end, parent, op
id), counts py4j round trips against the innermost open span, and tags each
span's Spark jobs with a job group so that stage metrics can be read back
from the status store after the op. Nothing is wrapped unless ``install`` is
called, and ``uninstall`` puts every original back.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = {
    # StageData getter -> metric key (times in ms, cpu in ns)
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "outputBytes": "output_bytes",
    "numTasks": "tasks",
}


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0  # round trips made while this was the innermost span
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    metrics: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, object] = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


def count_exchanges(df) -> int:
    """Exchange nodes in ``df``'s executed plan (the final plan once AQE has
    run; the whole physical plan otherwise)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(re.findall(r"(?:^|[-+:] )(?:Broadcast)?Exchange ", text, re.M))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self.counters: dict[str, int] = defaultdict(int)
        self._patches: list[tuple[object, str, object]] = []
        self._internal = 0

    # -- spans ------------------------------------------------------------
    def begin(self, name: str, group: bool = True) -> int:
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        span = Span(name=name, op=self.op, parent=parent, start=time.perf_counter())
        self.spans.append(span)
        self.stack.append(idx)
        if group:
            span.group = f"perfbench-{idx}"
            self._set_group(span.group)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self.stack.pop()
        if span.group is not None:
            parent = next(
                (self.spans[i].group for i in reversed(self.stack) if self.spans[i].group),
                None,
            )
            self._set_group(parent)

    def _set_group(self, group: str | None) -> None:
        self._internal += 1
        try:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._internal -= 1

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner: object, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``name`` is a span
        name or a function of the call's arguments returning one;
        ``on_result(span, args, result)`` may annotate the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            idx = self.begin(name(*args, **kwargs) if callable(name) else name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.end(idx)
            if on_result is not None:
                self._internal += 1  # its py4j calls are the tracer's own
                try:
                    on_result(self.spans[idx], args, result)
                finally:
                    self._internal -= 1
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def count_calls(self, owner: object, attr: str, counter: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            self.counters[counter] += 1
            return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, counted)

    def count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            if not tracer._internal and tracer.stack:
                tracer.spans[tracer.stack[-1]].py4j += 1
            return orig(conn, command, *args, **kwargs)

        self._patches.append((ClientServerConnection, "send_command", orig))
        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark stage metrics ---------------------------------------------
    def collect_stages(self, op: int) -> None:
        """Read job and stage metrics for every span of ``op`` that set a job
        group. Run after each op, before the status store evicts stages."""
        self._internal += 1
        try:
            sc = self.spark.sparkContext
            tracker = sc.statusTracker()
            store = sc._jsc.sc().statusStore()
            for span in self.spans:
                if span.op != op or span.group is None:
                    continue
                for job in tracker.getJobIdsForGroup(span.group):
                    span.jobs += 1
                    info = tracker.getJobInfo(job)
                    for stage in info.stageIds if info else ():
                        try:
                            data = store.lastStageAttempt(stage)
                        except Exception:  # noqa: BLE001 - evicted stage
                            continue
                        if data.status().toString() == "SKIPPED":
                            continue
                        span.stages += 1
                        for getter, key in STAGE_FIELDS.items():
                            span.metrics[key] = span.metrics.get(key, 0) + getattr(data, getter)()
        finally:
            self._internal -= 1

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                [dict(asdict(s), self_s=st) for s, st in zip(self.spans, selfs)],
                f,
                default=str,
            )
