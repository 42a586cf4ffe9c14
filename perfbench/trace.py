"""Spans around calls into the engine, and Spark work attributed to them.

A span records name, start, end, parent, op id and thread. Spans are
kept in memory and written out once the run ends. Each span sets the
Spark job group to its own id while it is open, so every job an action
starts is billed to the innermost open span; after the run, the Spark
UI's REST API maps job groups to jobs and jobs to stage metrics.

The layer of a span is its name up to the first dot
(``medallion.bronze`` → ``medallion``). DataFrame calls are lazy: a
span around an operator measures plan building, and execution is
billed to the span whose action runs it.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

#: Spark counters summed per span, then per layer: name → (stage field, scale).
SPARK_COUNTERS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}

#: Spans under this layer are the tracer's own work (counting actions):
#: they are excluded from every per-layer figure.
TRACE_LAYER = "trace"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    thread: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    spark: dict[str, float] = field(default_factory=dict)
    busy: list[tuple[float, float]] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - covered(children[s.id], s.start, s.end) for s in spans
    }


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return (
        datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    apart from the context manager itself."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            thread=threading.current_thread().name,
            start=time.time(),
        )
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- Spark attribution ---------------------------------------------------

    def _get(self, base: str, path: str):
        with urllib.request.urlopen(f"{base}{path}", timeout=30) as resp:
            return json.load(resp)

    def attribute_spark(self, timeout_s: float = 20.0) -> None:
        """Fill each span's jobs, Spark counters and busy intervals from
        the UI's REST API. Waits until the listener has seen every job
        in a span's group finish."""
        if not self.spans:
            return
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        by_group = {f"pb-{s.id}": s for s in self.spans}
        # the listener bus is asynchronous: wait until the job list has
        # stopped growing and no job of ours is still running
        deadline = time.time() + timeout_s
        seen = -1
        while True:
            time.sleep(0.5)
            jobs = [j for j in self._get(base, "/jobs") if j.get("jobGroup") in by_group]
            done = all(j["status"] != "RUNNING" for j in jobs) and len(jobs) == seen
            if done or time.time() > deadline:
                break
            seen = len(jobs)
        stages: dict[int, list[dict]] = defaultdict(list)
        for st in self._get(base, "/stages"):
            stages[st["stageId"]].append(st)
        for j in jobs:
            s = by_group[j["jobGroup"]]
            s.jobs.append(j["jobId"])
            c = s.spark
            c["jobs"] = c.get("jobs", 0) + 1
            submitted = _ts(j.get("submissionTime"))
            first_task = None
            for sid in j["stageIds"]:
                for st in stages.get(sid, []):
                    if st["status"] == "SKIPPED":
                        continue
                    c["stages"] = c.get("stages", 0) + 1
                    c["tasks"] = c.get("tasks", 0) + st["numCompleteTasks"]
                    for name, (key, scale) in SPARK_COUNTERS.items():
                        c[name] = c.get(name, 0) + st.get(key, 0) * scale
                    launched = _ts(st.get("firstTaskLaunchedTime"))
                    a, b = _ts(st.get("submissionTime")), _ts(st.get("completionTime"))
                    if a is not None and b is not None:
                        s.busy.append((a, b))
                    if launched is not None:
                        first_task = launched if first_task is None else min(first_task, launched)
            if submitted is not None and first_task is not None:
                c["sched_wait_s"] = c.get("sched_wait_s", 0.0) + max(0.0, first_task - submitted)

    def dump(self, path: str) -> None:
        """Write the span tree (one JSON object per span, with self time)."""
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                json.dump({**asdict(s), "self_s": st[s.id]}, f)
                f.write("\n")


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: summed self time (``self_s``) and summed Spark counters."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.layer == TRACE_LAYER:
            continue
        out[s.layer]["self_s"] += st[s.id]
        for k, v in s.spark.items():
            out[s.layer][k] += v
    return out


def name_totals(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return out


def driver_self_s(spans: list[Span]) -> float:
    """Summed over ops: op wall time during which none of the op's
    Spark stages was running."""
    roots = {s.id: s for s in spans if s.parent is None and s.op is not None}
    busy: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.op is not None:
            busy[s.op].extend(s.busy)
    total = 0.0
    for r in roots.values():
        total += r.duration - covered(busy[r.op], r.start, r.end)
    return total
