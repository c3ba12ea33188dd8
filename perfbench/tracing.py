"""In-memory spans around the package's public functions, plus Spark engine
counters scoped to each span.

A span is (id, name, parent, start, end, attrs). Opening a span sets the
Spark job group of the calling thread to the span's id, so every Spark job
a span starts is attributed to it; closing it restores the parent's group.
Counters are read from Spark's status store once, after the traced work,
and everything is written out at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "executor_cpu_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)  # own jobs only

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(_group(s), name)
        return s

    def end(self, s: Span) -> None:
        if self._stack[-1] is not s:
            raise RuntimeError(f"span {s.name} closed out of order")
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(_group(top), top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    # -- queries -------------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def self_time(self, s: Span) -> float:
        """Duration less the time its (sequential) child spans cover."""
        return s.duration - sum(c.duration for c in self.children(s))

    def inclusive(self, s: Span) -> dict:
        """Engine counters of the span and every span below it."""
        tot = dict.fromkeys(COUNTERS, 0.0)
        for x in self.subtree(s):
            for k in COUNTERS:
                tot[k] += x.counters.get(k, 0.0)
        return tot

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.subtree(within) if within is not None else self.spans
        return [x for x in pool if x.name == name]

    # -- engine counters -----------------------------------------------------

    def collect_counters(self) -> None:
        """Attribute every completed stage to the span whose job first ran
        it (a stage reused by a later job is skipped there, not re-run)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_span = {}
        for s in self.spans:
            s.counters = dict.fromkeys(COUNTERS, 0.0)
            for j in tracker.getJobIdsForGroup(_group(s)):
                job_span[j] = s
        seen: set[int] = set()
        for j in sorted(job_span):
            c = job_span[j].counters
            c["jobs"] += 1
            stage_ids = store.job(j).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, fh)


def _group(s: Span) -> str:
    return f"perfbench-span-{s.id}"


def force(df) -> int:
    """Run a lazy DataFrame to completion into Spark's no-op sink and return
    its row count (observed during the same job, no second pass)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


@contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace module.name with wrapper(original)."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)
