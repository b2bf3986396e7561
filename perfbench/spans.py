"""Outside-in tracing: spans around calls into the program's layers.

A `Tracer` records one span per call it wraps: name, start, end, parent
span and run id, plus the number of Spark jobs the call started (a delta of
the status store's job list). Spans live in memory and are written out when
the run ends. The untraced run uses `NullTracer`, whose spans cost nothing,
so end-to-end metrics are measured without tracing.

`StageTotals` harvests task time, GC time, shuffle write, spill, input bytes
and input records from the Spark status store; callers take the difference
of two harvests around the region they measure.

`force(df)` executes a DataFrame without collecting it (the `noop` sink).
The traced run forces each layer's output right after the layer returns,
so a layer's self time is its span minus the span of its input.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def host_cpu() -> list[int]:
    """Cumulative CPU ticks of the machine (/proc/stat's `cpu` line)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time this machine asked for that the hypervisor gave
    to other guests between two `host_cpu()` readings. Steal accrues only
    while a virtual CPU wants to run, so the share is taken of busy + steal
    ticks (busy = user, nice, system, irq, softirq)."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / (busy + d[7]) if busy + d[7] else 0.0


class Stopwatch:
    """Wall time of a region with the hypervisor's steal share removed.

    On a shared virtual machine other guests take CPU time at random, and a
    region's wall time stretches by 1 / (1 - share stolen). Every time the
    benchmark reports is this wall time scaled by (1 - share stolen), so
    runs made under different contention compare; `host.steal_pct` reports
    the contention itself."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = host_cpu()

    def seconds(self) -> float:
        wall = time.perf_counter() - self.t0
        return wall * (1.0 - steal_share(self.c0, host_cpu()))


def job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


@dataclass
class StageTotals:
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_records: int = 0

    @classmethod
    def harvest(cls, spark) -> "StageTotals":
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        it = store.stageList(
            sc._jvm.java.util.ArrayList(), False, False, quantiles,
            sc._jvm.java.util.ArrayList(),
        ).iterator()
        t = cls()
        while it.hasNext():
            s = it.next()
            t.tasks += s.numCompleteTasks()
            t.task_s += s.executorRunTime() / 1e3
            t.gc_s += s.jvmGcTime() / 1e3
            t.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
            t.spill_mb += s.diskBytesSpilled() / 1e6
            t.input_mb += s.inputBytes() / 1e6
            t.input_records += s.inputRecords()
        return t

    def __sub__(self, other: "StageTotals") -> "StageTotals":
        return StageTotals(**{
            k: getattr(self, k) - getattr(other, k) for k in self.__dataclass_fields__
        })


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans are free and nothing is recorded."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, self.run_id, 0.0, attrs=attrs)
        j0 = job_count(self.spark)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.jobs = job_count(self.spark) - j0
            self.spans.append(s)

    def force(self, df) -> None:
        with self.span("trace.force"):
            force(df)

    # -- queries over the recorded spans ---------------------------------
    def named(self, name: str, **attrs) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def total(self, name: str, **attrs) -> float:
        return sum(s.dur for s in self.named(name, **attrs))

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span, name: str) -> list[Span]:
        out = []
        frontier = [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(s for s in kids if s.name == name)
            frontier = [s.id for s in kids]
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "run_id": s.run_id, "start": s.start, "end": s.end,
                    "jobs": s.jobs, **s.attrs,
                }) + "\n")

