"""Spans around the engine's public layer functions, with Spark counters.

A :class:`Tracer` wraps functions of the engine's modules from the outside
(no program file changes). Each span is named after its layer; while a span
is the innermost open one, every Spark job started carries its job tag, so
after a query the tracer reads per-span counters (jobs, stages, tasks,
task/CPU/GC time, shuffle, spill and output bytes) from Spark's in-process
status store. The Spark UI stays off.

Layers, named after the package's modules:

* ``sources.load_table``,
* ``plans.build`` (the ``QUERIES[name]`` call), ``plans.sparql_parse`` and
  ``plans.execute`` (the ``noop`` write),
* ``operators.<function>`` for the DataFrame-returning public functions of
  ``operators/graph.py``, ``operators/dedup.py`` and
  ``operators/similarity.py``.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_read_b",
    "shuffle_write_b",
    "spill_b",
    "output_b",
)

@dataclass
class Span:
    layer: str
    tag: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    """Records spans while enabled; :meth:`take` hands them over with
    their counters filled in."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    def begin(self, layer: str) -> Span | None:
        if not self.enabled:
            return None
        self._seq += 1
        span = Span(layer, f"perfbench-span-{self._seq}", 0.0)
        if self._stack:
            self.sc.removeJobTag(self._stack[-1].tag)
        self.sc.addJobTag(span.tag)
        self._stack.append(span)
        span.start = time.perf_counter()
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        self.sc.removeJobTag(span.tag)
        if self._stack:
            parent = self._stack[-1]
            parent.child_s += span.duration
            self.sc.addJobTag(parent.tag)
        self.spans.append(span)

    def call(self, layer: str, fn, *args, **kwargs):
        span = self.begin(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)

    def take(self) -> list[Span]:
        """Fill every finished span's counters from the status store and
        hand the spans over; the tracer starts empty again."""
        spans, self.spans = self.spans, []
        if not spans:
            return spans
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jtracker = jsc.statusTracker()
        for span in spans:
            c = dict.fromkeys(COUNTERS, 0)
            for job_id in jtracker.getJobIdsForTag(span.tag):
                c["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    _add_stage(c, store, stage_id)
            span.counters = c
        return spans

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            return self.call(layer, fn, *args, **kwargs)

        return traced

    def install(self) -> list[str]:
        """Wrap the engine's layer functions wherever a module of the
        package bound them (``from x import f`` included). Returns the
        span names installed."""
        from rdf_mapreduce_joins_spark.operators import dedup, graph, similarity
        from rdf_mapreduce_joins_spark.plans import sparql
        from rdf_mapreduce_joins_spark.sources import tables

        targets = {
            tables.load_table: "sources.load_table",
            sparql.parse_sparql: "plans.sparql_parse",
        }
        for mod in (graph, dedup, similarity):
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and not name.startswith("_")
                    and "DataFrame" in str(inspect.signature(fn).return_annotation)
                ):
                    targets[fn] = f"operators.{name}"
        wrappers = {fn: self.wrap(layer, fn) for fn, layer in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("rdf_mapreduce_joins_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrappers:
                    setattr(mod, attr, wrappers[value])
        return sorted(set(targets.values()))


def _add_stage(c: dict[str, int], store, stage_id: int) -> None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # a stage the scheduler never registered
        return
    if sd.status().toString() == "SKIPPED":
        return
    c["stages"] += 1
    c["tasks"] += sd.numCompleteTasks()
    c["task_ms"] += sd.executorRunTime()
    c["cpu_ns"] += sd.executorCpuTime()
    c["gc_ms"] += sd.jvmGcTime()
    c["shuffle_read_b"] += sd.shuffleReadBytes()
    c["shuffle_write_b"] += sd.shuffleWriteBytes()
    c["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    c["output_b"] += sd.outputBytes()


def storage_held_mb(spark) -> float:
    """Storage memory held by cached or checkpointed RDDs and DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 1e6
