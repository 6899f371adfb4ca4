"""Tests of the benchmark's own measuring code.

    python3 -m pytest perfbench/tests -q

The repeatability tests start one Spark session on seeded sf0.01 fixtures and
run every workload query three times (under a minute on 4 cores); the other
tests need no Spark.
"""

from __future__ import annotations

import os
import random
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, ROOT)

import check  # noqa: E402
import run  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Queries whose Spark job/stage/task counts differ between two passes of the
# same code over the same inputs.
COUNT_DRIFT = frozenset({"rdf_cyclic_join", "dedup_incremental_components"})
# Queries whose counts repeat but whose shuffle bytes wobble between passes.
SHUFFLE_WOBBLE = frozenset(
    {
        "rdf_pagerank",
        "rdf_hits",
        "rdf_path_transitive",
        "rdf_path_seq_closure",
        "rdf_generic_seq_closure",
        "rdf_hierarchy_rollup",
        "rdf_named_graph_join",
    }
)
COUNTS = ("jobs", "stages", "tasks")
SHUFFLE = ("shuffle_read_b", "shuffle_write_b")


class FakeContext:
    """Records the job tags the tracer sets, in place of a SparkContext."""

    def __init__(self) -> None:
        self.tags: set[str] = set()

    def addJobTag(self, tag: str) -> None:  # noqa: N802 - PySpark's name
        self.tags.add(tag)

    def removeJobTag(self, tag: str) -> None:  # noqa: N802 - PySpark's name
        self.tags.discard(tag)


def test_innermost_span_owns_the_job_tag_and_self_time_excludes_children():
    sc = FakeContext()
    tracer = Tracer(SimpleNamespace(sparkContext=sc))
    tracer.enabled = True
    seen = {}

    def inner():
        seen["inner"] = set(sc.tags)

    def outer():
        seen["outer_before"] = set(sc.tags)
        tracer.call("operators.inner", inner)
        seen["outer_after"] = set(sc.tags)

    tracer.call("plans.build", outer)
    inner_span, outer_span = tracer.spans
    assert seen["outer_before"] == seen["outer_after"] == {outer_span.tag}
    assert seen["inner"] == {inner_span.tag}
    assert sc.tags == set()
    assert outer_span.child_s == inner_span.duration
    assert outer_span.self_s == pytest.approx(outer_span.duration - inner_span.duration)


def test_disabled_tracer_records_nothing():
    sc = FakeContext()
    tracer = Tracer(SimpleNamespace(sparkContext=sc))
    wrapped = tracer.wrap("operators.f", lambda x: x + 1)
    assert wrapped(1) == 2
    assert tracer.spans == [] and sc.tags == set()


def test_value_hash_matches_the_repository_gate():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle

    rows = [(1, 2.5, None, "a"), (0, float("nan"), True, "b"), (3, 1e16, 7.0, "c")]
    cols = ["k", "x", "y", "s"]
    assert check.value_hash(rows, cols) == check_oracle.value_hash(rows, cols)


def _counters_by_query(runs) -> dict[str, dict[str, int]]:
    out = {}
    for r in runs:
        assert r.latency_s is not None, f"{r.name} raised"
        total = dict.fromkeys(COUNTERS, 0)
        for span in r.spans:
            for k, v in span.counters.items():
                total[k] += v
        out[r.name] = total
    return out


@pytest.fixture(scope="module")
def two_traced_passes(tmp_path_factory):
    paths = run.pin_environment(str(tmp_path_factory.mktemp("perfbench")), 4)
    run.datagen.generate(paths["data"], 7, run.SF)
    run.redirect_engine_scratch(paths["scratch"])
    from rdf_mapreduce_joins_spark import get_spark

    spark = get_spark("perfbench-tests")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark)
        tracer.install()
        names = sorted({n for ns in WORKLOADS.values() for n in ns})
        bench = run.Bench(spark, paths["data"], names, tracer)
        bench.run_pass(names, traced=False)
        rng = random.Random(7)
        yield [
            _counters_by_query(bench.run_pass(run.shuffled(names, rng), traced=True).runs)
            for _ in range(2)
        ]
    finally:
        run.stop_spark(spark)


def test_workload_and_exception_names_are_engine_queries():
    names = {n for ns in WORKLOADS.values() for n in ns}
    from rdf_mapreduce_joins_spark.plans import QUERIES

    assert names <= set(QUERIES)
    assert (COUNT_DRIFT | SHUFFLE_WOBBLE) <= set(QUERIES)


def test_two_traced_passes_give_identical_counts(two_traced_passes):
    first, second = two_traced_passes
    assert first.keys() == second.keys()
    diffs = {
        name: {k: (first[name][k], second[name][k]) for k in COUNTS}
        for name in first
        if name not in COUNT_DRIFT
        and any(first[name][k] != second[name][k] for k in COUNTS)
    }
    assert diffs == {}
    assert all(first[n]["jobs"] > 0 for n in first), "every query runs Spark jobs"


def test_two_traced_passes_give_identical_shuffle_bytes(two_traced_passes):
    first, second = two_traced_passes
    wobble = COUNT_DRIFT | SHUFFLE_WOBBLE
    diffs = {
        name: {k: (first[name][k], second[name][k]) for k in SHUFFLE}
        for name in first
        if name not in wobble and any(first[name][k] != second[name][k] for k in SHUFFLE)
    }
    assert diffs == {}
