"""Round-4 operator tests: bucketed interval join semantics, the
time-RANGE window frame, lower-median/mode determinism, duplicated
span detection, and an independent numpy value reference for the
rows-only PCA projection (same contract as
tests/test_rowsonly_references.py — the engine's full output must
match a reference computed OUTSIDE the engine)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from rdf_mapreduce_joins_spark.operators.rangejoin import bucketed_interval_join

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- rangejoin

def test_bucketed_interval_join_matches_naive_theta_join(spark):
    """The bucketed equi-join must return exactly the rows a naive
    containment theta-join returns — no duplicates from intervals
    spanning multiple buckets, no misses at bucket edges."""
    probe = spark.createDataFrame(
        [(k, t) for k in ("a", "b") for t in range(0, 100, 7)],
        "k string, ts long",
    )
    intervals = spark.createDataFrame(
        [
            ("a", 0, 10),      # aligned at bucket start
            ("a", 9, 31),      # spans 3 buckets
            ("a", 15, 15),     # degenerate single-point interval
            ("b", 28, 42),     # crosses a bucket boundary
            ("b", 95, 120),    # runs past the probe domain
            ("a", 50, 49),     # empty interval (end < start)
        ],
        "k string, start long, end long",
    )
    got = (
        bucketed_interval_join(
            probe, intervals, on=["k"], probe_ts="ts",
            start="start", end="end", bucket_width=10,
        )
        .select("k", "ts", "start", "end")
        .collect()
    )
    naive = (
        probe.join(intervals, "k")
        .where((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
        .select("k", "ts", "start", "end")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, naive))
    assert len(got) == len(set(map(tuple, got)))  # no dup pairs


def test_interval_join_query_no_nested_loop(spark):
    """The registered events_interval_join must plan as a real
    equi-join (SortMerge/ShuffledHash/BroadcastHash), never a
    BroadcastNestedLoopJoin — that is the whole point of bucketing."""
    df = entrymod.queries()["events_interval_join"](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------- range frame

def test_range_frame_includes_timestamp_peers(spark):
    """RANGE frames include all rows with equal ORDER BY value — both
    peers must report the same frame aggregate."""
    q = entrymod.queries()["events_range_frame_avg"]
    out = q(spark, SF)
    assert out.columns == ["user_id", "event_id", "ts_s", "sum_1h", "n_1h"]
    # n_1h is at least 1 (the row itself) and counts every event of
    # the same user within the trailing hour, independently verified
    # for one user via pandas.
    pdf = out.where(F.col("user_id") == 1).toPandas().sort_values("ts_s")
    rows = pdf.to_dict("records")
    for r in rows:
        expected = sum(1 for s in rows if r["ts_s"] - 3600 <= s["ts_s"] <= r["ts_s"])
        assert r["n_1h"] == expected


# ------------------------------------------------------------- mode/median

def test_mode_median_manual_definitions(spark):
    """Lower median is a stored c_acctbal value at rank ceil(n/2);
    mode ties break to the lexicographically smallest segment."""
    out = entrymod.queries()["agg_mode_median"](spark, SF).collect()
    t = pq.read_table(f"{SF}/customer.parquet").to_pydict()
    by_nation: dict[int, list[tuple[float, int]]] = {}
    segs: dict[tuple[int, str], int] = {}
    for nk, bal, ck, seg in zip(
        t["c_nationkey"], t["c_acctbal"], t["c_custkey"], t["c_mktsegment"]
    ):
        by_nation.setdefault(nk, []).append((bal, ck))
        segs[(nk, seg)] = segs.get((nk, seg), 0) + 1
    for row in out:
        vals = sorted(by_nation[row["c_nationkey"]])
        assert row["n_customers"] == len(vals)
        assert row["median_lo_acctbal"] == vals[(len(vals) + 1) // 2 - 1][0]
        best = min(
            ((-n, s) for (nk, s), n in segs.items() if nk == row["c_nationkey"])
        )
        assert row["mode_segment"] == best[1]


# ---------------------------------------------------------------- span dedup

def test_substring_spans_python_reference(spark):
    """Full-output match against a pure-Python 12-token rolling-window
    reference (hashes recomputed with hashlib.md5)."""
    import hashlib

    out = {
        r["span_md5"]: (r["n_docs"], r["n_occurrences"])
        for r in entrymod.queries()["dedup_substring_spans"](spark, SF).collect()
    }
    t = pq.read_table(f"{SF}/documents.parquet").to_pydict()
    import re as _re

    counts: dict[str, list] = {}
    for doc_id, text in zip(t["doc_id"], t["text"]):
        toks = _re.split(r"\s+", text.strip().lower())
        for i in range(len(toks) - 12 + 1):
            h = hashlib.md5(" ".join(toks[i : i + 12]).encode()).hexdigest()
            counts.setdefault(h, []).append(doc_id)
    ref = {
        h: (len(set(ds)), len(ds))
        for h, ds in counts.items()
        if len(set(ds)) >= 2
    }
    assert out == ref


# ---------------------------------------------------------------------- PCA

def test_pca_projection_matches_numpy_reference(spark):
    """Engine PCA scores vs a straight numpy eigensolve on the raw
    parquet — same sign convention, tolerance covers distributed float
    summation order."""
    out = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in entrymod.queries()["embedding_pca_project"](spark, SF).collect()
    }
    t = pq.read_table(f"{SF}/embeddings.parquet").to_pydict()
    ids = t["vec_id"]
    x = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
    mean = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    comps = vecs[:, order].T.copy()
    for i in range(2):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    proj = (x - mean) @ comps.T
    assert len(out) == len(ids)
    for vid, p in zip(ids, proj):
        got = out[vid]
        assert got[0] == pytest.approx(p[0], abs=2e-4)
        assert got[1] == pytest.approx(p[1], abs=2e-4)


def test_pca_variance_ordering(spark):
    """pc1 must carry at least as much empirical variance as pc2."""
    pdf = (
        entrymod.queries()["embedding_pca_project"](spark, SF)
        .select("pc1", "pc2")
        .toPandas()
    )
    assert pdf["pc1"].var() >= pdf["pc2"].var()


# ----------------------------------------------------------------- BFS hops

def test_shortest_hops_hand_graph(spark):
    """BFS distances on a hand graph: min hops win over longer
    alternatives, direction is ignored, unreachable nodes are absent."""
    from rdf_mapreduce_joins_spark.operators.graph import shortest_hops

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),  # chain a-b-c-d
            ("a", "d"),                           # shortcut: d is 1 hop
            ("d", "a"),                           # cycle back (ignored dup)
            ("x", "y"),                           # disconnected component
        ],
        "src string, dst string",
    )
    got = {r["node"]: r["dist"] for r in shortest_hops(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 1}


def test_shortest_hops_isolated_source(spark):
    """A source with no edges (or only a self-loop) is still distance
    0 from itself: the frontier must be seeded from a literal
    (source, 0) row, not filtered out of the adjacency's node set
    (ADVICE r2, pinned r4)."""
    from rdf_mapreduce_joins_spark.operators.graph import shortest_hops

    edges = spark.createDataFrame(
        [("x", "y"), ("iso", "iso")],  # iso has only a self-loop
        "src string, dst string",
    )
    got = {r["node"]: r["dist"] for r in shortest_hops(edges, "iso").collect()}
    assert got == {"iso": 0}
    # And a source absent from the edge set entirely:
    got2 = {r["node"]: r["dist"] for r in shortest_hops(edges, "ghost").collect()}
    assert got2 == {"ghost": 0}


def test_bucketed_interval_join_exact_at_epoch_nanoseconds(spark):
    """Bucket ids must come from TRUE integer division: epoch-ns
    magnitudes (> 2^53) are not exactly representable as doubles, so a
    floor(double/double) bucketing would misplace rows near bucket
    boundaries and silently drop matches (ADVICE r2, pinned r4)."""
    base = 1_700_000_000_000_000_000  # epoch ns, > 2^53
    width = 1_000_000_000  # 1 s buckets
    # Probe sits exactly at a bucket boundary; the interval ends
    # exactly there too — an off-by-one-ulp double bucket id on either
    # side breaks the equi-join and loses the match.
    probe = spark.createDataFrame(
        [("k", base + 3 * width)], "k string, ts long"
    )
    intervals = spark.createDataFrame(
        [("k", base + 3 * width - 1, base + 3 * width),
         ("k", base + 3 * width + 1, base + 4 * width)],
        "k string, start long, end long",
    )
    got = bucketed_interval_join(
        probe, intervals, on=["k"], probe_ts="ts",
        start="start", end="end", bucket_width=width,
    ).select("start").collect()
    assert [r["start"] for r in got] == [base + 3 * width - 1]


def test_weighted_sssp_hand_graph(spark):
    """Weighted SSSP on a cyclic hand graph where min-cost != min-hops:
    a->b->c direct edge costs 10, the detour a->d->e->c costs 3 — the
    relaxation must prefer MORE hops at LOWER weight (pure BFS gets
    this wrong), and the b<->e chord gives a cycle to not loop on."""
    from rdf_mapreduce_joins_spark.operators.graph import weighted_sssp

    edges = spark.createDataFrame(
        [
            ("a", "b", 1),
            ("b", "c", 9),
            ("a", "d", 1),
            ("d", "e", 1),
            ("e", "c", 1),
            ("b", "e", 5),
        ],
        "src string, dst string, w long",
    )
    got = {r["node"]: r["dist"] for r in weighted_sssp(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 3, "d": 1, "e": 2}


def test_weighted_sssp_hop_bound_is_honored(spark):
    """max_hops=1 must return only direct-edge relaxations even when a
    2-hop path is cheaper."""
    from rdf_mapreduce_joins_spark.operators.graph import weighted_sssp

    edges = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 1), ("c", "b", 1)],
        "src string, dst string, w long",
    )
    got = {
        r["node"]: r["dist"]
        for r in weighted_sssp(edges, "a", max_hops=1).collect()
    }
    assert got == {"a": 0, "b": 10, "c": 1}


def test_weighted_sssp_isolated_source(spark):
    """An isolated source still yields [(source, 0)] — same seed
    contract as shortest_hops (ADVICE r3 edge, pinned for both)."""
    from rdf_mapreduce_joins_spark.operators.graph import weighted_sssp

    edges = spark.createDataFrame(
        [("x", "y", 2)], "src string, dst string, w long"
    )
    got = {r["node"]: r["dist"] for r in weighted_sssp(edges, "zzz").collect()}
    assert got == {"zzz": 0}


def _py_kcore(edges: list[tuple], k: int) -> set:
    adj: dict = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return set(adj)


def test_kcore_matches_python_peeling(spark):
    """k-core peeling on a graph with a 4-clique (3-core), a triangle
    hanging off it (2-core only), and a tail path: the 3-core must be
    exactly the clique, the 2-core the clique + triangle."""
    from rdf_mapreduce_joins_spark.operators.graph import kcore

    e = [
        ("c1", "c2"), ("c1", "c3"), ("c1", "c4"),
        ("c2", "c3"), ("c2", "c4"), ("c3", "c4"),   # 4-clique
        ("c4", "t1"), ("t1", "t2"), ("t2", "c4"),   # triangle sharing c4
        ("t2", "p1"), ("p1", "p2"),                  # tail path
    ]
    edges = spark.createDataFrame(e, "src string, dst string")
    got3 = {r.node for r in kcore(edges, 3).collect()}
    assert got3 == {"c1", "c2", "c3", "c4"} == _py_kcore(e, 3)
    got2 = {r.node for r in kcore(edges, 2).collect()}
    assert got2 == {"c1", "c2", "c3", "c4", "t1", "t2"} == _py_kcore(e, 2)
    # k high enough to empty the graph
    assert kcore(edges, 5).count() == 0 == len(_py_kcore(e, 5))


def test_rdf_kcore_members_matches_reference_at_sf0001(spark):
    """The declared rows-only query vs the Python peeling reference on
    the full derived supplier graph (tree + ring) at sf0.001."""
    from rdf_mapreduce_joins_spark.plans import QUERIES

    sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    keys = [r.s_suppkey for r in sup.select("s_suppkey").collect()]
    mx = max(keys)
    e = [(f"supplier/{k}", f"supplier/{k // 2}") for k in keys if k >= 1]
    e += [(f"supplier/{k}", f"supplier/{k + 1}") for k in keys if k + 1 <= mx]
    expect = _py_kcore(e, 2)
    got = {
        r.node
        for r in QUERIES["rdf_kcore_members"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expect
    assert got, "2-core is empty at sf0.001 — fixture too small, test vacuous"


def test_kcore_raises_instead_of_returning_superset(spark):
    """A long path needs ~len/2 peeling rounds (only the endpoints go
    each round); with max_iter too small the operator must RAISE, not
    return the unconverged middle as a fake 2-core."""
    import pytest as _pytest

    from rdf_mapreduce_joins_spark.operators.graph import kcore

    path = [(f"n{i}", f"n{i+1}") for i in range(12)]
    edges = spark.createDataFrame(path, "src string, dst string")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        kcore(edges, 2, max_iter=3)
    # and with room to converge, the true 2-core of a path is empty
    assert kcore(edges, 2, max_iter=30).count() == 0


def test_shortest_hops_and_components_fail_loud_on_exhaustion(spark):
    """Iteration caps must raise, not silently truncate (kcore's
    contract, extended to its siblings in the round-4 review)."""
    import pytest as _pytest

    from rdf_mapreduce_joins_spark.operators.dedup import connected_components
    from rdf_mapreduce_joins_spark.operators.graph import shortest_hops

    chain = [(f"n{i}", f"n{i+1}") for i in range(8)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    with _pytest.raises(RuntimeError, match="frontier still live"):
        shortest_hops(edges, "n0", max_iter=3)
    got = {r.node: r.dist for r in shortest_hops(edges, "n0", max_iter=10).collect()}
    assert got[f"n{8}"] == 8
    # Diameter EXACTLY max_iter: the final round discovers the last
    # node, the frontier is non-empty but has no unvisited neighbors —
    # must return complete, not raise (round-5 advice false positive).
    exact = {r.node: r.dist for r in shortest_hops(edges, "n0", max_iter=8).collect()}
    assert exact == got
    pairs = spark.createDataFrame(chain, "d1 string, d2 string")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=2)
    comp = connected_components(pairs, max_iter=12).collect()
    assert {r.component for r in comp} == {"n0"}


# A 9-node chain n0 -> ... -> n8: diameter 8, 36 reachable pairs.
CHAIN9 = [(f"n{i}", f"n{i+1}") for i in range(8)]


def test_components_final_at_max_iter_is_returned(spark):
    """n8 takes the label n0 in round 8 and round 9 changes nothing:
    max_iter=8 is exactly enough and must not raise."""
    from rdf_mapreduce_joins_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(CHAIN9, "d1 string, d2 string")
    comp = connected_components(pairs, max_iter=8).collect()
    assert {r.component for r in comp} == {"n0"}


def test_kcore_final_at_max_iter_is_returned(spark):
    """The 12-edge path peels to nothing within 7 rounds; the probe
    round peels nothing more, so the empty 2-core is returned."""
    from rdf_mapreduce_joins_spark.operators.graph import kcore

    path = [(f"n{i}", f"n{i+1}") for i in range(12)]
    edges = spark.createDataFrame(path, "src string, dst string")
    assert kcore(edges, 2, max_iter=7).count() == 0


def test_transitive_closure_fails_loud_on_exhaustion(spark):
    """Doubling reaches paths of length 2, 4, 8 in rounds 1-3: two
    rounds leave the closure growing (raise, never the 26-pair
    truncation), three are exactly enough."""
    from rdf_mapreduce_joins_spark.operators.graph import transitive_closure

    edges = spark.createDataFrame(CHAIN9, "src string, dst string")
    with pytest.raises(RuntimeError, match="fixpoint"):
        transitive_closure(edges, max_iter=2)
    assert transitive_closure(edges, max_iter=3).count() == 36


def _persisting_loops():
    from rdf_mapreduce_joins_spark.operators import graph
    from rdf_mapreduce_joins_spark.operators.dedup import connected_components

    return {
        "pagerank": graph.pagerank,
        "hits": graph.hits,
        "label_propagation": graph.label_propagation,
        "shortest_hops": lambda e: graph.shortest_hops(e, 0),
        "weighted_sssp": lambda e: graph.weighted_sssp(
            e.withColumn("w", F.lit(1)), 0
        ),
        "connected_components": lambda e: connected_components(e, "src", "dst"),
    }


@pytest.mark.parametrize("name", sorted(_persisting_loops()))
def test_loop_releases_its_cache_when_a_round_raises(spark, monkeypatch, name):
    """Every frame a loop persisted leaves Spark's cache manager even
    when a round raises (here: the 3rd localCheckpoint call)."""
    from pyspark.sql.classic.dataframe import DataFrame

    op = _persisting_loops()[name]
    # integer ids: shortest_hops and weighted_sssp start from node 0
    chain = [(i, i + 1) for i in range(8)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    real = DataFrame.localCheckpoint
    calls = []

    def third_call_raises(self, *args, **kwargs):
        calls.append(None)
        if len(calls) == 3:
            raise RuntimeError("injected round failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", third_call_raises)
    with pytest.raises(RuntimeError, match="injected round failure"):
        op(edges)
    assert cache.isEmpty()
