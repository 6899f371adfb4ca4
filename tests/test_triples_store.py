"""Persisted triples store (plans/generic_rdf.py): the ingest-time
encode+dictionary layout — equivalence with the inline paths, partition
pruning at the scan, and the rebuild when the sources' identity changes."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.plans import generic_rdf as G
from rdf_mapreduce_joins_spark.plans.rdf import triples

Q_CHAIN = """
SELECT ?c ?nname WHERE {
  ?c <mktsegment> "BUILDING" ; <nation> ?n .
  ?n <name> ?nname .
}
"""

Q_FILTER = """
SELECT ?c ?seg WHERE {
  ?c <mktsegment> ?seg .
  FILTER(?seg != "BUILDING")
}
"""


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_store_matches_inline_encoded_and_string(spark, sf_dir, tmp_path):
    tri = triples(spark, sf_dir)
    store = str(tmp_path / "store")
    G.build_triples_store(tri, store)
    want = _rows(G.sparql_triples(tri, Q_CHAIN))
    got = _rows(G.sparql_triples_indexed(spark, store, Q_CHAIN))
    assert got == want and got


def test_store_string_fallback_for_filter_queries(spark, sf_dir, tmp_path):
    """FILTER needs term strings mid-plan — the indexed runner must
    fall back to the store's string columns and still be right."""
    tri = triples(spark, sf_dir)
    store = str(tmp_path / "store")
    G.build_triples_store(tri, store)
    want = _rows(G.sparql_triples(tri, Q_FILTER))
    got = _rows(G.sparql_triples_indexed(spark, store, Q_FILTER))
    assert got == want and got


def test_store_prunes_predicate_partitions_and_reads_only_ids(
    spark, sf_dir, tmp_path
):
    tri = triples(spark, sf_dir)
    store = str(tmp_path / "store")
    G.build_triples_store(tri, store)
    df = G.sparql_triples_indexed(spark, store, Q_CHAIN)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # predicate is a partition column: the filter must appear as a
    # PartitionFilters entry (file-listing pruning), not a data filter
    assert "PartitionFilters" in plan
    frag = plan.split("PartitionFilters", 1)[1]
    assert "predicate" in frag[:200]
    # encoded chain query: scans read the id longs, not the strings
    assert "subject_id" in plan


def test_store_dictionary_has_no_collisions(spark, sf_dir, tmp_path):
    tri = triples(spark, sf_dir)
    store = str(tmp_path / "store")
    G.build_triples_store(tri, store)
    d = spark.read.parquet(f"{store}/dictionary")
    assert G.dictionary_collisions(d) == 0


def test_cached_store_rebuilds_when_source_newer(spark, sf_dir, monkeypatch, tmp_path):
    monkeypatch.setattr(G, "_STORE_ROOT", str(tmp_path / "root"))
    src = tmp_path / "sf0.001"
    shutil.copytree(sf_dir, src)
    p1 = G._store_path(spark, str(src))
    marker = os.path.join(p1, "_BUILT")
    t1 = os.path.getmtime(marker)
    # second call: cache hit, no rebuild
    G._store_path(spark, str(src))
    assert os.path.getmtime(marker) == t1
    # the marker's own age is not the rule: unchanged sources still hit
    os.utime(marker, (1, 1))
    G._store_path(spark, str(src))
    assert os.path.getmtime(marker) == 1
    # a newer source changes the sources' identity → rebuild
    newer = os.path.getmtime(src / "customer.parquet") + 10
    os.utime(src / "customer.parquet", (newer, newer))
    G._store_path(spark, str(src))
    assert os.path.getmtime(marker) > 1


class TestQuadsStore:
    @pytest.fixture(scope="class")
    def store(self, spark, tmp_path_factory):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import build_quads_store
        from rdf_mapreduce_joins_spark.plans.rdf import triples

        tri = triples(spark, "/root/testdata/sf0.001")
        quads = tri.withColumn(
            "graph",
            F.when(F.col("predicate") == "name", "g1")
            .when(F.col("predicate") == "nation", "g2")
            .otherwise(F.lit(None)),
        )
        path = str(tmp_path_factory.mktemp("qstore") / "qs")
        build_quads_store(quads, path)
        return path, quads

    def test_store_matches_inline(self, spark, store):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import (
            sparql_quads,
            sparql_quads_indexed,
        )

        path, quads = store
        q = """SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <name> ?o . } }"""
        got = sorted(tuple(r) for r in sparql_quads_indexed(spark, path, q).collect())
        want = sorted(tuple(r) for r in sparql_quads(quads, q).collect())
        assert got == want and got

    def test_default_graph_null_partition_round_trip(self, spark, store):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import (
            sparql_quads,
            sparql_quads_indexed,
        )

        path, quads = store
        q = "SELECT ?s ?seg WHERE { ?s <mktsegment> ?seg . }"
        got = sorted(tuple(r) for r in sparql_quads_indexed(spark, path, q).collect())
        want = sorted(tuple(r) for r in sparql_quads(quads, q).collect())
        assert got == want and got

    def test_graph_partition_pruning(self, spark, store):
        """A GRAPH <g1> block must prune to the g1 directory at file
        listing: the scan's partition filters mention graph, and only
        g1 files are read."""
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads_indexed

        path, _ = store
        df = sparql_quads_indexed(
            spark, path, "SELECT ?s ?o WHERE { GRAPH <g1> { ?s <name> ?o . } }"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        assert scans and all("PartitionFilters" in ln for ln in scans), plan
        assert "graph" in scans[0], plan


class TestStreamingIngest:
    def test_streamed_store_answers_like_batch_store(self, spark, tmp_path):
        """N-Triples files streamed through ingest_ntriples_stream must
        produce a store whose indexed SPARQL answers equal the
        batch-built store's — dictionary (incl. incremental anti-join
        appends) and predicate partitioning included."""
        from rdf_mapreduce_joins_spark.plans.generic_rdf import (
            build_triples_store,
            sparql_triples_indexed,
        )
        from rdf_mapreduce_joins_spark.sources.ntriples import write_ntriples
        from rdf_mapreduce_joins_spark.streaming.triples_ingest import (
            ingest_ntriples_stream,
        )

        tri = triples(spark, "/root/testdata/sf0.001")
        feed = str(tmp_path / "feed")
        write_ntriples(tri, feed)

        streamed = str(tmp_path / "streamed_store")
        q = ingest_ntriples_stream(
            spark,
            feed,
            streamed,
            checkpoint=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(180)

        batch = str(tmp_path / "batch_store")
        build_triples_store(tri, batch)

        text = """SELECT ?c ?nname WHERE {
                    ?c <mktsegment> "BUILDING" ; <nation> ?n .
                    ?n <name> ?nname . }"""
        got = sorted(
            tuple(r) for r in sparql_triples_indexed(spark, streamed, text).collect()
        )
        want = sorted(
            tuple(r) for r in sparql_triples_indexed(spark, batch, text).collect()
        )
        assert got == want and got

    def test_incremental_dictionary_append_is_deduped(self, spark, tmp_path):
        """A second drop of overlapping files must add only genuinely
        new terms to the dictionary (anti-join dedup by id)."""
        from rdf_mapreduce_joins_spark.streaming.triples_ingest import (
            _append_batch,
        )

        store = str(tmp_path / "store")
        b1 = spark.createDataFrame(
            [("s1", "p", "o1"), ("s2", "p", "o2")],
            "subject string, predicate string, object string",
        )
        b2 = spark.createDataFrame(
            [("s2", "p", "o2"), ("s3", "p", "o3")],  # s2/o2 overlap
            "subject string, predicate string, object string",
        )
        _append_batch(b1, store, batch_id=0)
        _append_batch(b2, store, batch_id=1)
        terms = [
            r.term
            for r in spark.read.parquet(f"{store}/dictionary").collect()
        ]
        assert sorted(terms) == ["o1", "o2", "o3", "s1", "s2", "s3"]

    def test_batch_retry_is_exactly_once(self, spark, tmp_path):
        """foreachBatch is at-least-once: re-delivering the SAME batch
        id (a retry after a partial write) must leave the store
        byte-identical — no duplicated triples, no lost or duplicated
        dictionary terms."""
        from rdf_mapreduce_joins_spark.streaming.triples_ingest import (
            _append_batch,
        )

        store = str(tmp_path / "store")
        b1 = spark.createDataFrame(
            [("s1", "p", "o1"), ("s2", "q", "o2")],
            "subject string, predicate string, object string",
        )
        b2 = spark.createDataFrame(
            [("s3", "p", "o3")],
            "subject string, predicate string, object string",
        )
        _append_batch(b1, store, batch_id=0)
        _append_batch(b2, store, batch_id=1)
        _append_batch(b2, store, batch_id=1)  # retry of batch 1
        tri = spark.read.parquet(f"{store}/triples")
        assert tri.count() == 3
        assert tri.select("subject", "predicate", "object").distinct().count() == 3
        terms = [
            r.term for r in spark.read.parquet(f"{store}/dictionary").collect()
        ]
        assert sorted(terms) == ["o1", "o2", "o3", "s1", "s2", "s3"]


class TestIngestStoreDetection:
    def test_empty_store_dir_treated_as_first_batch(self, spark, tmp_path):
        """A store path that EXISTS but holds no parquet yet (e.g. a
        just-mkdir'd target) must behave like an absent store — Spark's
        UNABLE_TO_INFER_SCHEMA on the empty dir is 'no store yet', not
        a crash (ADVICE r3)."""
        from rdf_mapreduce_joins_spark.streaming.triples_ingest import (
            _append_batch,
        )

        store = tmp_path / "store"
        (store / "triples").mkdir(parents=True)
        (store / "dictionary").mkdir(parents=True)
        b = spark.createDataFrame(
            [("s1", "p", "o1")],
            "subject string, predicate string, object string",
        )
        _append_batch(b, str(store), batch_id=0)
        assert spark.read.parquet(f"{store}/triples").count() == 1

    def test_legacy_layout_refused_with_migration_hint(self, spark, tmp_path):
        """A pre-ingest_batch store (predicate-only partitioning) must
        be refused BEFORE any write corrupts its partition depth."""
        from rdf_mapreduce_joins_spark.streaming.triples_ingest import (
            _append_batch,
        )

        store = tmp_path / "legacy_store"
        legacy = spark.createDataFrame(
            [("s1", "p", "o1", 1, 2)],
            "subject string, predicate string, object string, "
            "subject_id long, object_id long",
        )
        legacy.write.partitionBy("predicate").parquet(f"{store}/triples")
        b = spark.createDataFrame(
            [("s2", "p", "o2")],
            "subject string, predicate string, object string",
        )
        with pytest.raises(ValueError, match="legacy append-only"):
            _append_batch(b, str(store), batch_id=0)

    def test_legacy_check_memoized_per_store(self, spark, tmp_path, monkeypatch):
        """The legacy-layout guard costs a full file listing of the
        store, so it must run ONCE per store path, not on every
        micro-batch (ADVICE r3: per-batch partition discovery grows
        with store size)."""
        from rdf_mapreduce_joins_spark.streaming import triples_ingest as ti

        calls = {"n": 0}
        real = ti._read_if_exists

        def counting(spark_, path):
            calls["n"] += 1
            return real(spark_, path)

        monkeypatch.setattr(ti, "_read_if_exists", counting)
        store = str(tmp_path / "store")
        b = spark.createDataFrame(
            [("s1", "p", "o1")],
            "subject string, predicate string, object string",
        )
        ti._append_batch(b, store, batch_id=0)
        after_first = calls["n"]
        ti._append_batch(b, store, batch_id=1)
        # Batch 2 may still read the dictionary for the anti-join, but
        # the 2-read legacy guard must not run again.
        assert calls["n"] - after_first < after_first
        assert store in ti._LEGACY_CHECKED
