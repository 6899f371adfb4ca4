"""Parquet schema memo (sources/tables.py::read_parquet): a warm load
runs no schema-inference job, a changed file or conf is re-inferred,
unreadable paths fail as before, and plans are the same cold or warm."""

from __future__ import annotations

import os
import re
import shutil
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

import __spark_entry__ as entrymod
from rdf_mapreduce_joins_spark.plans import generic_rdf as G
from rdf_mapreduce_joins_spark.sources import tables
from rdf_mapreduce_joins_spark.sources.tables import (
    TABLES,
    load_table,
    normalize_events,
    read_parquet,
)

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
TS_NS = [1_700_000_000_123_456_000, 1_700_000_100_000_000_000]


def _jobs_run(spark, fn):
    """(fn's result, number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _memo_identity(spark, path: str):
    confs = tuple(spark.conf.get(c) for c in tables._INFERENCE_CONFS)
    return tables._SCHEMAS[(os.path.abspath(path), confs)][0]


def _entries(path: str) -> int:
    return sum(1 for k in tables._SCHEMAS if k[0] == os.path.abspath(path))


def _write_events(path: str, unit: str) -> None:
    ts = pa.array(TS_NS, pa.int64()).cast(pa.timestamp("ns")).cast(pa.timestamp(unit))
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}), path
    )


def test_warm_load_table_runs_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem")
    df, jobs = _jobs_run(spark, lambda: load_table(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert df.count() == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()


def test_warm_load_returns_new_dataframe(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a is not b
    # distinct attribute ids: a self-join resolves without ambiguity
    joined = a.alias("x").join(b.alias("y"), "n_nationkey")
    assert joined.count() == a.count()


def test_events_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    for unit in ("ns", "us", "ns"):
        _write_events(path, unit)
        df = normalize_events(read_parquet(spark, path))
        dtypes = dict(df.dtypes)
        assert (dtypes["ts_ns"], dtypes["ts_s"], dtypes["ts"]) == (
            "bigint",
            "bigint",
            "timestamp",
        )
        rows = df.orderBy("event_id").select("ts_ns", "ts_s").collect()
        assert [r.ts_ns for r in rows] == TS_NS
        assert [r.ts_s for r in rows] == [t // 1_000_000_000 for t in TS_NS]
    assert _entries(path) == 1


def test_nanos_as_long_flip_reinfers(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    _write_events(path, "ns")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        # Not served the bigint schema memoized under the other setting:
        # inference runs again and rejects or retypes TIMESTAMP(NANOS).
        try:
            ts_type = dict(read_parquet(spark, path).dtypes)["ts"]
        except AnalysisException:
            ts_type = None
        assert ts_type != "bigint"
    finally:
        spark.conf.set(NANOS_AS_LONG, "true")
    _, jobs = _jobs_run(spark, lambda: read_parquet(spark, path))
    assert jobs == 0


def test_repeated_rewrites_keep_one_entry(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    for i in range(4):
        pq.write_table(pa.table({"x": list(range(i + 1))}), path)
        assert read_parquet(spark, path).count() == i + 1
    assert _entries(path) == 1


def test_missing_table_raises_as_before(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as memo:
        load_table(spark, str(tmp_path), "nope")
    assert type(memo.value) is type(plain.value)
    assert _entries(missing) == 0


def _oracle_rows(sf_dir: str, name: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(entrymod.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    return cols, rows


def test_rebuilt_store_is_reinferred(spark, sf_dir, tmp_path, monkeypatch):
    name = "rdf_generic_indexed_sparql"
    src = tmp_path / "sf"
    shutil.copytree(sf_dir, src)
    monkeypatch.setattr(G, "_STORE_ROOT", str(tmp_path / "root"))
    cols, want = _oracle_rows(str(src), name)
    want = sorted(want)

    def run():
        df = entrymod.queries()[name](spark, str(src))
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert run() == want
    store = G._store_path(spark, str(src))
    tri = os.path.join(store, "triples")
    before = _memo_identity(spark, tri)
    # A source parquet newer than the store makes _store_path rebuild it.
    future = os.path.getmtime(os.path.join(store, "_BUILT")) + 10
    os.utime(src / "customer.parquet", (future, future))
    assert run() == want
    after = _memo_identity(spark, tri)
    assert after != before and after == tables.file_identity(tri)
    assert _entries(tri) == 1


def test_store_rebuilt_when_a_copied_source_changes(spark, sf_dir, tmp_path, monkeypatch):
    """A fixture copy keeps its sources' older mtimes (copytree), so a
    changed source can stay older than the store's marker: the store is
    rebuilt from the new data all the same."""
    name = "rdf_generic_indexed_sparql"
    src = tmp_path / "sf"
    shutil.copytree(sf_dir, src)
    monkeypatch.setattr(G, "_STORE_ROOT", str(tmp_path / "root"))
    marker = os.path.join(G._store_path(spark, str(src)), "_BUILT")
    with open(marker) as fh:
        built = fh.read()
    cust = src / "customer.parquet"
    newer = os.path.getmtime(cust) + 10
    assert newer < os.path.getmtime(marker)
    # Half the customers go: a stale store would still return them.
    full = pq.read_table(cust)
    pq.write_table(full.slice(0, full.num_rows // 2), cust)
    os.utime(cust, (newer, newer))
    cols, want = _oracle_rows(str(src), name)
    df = entrymod.queries()[name](spark, str(src))
    got = sorted(tuple(r[c] for c in cols) for r in df.collect())
    assert got == sorted(want)
    with open(marker) as fh:
        assert fh.read() != built


RDF_JOINS = (
    "rdf_chain_join",
    "rdf_cyclic_join",
    "rdf_exists_semi",
    "rdf_generic_indexed_sparql",
    "rdf_optional_join",
    "rdf_sparql_aggregate",
    "rdf_subject_star",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
)
EVENTS = tuple(sorted(n for n in entrymod.queries() if n.startswith("events_")))
# expression ids and exchange plan ids count up with every build
BUILD_IDS = re.compile(r"(#|plan_id=)\d+L?")


def _plan_text(df) -> str:
    qe = df._jdf.queryExecution()
    text = qe.optimizedPlan().toString() + "\n" + qe.executedPlan().toString()
    return BUILD_IDS.sub(r"\1", text)


@pytest.fixture
def long_metadata(spark):
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("name", RDF_JOINS + EVENTS)
def test_plan_same_cold_and_warm(spark, sf_dir, name, monkeypatch, long_metadata):
    fn = entrymod.queries()[name]
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    cold = _plan_text(fn(spark, sf_dir))
    assert tables._SCHEMAS  # the warm build below reads memoized schemas
    warm = _plan_text(fn(spark, sf_dir))
    assert cold == warm
