"""The one-call literal helper (operators/literals.py) and the build
cost it buys: its literals must equal the per-element ``F.lit`` form
bit for bit and in plan, and the LSH/MinHash builders must stay within
a pinned py4j call budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.operators import dedup, similarity

EDGE_DOUBLES = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    1e-300,
    1.7976931348623157e308,
    -1.7976931348623157e308,
    0.1,
    1 / 3,
    -2.5,
]


def _reference(value):
    """The per-element construction: one F.lit per leaf."""
    if isinstance(value, dict):
        return F.struct(*[_reference(v).alias(k) for k, v in value.items()])
    if isinstance(value, list):
        return F.array(*[_reference(v) for v in value])
    return F.lit(value)


@pytest.mark.parametrize(
    "value",
    [
        EDGE_DOUBLES,
        [2**31 - 1, -(2**31), 2**31, -(2**63), 2**63 - 1],
        {
            "qb": 5,
            "planes": [{"bit": 1 << j, "vec": EDGE_DOUBLES} for j in range(3)],
        },
    ],
    ids=["doubles", "ints", "nested"],
)
def test_literal_equals_per_element_reference(spark, value):
    from rdf_mapreduce_joins_spark.operators.literals import literal

    one = spark.range(1).select(literal(value).alias("v"))
    ref = spark.range(1).select(_reference(value).alias("v"))
    assert one.schema == ref.schema  # same types, same non-null elements
    # repr tells -0.0 from 0.0 and every double from its neighbours.
    assert repr(one.collect()) == repr(ref.collect())
    assert one._jdf.queryExecution().optimizedPlan().sameResult(
        ref._jdf.queryExecution().optimizedPlan()
    )
    if value is EDGE_DOUBLES:
        assert repr(one.collect()[0].v) == repr(EDGE_DOUBLES)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_literal_rejects_non_finite_doubles(bad):
    from rdf_mapreduce_joins_spark.operators.literals import literal

    with pytest.raises(ValueError, match="not a finite double"):
        literal([1.0, bad])


# Counted from the building thread: with one F.lit per constant
# element these builds made 10,594 (lsh_topk, 64-dim, 4 tables x 8
# planes) and 7,141 (minhash_signatures + minhash_lsh_pairs) py4j
# calls; with one F.expr per constant they make 626 and 1,138. The
# budgets are 15 % and 18 % of the former.
LSH_BUDGET = 1_600
MINHASH_BUDGET = 1_300


def test_lsh_topk_build_stays_within_call_budget(spark, py4j_calls):
    query = [((7 * i) % 13 - 6) / 6.0 for i in range(64)]
    emb = spark.createDataFrame(
        [(i, [float((i * j) % 5) for j in range(64)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with py4j_calls.measure():
        similarity.lsh_topk(emb, query, k=3, n_tables=4, n_planes=8)
    assert py4j_calls.count < LSH_BUDGET


def test_minhash_build_stays_within_call_budget(spark, py4j_calls):
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e")], "doc_id long, text string"
    )
    with py4j_calls.measure():
        sigs = dedup.minhash_signatures(docs)
        dedup.minhash_lsh_pairs(sigs)
    assert py4j_calls.count < MINHASH_BUDGET
