"""Regenerate PLANS.md: formatted physical plans for representative
queries, with the scale-relevant property each one demonstrates.

Usage: python tools/explain_audit.py [sf_dir]

The same properties are enforced mechanically by tests/test_plans.py;
this artifact exists so a reviewer can see the actual plans without
running anything.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdf_mapreduce_joins_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

SHOWCASE = [
    (
        "scan_project_filter",
        "Predicate pushdown + column pruning: all three filters appear as "
        "PushedFilters on the parquet scan and ReadSchema lists only the 4 "
        "referenced lineitem columns (of 16).",
    ),
    (
        "join_broadcast_dims",
        "Dimension joins broadcast: both nation and region build "
        "BroadcastHashJoin sides; the customer fact table never shuffles.",
    ),
    (
        "join_sortmerge",
        "Fact-to-fact chain: shuffles on the join keys only; aggregation is "
        "partial+final (map-side combine). Money sums accumulate in DECIMAL "
        "(order-independent).",
    ),
    (
        "rdf_chain_join",
        "BGP chain over the triples view: vertical partitioning means each "
        "pattern scans only its 1-3 base-table columns; constant-bound "
        "sides broadcast.",
    ),
    (
        "rdf_property_table",
        "The reference's property-table layout as a pivot: a 3-pattern "
        "subject star becomes one scan + one shuffle, zero joins.",
    ),
    (
        "dedup_near_minhash",
        "MinHash+LSH: the signature aggregation's exchange is planned once "
        "and reused by the band self-join and both signature re-joins "
        "(ReusedExchange appears after execution under AQE).",
    ),
    (
        "orderby_limit_global",
        "Global top-k plans TakeOrderedAndProject (per-partition top-k + "
        "merge), not a total sort.",
    ),
    (
        "asof_join_events",
        "As-of join as union + last-ignore-nulls window: ONE shuffle on the "
        "key, no join node at all, no row amplification.",
    ),
    (
        "rdf_path_sequence",
        "Property paths are pure syntax: the sequence <nation>/<region>/"
        "<name> and inverse ^<customer>/<status> lower to the same "
        "chain-join plan as hand-written patterns — fresh variables add "
        "no operators, broadcast/encoded-id joins apply unchanged.",
    ),
    (
        "rdf_sparql_construct",
        "CONSTRUCT instantiates the template per solution then dedupes: "
        "the WHERE solution subtree is planned once and feeds both "
        "template projections (union → one hash-distinct shuffle).",
    ),
    (
        "similarity_knn_join",
        "Batch k-NN join: probe batch broadcast (bounded build side), corpus "
        "scanned once, and the top-k rank filter compiles to a PARTIAL "
        "WindowGroupLimit below the exchange — the shuffle carries at most "
        "|Q|*k rows per task, never |Q|*|corpus|.",
    ),
    (
        "rdf_path_star",
        "Reflexive-transitive path <manager>* = iterative-doubling closure "
        "UNION identity over the predicate's node domain, deduplicated — "
        "the zero-length match adds one union branch + distinct, no extra "
        "scan of the base table beyond the closure's own.",
    ),
    (
        "docs_pack_sequences",
        "Sequence packing: window running-sum and the bin aggregation both "
        "partition on lang, so the whole op is ONE shuffle; bin assignment "
        "is a per-row projection over the windowed cumsum.",
    ),
    (
        "docs_chunk_overlap",
        "Context-window chunking: start-index sequence + slice + one "
        "Generate (posexplode) — zero shuffles, zero Python; chunk hashes "
        "project straight off the exploded row.",
    ),
    (
        "dataset_split_assign",
        "Hash split assignment: pure per-row projection (md5 + hex-string "
        "compare) — no shuffle at any scale, and the split is stable under "
        "corpus growth because it depends on the row alone.",
    ),
    (
        "rdf_sparql_aggregate",
        "SPARQL 1.1 aggregation from text: one hash aggregation over the "
        "dictionary-encoded solution frame (partial+final), group keys "
        "decoded AFTER the aggregation — decode cost is per group, and "
        "the HAVING filter runs on the aggregated row counts.",
    ),
    (
        "rdf_generic_triples_sparql",
        "Generic-vocabulary SPARQL over a raw (s,p,o) frame: one filtered "
        "projection of the triples scan per pattern, string equi-joins, "
        "AQE picking broadcast for the small sides — the no-schema path "
        "an N-Triples user runs; store partitioned by predicate and the "
        "per-pattern filters become partition pruning (plan-tested).",
    ),
    (
        "tpch_q6_forecast_revenue",
        "TPC-H Q6, the pushdown benchmark: all three predicates reach the "
        "parquet scan as PushedFilters, the plan is join-free, and the "
        "only exchange is the 1-row final aggregation merge.",
    ),
    (
        "tpch_q2_min_cost_supplier",
        "TPC-H Q2's correlated MIN subquery lowered to a window over the "
        "partkey partition: ONE hashpartitioning exchange instead of an "
        "aggregate + join-back; supplier/nation/region broadcast.",
    ),
    (
        "tpch_q21_waiting_supplier",
        "TPC-H Q21's EXISTS / NOT EXISTS pair as one left-semi + one "
        "left-anti self-join, both shuffled on orderkey so the three "
        "lineitem passes share an exchange layout.",
    ),
    (
        "tpch_q22_dormant_customers",
        "Scalar-subquery threshold: the (sum, count) aggregate broadcasts "
        "as a single-row nested-loop build side (the sanctioned BNLJ "
        "shape); the dormancy NOT EXISTS is a left-anti against the "
        "date-filtered orders scan.",
    ),
    (
        "rdf_variable_predicate",
        "Variable predicate ?s ?p ?c with typed endpoints: the branch "
        "union is pruned at PLAN BUILD — the incoming-edge block scans "
        "only orders.parquet, the outgoing block only customer.parquet; "
        "match-any-predicate never means scan-every-table.",
    ),
    (
        "text_tfidf_topk",
        "TF-IDF: integer tf/df aggregates, 1-row broadcast N, the df join "
        "shuffling on token (AQE skew-split owns the stopword keys), and "
        "the per-doc top-5 rank rides the tf aggregate's doc_id "
        "partitioning.",
    ),
    (
        "text_bm25_rank",
        "BM25: tf pre-filtered to the query terms AT THE EXPLODE, so the "
        "scoring join touches a handful of hot keys against broadcast "
        "stats; TakeOrderedAndProject caps the result at k.",
    ),
    (
        "join_salted_skew",
        "Salted skew join: the fact side carries an 8-way salt column, "
        "the dimension side explodes once per salt — the join key becomes "
        "(key, salt) so one hot supplier spreads over 8 reducers; the "
        "post-join aggregation is unchanged (oracle-proven neutral).",
    ),
    (
        "rdf_triangle_count",
        "Exact triangles over int64 dictionary ids (nothing decodes — "
        "the count is invariant under vertex bijection): canonicalized "
        "lo<hi edges, wedge join on the middle vertex, then a "
        "shuffle-hash left-semi probe of the closing edge (hash the "
        "small edge side, never sort the wedge stream). Orientation is "
        "gated on a 1-row wedge-volume probe: id-ordered when wedges "
        "are cheap, degree-ordered (node-iterator++: hubs contribute "
        "zero ordered wedges) when the hub spine would blow up wedge "
        "volume — each triangle counted once either way.",
    ),
    (
        "events_interval_join",
        "Bucketed range join: the interval-containment theta join is "
        "rewritten as explode-to-buckets + a shuffled equi-join on "
        "(event_type, bucket) with exact containment re-checked after — "
        "no BroadcastNestedLoopJoin/CartesianProduct anywhere in the plan.",
    ),
    (
        "dedup_substring_spans",
        "Exact-substring dedup: tokenize once, transform(sequence(...)) "
        "rolling 12-token windows, md5 digests exploded into one "
        "partial+final hash aggregation — only 32-char digests cross the "
        "single exchange; the span text never shuffles.",
    ),
    (
        "rdf_hierarchy_rollup",
        "Closure composed with aggregation: the (ancestor, descendant) "
        "pairs from the doubling closure join the supplier dimension on "
        "the descendant key and hash-aggregate by ancestor — the O(N*d) "
        "ancestor-path layout for hierarchy rollups, no per-manager "
        "recursive probes.",
    ),
    (
        "events_feature_matrix",
        "Five lag/rolling features from ONE window specification: a "
        "single Exchange on user_id and a single Sort feed one Window "
        "node computing lag1/lag2/sum3/min3/max3 together — adding a "
        "feature adds zero shuffles.",
    ),
    (
        "parts_pareto_skyline",
        "Skyline without the quadratic self-join: per-(bucket, price) "
        "aggregate, bucket-partitioned running max, and a bounded "
        "bucket-summary window — the only unpartitioned window runs "
        "over #buckets rows, never the data.",
    ),
    (
        "events_resample_interp",
        "Gap-fill + interpolation with NO as-of self-join: the daily "
        "grid explodes from per-user spans, and both interpolation "
        "neighbors come from two IGNORE-NULLS window scans that share "
        "one (user_id, day) Exchange+Sort.",
    ),
    (
        "sample_weighted_docs",
        "Weighted sampling as TakeOrderedAndProject: per-partition "
        "top-k then a k-row driver merge — no global Sort "
        "materialization at any corpus size; the ln(u)/w key is pure "
        "codegen arithmetic on a hash-derived uniform.",
    ),
    (
        "agg_incremental_merge",
        "Cross-job incremental refresh: two filtered partial aggregates "
        "union into a #groups-sized merge — the published result never "
        "rescans history, and the merge shuffle moves group rows, not "
        "the corpus.",
    ),
    (
        "rdf_weighted_sssp",
        "Bellman-Ford round (plan of the returned frame): the settled "
        "frame joins only LAST round's improvements against the "
        "cheapest-copy adjacency; localCheckpoint keeps the per-round "
        "plan O(1) across 12 rounds.",
    ),
    (
        "dedup_near_minhash",
        "MinHash+LSH on the md5-60bit cross-engine family "
        "(operators/hashing.py): one explode + ONE grouped aggregation "
        "computes all 64 permutation minima (map-side combine — the "
        "shuffle carries a row per doc, not per shingle); band bucket "
        "self-join only ever joins hash-colliding buckets, never "
        "all-pairs; the whole pipeline stays in WholeStageCodegen "
        "(md5/conv are JVM expressions, no Python).",
    ),
    (
        "text_heavy_hitters_cms",
        "Count-min sketch as a DataFrame: depth hash rows come from one "
        "scan (inline index explode), the counter table is a bounded "
        "depth*width aggregation, and estimation is a BROADCAST left "
        "join of the probe against the <=depth*width-row sketch — "
        "sketch state constant in the corpus size.",
    ),
    (
        "embedding_pca_project",
        "Distributed PCA: the sufficient-statistics pass is the ONLY "
        "Python stage (Arrow-batched mapInPandas emitting d^2+d+1 "
        "partials per batch, independent of row count); the projection "
        "of every row is pure codegen fold arithmetic over broadcast "
        "literal components — no Python, no shuffle.",
    ),
    (
        "agg_kmv_distinct",
        "Bottom-k (KMV) distinct sketch: the row_number <= k filter "
        "plans a PARTIAL WindowGroupLimit before the exchange and a "
        "final one after — every map task retains only its own k "
        "smallest hashes per key, so shuffle volume is O(keys*k) "
        "regardless of the distinct-set size.",
    ),
    (
        "join_bloom_prefilter",
        "The runtime-filter pattern, explicit: the 1024-bit bloom "
        "bitset is <= 18 BIGINT words built once (localCheckpoint) and "
        "broadcast; fact membership is 3 BroadcastHashJoins on word "
        "index + shift/mask — the fact table is filtered before any "
        "shuffle, with no per-row set scan and no nested loop.",
    ),
    (
        "events_rolling_distinct_portable",
        "Rolling distinct from portable daily register tables: the "
        "trailing-window merge is a sequence-explode EQUI-join over "
        "#days x 256 integer register rows (no range join, no "
        "BroadcastNestedLoop), then bucket-wise MAX — merge state is "
        "constant per day regardless of event volume.",
    ),
    (
        "customer_rfm_segments",
        "Global quintiles WITHOUT a single-partition window (r7): each "
        "axis gets an exact rank from value-domain-bounded bucket "
        "partials + a cumulative window over the BUCKET SUMMARY only + "
        "a bucket-partitioned row_number; ntile is rebuilt from "
        "(rank, N) by integer arithmetic. The only unpartitioned "
        "windows run over bounded bucket spines — measured 1.01x wall "
        "at 10x data.",
    ),
    (
        "dedup_incremental_components",
        "Incremental clustering (r7): the new batch's band entries join "
        "the full band index (probe-mode LSH — candidate cost scales "
        "with the batch), old endpoints contract to their PERSISTED "
        "component labels, and min-label closure runs over the "
        "contracted delta graph only; the from-scratch closure is the "
        "oracle, so merged == recomputed is hash-proven.",
    ),
    (
        "dedup_jaccard_prefix_filter",
        "Prefix-filtered exact Jaccard, SKEW-GATED since r8: a 1-row "
        "df-distribution probe (the capped query's statistic) picks the "
        "route — on this near-uniform fixture the plan below IS the "
        "plain shared-token self-join (no ranking window); on "
        "hub-skewed corpora the df-ASCENDING prefix route engages "
        "(window partitioned by doc_id — never global) so hub tokens "
        "never enter the candidate join. Both routes are LOSSLESS, so "
        "one plain-quadratic oracle hash-proves whichever ran; the "
        "prefix plan itself is pinned by a forced-route test.",
    ),
    (
        "dedup_epoch_compaction",
        "Epoch compaction (r8): persisted signature state is evicted "
        "below an id-range horizon (a partition delete at scale), the "
        "retained window's labels are RECOMPUTED (evicted nodes may be "
        "the only bridge between retained clusters), and the arriving "
        "batch folds in via probe-mode band candidates + label "
        "contraction. Oracle = from-scratch closure over exactly the "
        "retained window: one hash-match proves no-leakage, "
        "compaction==from-scratch, and merge exactness.",
    ),
    (
        "cdc_merge_apply",
        "CDC MERGE/upsert apply (r9): the changelog batch collapses to "
        "its latest version per key with a max_by AGGREGATE (one "
        "shuffle, map-side combinable — no window sort over the "
        "changelog), and the merge onto the persisted snapshot is a "
        "single full-outer SortMergeJoin on the key. Per-batch cost is "
        "O(batch ∪ touched keys); the oracle's from-scratch "
        "last-writer-wins fold proves chained applies exact.",
    ),
    (
        "cdc_compact_state",
        "CDC horizon compaction (r11): the tracked state persists "
        "PARTITIONED BY activity year, so the retention filter is pure "
        "partition pruning (PartitionFilters on act_yr — eviction is a "
        "directory delete at scale); the two chained MERGE applies are "
        "max_by aggregates + one full-outer join each, and the oracle's "
        "from-scratch fold over the retained horizon hash-proves the "
        "eviction boundary.",
    ),
    (
        "rdf_hits",
        "HITS hubs & authorities (r11): the two-sided recurrence runs "
        "over int64 dictionary ids; the edge list is persisted TWICE, "
        "pre-partitioned on src (auth half) and dst (hub half), so "
        "each half-round's InMemoryRelation joins without re-shuffling "
        "the O(|E|) side — only the O(|V|) score frames move; the "
        "per-half normalization is a 1-row broadcast; scores snap to "
        "the 1e-9 grid per boundary (cross-engine determinism) and "
        "the final 4-decimal snap is mirrored floor IEEE arithmetic, "
        "never an engine round.",
    ),
    (
        "tpch_q1_pricing_summary",
        "Scan-heavy pricing summary: shipdate filter pushed to the "
        "scan, sums accumulate in DECIMAL (order-independent), and "
        "since r8 the scale-6 product sums ROUND to 2 digits in "
        "decimal BEFORE the double cast — at sf1 the cast numerator "
        "passes 2^53 where DuckDB double-rounds and the JVM rounds "
        "once, a 1-ulp split only visible at 10x scale.",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
        "",
        f"Plans below are `explain('formatted')` output at `{sf_dir}`.",
        "The properties called out are enforced by `tests/test_plans.py`;",
        "regenerate after plan-affecting changes.",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
