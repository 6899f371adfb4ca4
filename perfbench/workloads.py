"""The benchmark's workloads: frozen lists of query names.

Queries added to the engine later do not change a workload. Each list is a
subset of the engine's ``plans.QUERIES`` chosen to stress one set of layers
(see README.md for the traced per-layer figures); every name has a DuckDB
oracle.

A pass over ``rdf_joins`` or ``llm_pipeline`` takes about 2.5–3 s on 4 cores
at sf0.01, one over ``graph_loops`` about 11 s. The short lists' lengths keep
the p90 of a run's query latencies off the boundary between the slowest
query's samples and the next one's, where it would jump between the two from
run to run.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Short join queries: SPARQL/BGP compilation over the triples view plus
    # TPC-H joins. Orchestration-bound: table loads (schema inference) and
    # plan building are most of each query's time.
    "rdf_joins": (
        "rdf_chain_join",
        "rdf_cyclic_join",
        "rdf_exists_semi",
        "rdf_generic_indexed_sparql",
        "rdf_optional_join",
        "rdf_sparql_aggregate",
        "rdf_subject_star",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_volume",
    ),
    # Iterative graph operators whose builders run eager per-round loops
    # (checkpoint, convergence count) and leave storage memory held. They
    # run six of the engine's eight hand-written loops: pagerank, hits,
    # label_propagation, kcore and transitive_closure (operators/graph.py)
    # and connected_components (operators/dedup.py); shortest_hops and
    # weighted_sssp are left out to keep a pass near 11 s.
    "graph_loops": (
        "rdf_pagerank",
        "rdf_hits",
        "rdf_label_propagation",
        "rdf_kcore_members",
        "rdf_path_transitive",
        "dedup_cluster_components",
    ),
    # Dedup, similarity, Arrow UDF and format round-trip queries: execution-
    # heavy, shuffle- and Arrow-bound, and the only workload that writes
    # (and reads back what it wrote).
    "llm_pipeline": (
        "dedup_near_minhash",
        "dedup_exact_docs",
        "similarity_topk_lsh",
        "text_normalize_udf",
        "embedding_pca_project",
        "cdc_merge_apply",
        "jsonl_csv_roundtrip",
    ),
}

# Untimed passes before timing, part of set-up. They warm the JVM and the
# Arrow/Python workers: the first pass runs cold (three times as long as a
# warm one), and short passes keep getting faster with JIT compilation until
# about the fifth. One long ``graph_loops`` pass runs each loop ten or more
# rounds, after which its passes are steady.
WARM_PASSES: dict[str, int] = {"rdf_joins": 4, "graph_loops": 1, "llm_pipeline": 4}
