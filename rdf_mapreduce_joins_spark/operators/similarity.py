"""Similarity search over embedding columns (SURVEY.md §2.9 X3).

Brute-force cosine top-k as the exactness baseline, and a random-
hyperplane LSH bucketed variant as the scale path. Both are pure
DataFrame plans: the dot products run as JVM higher-order functions
(``zip_with`` + ``aggregate``) — no Python worker in the loop.

MEASURED NEGATIVE RESULT (round 6, don't re-try): replacing the
higher-order ``_assign_expr`` with fully-unrolled per-dim arithmetic
(64 getItem+sub+mul chains per centroid, whole-stage-codegen-able)
was ~1.8x SLOWER on Spark 4.1 (0.80 s vs 1.41 s steady-state for
assign+agg over 200k x 64-dim rows, bit-identical assignments) — the
HOF evaluator beats a 2000-node codegen'd expression here. Likewise a
columnar d x avg(v[i]) Lloyd mean was ~1.6x slower than the
posexplode form (3.0 s vs 1.9 s train at fixture scale). The
remaining ivf_train wall is per-job fixed overhead (seed collect +
one collect per Lloyd round on a 5000-row fixture), which amortizes
to noise at real corpus sizes — see BASELINE.md "Round-6 IVF-pair
host-drift note".

Scale posture (100 TB / 10^9 vectors): brute force is O(N·d) per query
— fine for one-off queries over partitions, wrong for query *sets*; the
LSH path buckets once (one shuffle), then each query probes only its
buckets. The hyperplanes come from a deterministic LCG so results are
reproducible across sessions with no stored model.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.operators.literals import literal


def as_double_array(col: Column | str) -> Column:
    """array<float> → array<double> (exact: every float32 is a double)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, JVM-side fold."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either side has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms precomputed per SIDE (one l2_norm per row in
    the pre-join projection) instead of per PAIR — identical arithmetic
    and operation order to :func:`cosine` (so results are bitwise
    equal), but a pairwise join evaluates one array fold per pair
    instead of three."""
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def lit_vector(values: list[float]) -> Column:
    """A query vector as a literal array<double> column, built by one
    ``F.expr`` (operators/literals.py)."""
    return literal([float(v) for v in values])


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors of a literal query vector.

    Ordering is on the *rounded* similarity with the id as tiebreaker,
    so result order is stable across engines and float low-bit noise.
    Spark plans the limit as TakeOrderedAndProject (per-partition top-k
    + merge) — no global sort even at 10^9 rows.
    """
    q = lit_vector(query_vec)
    df = embeddings
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    sim = F.round(cosine(as_double_array(vec_col), q), round_digits)
    return (
        df.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


# -- deterministic pseudo-random hyperplanes (no stored model) -------------

_LCG_MOD = 2**31
_LCG_A = 1103515245
_LCG_C = 12345


def _lcg_doubles(seed: int, n: int) -> list[float]:
    """Deterministic uniform(-1,1) doubles via a textbook LCG — stable
    across Python versions (unlike random.gauss internals)."""
    x = seed % _LCG_MOD
    out = []
    for _ in range(n):
        x = (_LCG_A * x + _LCG_C) % _LCG_MOD
        out.append(2.0 * x / _LCG_MOD - 1.0)
    return out


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    flat = _lcg_doubles(seed, dim * n_planes)
    return [flat[i * dim : (i + 1) * dim] for i in range(n_planes)]


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id (int) of a vector under the hyperplane set."""
    bucket = F.lit(0)
    for j, h in enumerate(planes):
        bit = F.when(dot(vec_col, lit_vector(h)) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    n_tables: int = 4,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing any of the
    query's ``n_tables`` LSH buckets, reranked by exact cosine.

    At scale the bucket assignment is computed once per corpus (one
    narrow column per table) and queries probe by equality — a
    broadcast-joinable lookup instead of a full scan. Deterministic:
    hyperplanes derive from (seed, table index) only.

    Build cost does not grow with the constants: the hyperplane table
    and the query vector each reach the JVM as one literal built by
    one ``F.expr`` (operators/literals.py), a fixed few py4j calls
    whatever ``n_tables`` x ``n_planes`` x dim is.
    """
    dim = len(query_vec)
    df = embeddings
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    dbl = as_double_array(vec_col)
    # The (table, plane) set is ONE constant-folded literal, an array
    # of {qb, planes:[{bit, vec}]} structs built by one F.expr, and
    # a lambda computes each table's sign-bit bucket sum per row, so
    # the expression stays the same size for any table and plane
    # count. The outer 1-element transform LET-BINDS the float->double
    # cast so it evaluates once per row instead of once per dot
    # (expressions referenced inside an HOF lambda re-evaluate per
    # invocation; a bound lambda var does not).
    # Zero tables = zero buckets to match: return an empty result (an
    # empty array literal under F.exists is untyped and fails
    # analysis).
    if n_tables <= 0:
        return (
            df.filter(F.lit(False))
            .select(F.col(id_col), F.lit(0.0).alias("sim"))
            .limit(k)
        )
    tables = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=seed + 1000 * t)
        qb = 0
        for j, h in enumerate(planes):
            if sum(q * hj for q, hj in zip(query_vec, h)) > 0:
                qb += 1 << j
        tables.append(
            {
                "qb": qb,
                "planes": [{"bit": 1 << j, "vec": h} for j, h in enumerate(planes)],
            }
        )
    tables_lit = literal(tables)
    match = F.transform(
        F.array(dbl),
        lambda v: F.exists(
            tables_lit,
            lambda tb: F.aggregate(
                tb["planes"],
                F.lit(0),
                lambda acc, p: acc
                + F.when(dot(v, p["vec"]) > 0, p["bit"]).otherwise(F.lit(0)),
            )
            == tb["qb"],
        ),
    )[0]
    q = lit_vector(query_vec)
    sim = F.round(cosine(dbl, q), round_digits)
    return (
        df.filter(match)
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_build_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: train the coarse quantizer ONCE, write the
    assigned vectors hive-partitioned by cluster id, and the k×d
    centroid matrix as a tiny sibling table.

    This is the train-once/probe-many layout for 10^9-vector corpora:
    per-query work drops from a full corpus scan to (a) a driver-side
    nearest-centroid pick over the broadcast-sized centroid table and
    (b) a scan of nprobe partition DIRECTORIES — partition pruning
    happens at file listing, before any IO. Re-training only happens
    when the index is rebuilt, not per query (the weakness of the
    inline ``ivf_topk``)."""
    spark = embeddings.sparkSession
    centroids = ivf_train(embeddings, n_centroids, n_iter, id_col, vec_col)
    dbl = as_double_array(vec_col)
    # The store always carries the id as `vec_id` — the probes
    # (ivf_topk_indexed) are builder-agnostic and read that name; a
    # caller-named id column used to crash the probe (round-4 review).
    # Cast once, then assign references the column (ivf_train's
    # CollapseProject note).
    assigned = embeddings.select(
        F.col(id_col).alias("vec_id"), dbl.alias("v")
    ).select(
        "vec_id",
        "v",
        _assign_expr(F.col("v"), centroids).alias("cid"),
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/vectors")
    cent_df = spark.createDataFrame(
        [(cid, c) for cid, c in enumerate(centroids)], "cid int, centroid array<double>"
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    exclude_id: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index: pick the ``nprobe`` nearest
    centroids driver-side (the centroid table is k×d — broadcast
    scale), then scan ONLY those cluster partitions and rerank by
    exact cosine. The ``cid`` filter is a partition-column predicate,
    so untouched clusters are pruned at file listing."""
    cents = {
        r.cid: list(r.centroid)
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }

    def sq_l2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe = sorted(cents, key=lambda cid: (sq_l2(query_vec, cents[cid]), cid))[:nprobe]
    df = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cid").isin(*[int(p) for p in probe])
    )
    if exclude_id is not None:
        df = df.filter(F.col("vec_id") != exclude_id)
    sim = F.round(cosine(F.col("v"), lit_vector(query_vec)), round_digits)
    return (
        df.select(F.col("vec_id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def lsh_build_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_tables: int = 4,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a random-hyperplane LSH index: one row per (table,
    bucket, vector), hive-partitioned by (t, bucket). Hyperplanes are
    derived from (seed, table) only, so the probe side recomputes them
    — no model object to ship. Storage is ×n_tables the corpus (the
    standard multi-table LSH trade: recall for space)."""
    dbl = as_double_array(vec_col)
    per_table = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=seed + 1000 * t)
        per_table.append(
            embeddings.select(
                F.lit(t).alias("t"),
                lsh_bucket(dbl, planes).alias("bucket"),
                # normalized store name, see ivf_build_index
                F.col(id_col).alias("vec_id"),
                dbl.alias("v"),
            )
        )
    rows = per_table[0]
    for other in per_table[1:]:
        rows = rows.unionByName(other)
    rows.write.mode("overwrite").partitionBy("t", "bucket").parquet(f"{path}/buckets")


def lsh_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_tables: int = 4,
    n_planes: int = 8,
    seed: int = 42,
    exclude_id: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Probe a persisted LSH index: compute the query's bucket per
    table driver-side, scan only those (t, bucket) partitions, dedup
    candidates across tables, exact-cosine rerank."""
    dim = len(query_vec)
    probe = F.lit(False)
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed=seed + 1000 * t)
        qb = 0
        for j, h in enumerate(planes):
            if sum(q * hj for q, hj in zip(query_vec, h)) > 0:
                qb += 1 << j
        probe = probe | ((F.col("t") == t) & (F.col("bucket") == qb))
    df = spark.read.parquet(f"{path}/buckets").filter(probe)
    if exclude_id is not None:
        df = df.filter(F.col("vec_id") != exclude_id)
    cand = df.select("vec_id", "v").dropDuplicates(["vec_id"])
    sim = F.round(cosine(F.col("v"), lit_vector(query_vec)), round_digits)
    return (
        cand.select(F.col("vec_id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (X2 family): all pairs
    within a blocking key with cosine ≥ threshold.

    The block column is the IVF-style coarse quantizer: pairs are only
    formed inside a block, so the self-join shuffles on the block key
    and never goes cartesian across the corpus. (At 100 TB the block
    would be a learned cluster id; here the ``label`` column plays that
    role.)"""
    dbl = as_double_array(vec_col)
    left = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id1"),
        dbl.alias("v1"),
        l2_norm(dbl).alias("n1"),
    )
    right = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id2"),
        dbl.alias("v2"),
        l2_norm(dbl).alias("n2"),
    )
    sim = F.round(
        cosine_prenormed(F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")),
        round_digits,
    )
    return (
        left.join(right, on="blk")
        .filter(F.col("id1") < F.col("id2"))
        .select("blk", "id1", "id2", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# -- k-NN join (every query vector -> its top-k neighbors) -----------------


def knn_join_brute(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
    round_digits: int = 4,
) -> DataFrame:
    """Exact k-NN *join*: for every row of ``queries``, the ``k``
    highest-cosine rows of ``base`` (excluding self-matches by id).
    Output: (qid, vec_id, sim, rnk).

    Shape: the query set is broadcast (it is the bounded side — a probe
    batch, never the corpus) and the corpus is scanned ONCE, each
    partition scoring all queries against its rows JVM-side. The
    row_number-filter compiles to a PARTIAL WindowGroupLimit below the
    exchange (plan-gated), so each task pre-reduces to its local top-k
    per query and the shuffle carries at most |Q|*k rows per task —
    the map-side-combine of top-k. Still a full-corpus scan per batch
    (that is what "exact" costs); :func:`knn_join_ivf` bounds the
    scored candidates too. Ranking happens on the ROUNDED similarity
    with an id tiebreak so it is reproducible across engines."""
    from pyspark.sql import Window

    bdbl = as_double_array(vec_col)
    qdbl = as_double_array(q_vec_col)
    b = base.select(F.col(id_col), bdbl.alias("_bv"), l2_norm(bdbl).alias("_bn"))
    q = queries.select(F.col(q_id_col), qdbl.alias("_qv"), l2_norm(qdbl).alias("_qn"))
    sim = F.round(
        cosine_prenormed(F.col("_bv"), F.col("_qv"), F.col("_bn"), F.col("_qn")),
        round_digits,
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        b.join(F.broadcast(q), F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def _centroid_dist_entries(vec: Column, centroids: list[list[float]]) -> Column:
    """array<struct<dist, cid>> of squared-L2 distances to every
    centroid. The k x d centroid matrix is ONE constant-folded
    array-of-structs literal built by one ``F.expr``, iterated by a
    transform lambda, so the expression has the same size for any k
    and d, and each Lloyd round of ivf_train rebuilds it in one round
    trip. Every row runs the same float op sequence (zip order,
    left-to-right aggregate), so distances and every tiebreak are
    deterministic."""
    arr = literal(
        [
            {"cid": cid, "c": [float(x) for x in c]}
            for cid, c in enumerate(centroids)
        ]
    )
    return F.transform(
        arr,
        lambda ce: F.struct(
            F.aggregate(
                F.zip_with(vec, ce["c"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            ce["cid"].alias("cid"),
        ),
    )


def _probe_expr(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """array<int> of the ``nprobe`` nearest centroid ids (squared L2,
    lowest-id tiebreak via struct ordering)."""
    entries = _centroid_dist_entries(vec, centroids)
    return F.transform(
        F.slice(F.sort_array(entries), 1, nprobe), lambda e: e["cid"]
    )


def knn_join_ivf(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
    round_digits: int = 4,
    train_round_digits: int | None = None,
) -> DataFrame:
    """Approximate k-NN join via a shared IVF coarse quantizer — the
    corpus-scale path: base rows are assigned to their nearest
    centroid, each query expands to its ``nprobe`` nearest centroids,
    and candidates come from an EQUI-join on the cluster id. Per-query
    work is bounded by nprobe cluster sizes before any shuffle, so the
    top-k window's input is |Q| x (nprobe/n_centroids) x |base| instead
    of |Q| x |base|. With the index persisted hive-partitioned by
    cluster id (see ivf_build_index), the probe also prunes partitions
    at file listing. Deterministic: seeded quantizer, id tiebreaks."""
    from pyspark.sql import Window

    centroids = ivf_train(
        base, n_centroids, n_iter, id_col, vec_col,
        round_digits=train_round_digits,
    )
    bdbl = as_double_array(vec_col)
    # Cast once, then norm/assign reference the column (ivf_train's
    # CollapseProject note).
    assigned = base.select(F.col(id_col), bdbl.alias("_bv")).select(
        F.col(id_col),
        F.col("_bv"),
        l2_norm(F.col("_bv")).alias("_bn"),
        _assign_expr(F.col("_bv"), centroids).alias("_cid"),
    )
    qdbl = as_double_array(q_vec_col)
    probes = queries.select(
        F.col(q_id_col),
        qdbl.alias("_qv"),
        l2_norm(qdbl).alias("_qn"),
        F.explode(_probe_expr(qdbl, centroids, nprobe)).alias("_cid"),
    )
    sim = F.round(
        cosine_prenormed(F.col("_bv"), F.col("_qv"), F.col("_bn"), F.col("_qn")),
        round_digits,
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        assigned.join(F.broadcast(probes), on="_cid")
        .filter(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col, sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


# -- IVF (inverted-file) coarse quantization -------------------------------


def _assign_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """Cluster id of the nearest centroid (squared L2; ties -> lowest
    id). One JVM expression: array of (dist, cid) structs -> array_min
    uses struct ordering, so the tiebreak is built in. Entries come
    from the shared constant-folded transform (_centroid_dist_entries)
    rather than per-centroid unrolled expressions — same floats,
    ~k x smaller expression tree."""
    return F.array_min(_centroid_dist_entries(vec, centroids))["cid"]


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> list[list[float]]:
    """Deterministic k-means-lite coarse quantizer: init = the
    ``n_centroids`` lowest-id corpus vectors, then ``n_iter`` Lloyd
    rounds. Each round is one distributed assign + elementwise-mean
    aggregation (posexplode -> avg per (cluster, dim)); only the k x d
    centroid matrix ever reaches the driver. Empty clusters keep their
    previous centroid, so the centroid count is stable.

    ``round_digits`` snaps each round's centroid means to a decimal
    grid (the pagerank/ewma fixed-point pattern): per-dim means then
    agree bit-for-bit with any engine running the same recurrence
    with the same rounding, which is what lets
    ``embedding_kmeans_clusters`` carry a full SQL oracle."""
    dbl = as_double_array(vec_col)
    seed_rows = (
        embeddings.select(F.col(id_col), dbl.alias("v"))
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r.v) for r in seed_rows]
    if not centroids:
        raise ValueError("ivf_train: empty corpus — nothing to cluster")
    # A corpus smaller than n_centroids seeds fewer centroids; the
    # Lloyd loop must iterate over the ACTUAL count or the rebuild
    # list below KeyErrors on the phantom ids (round-4 review).
    k_eff = len(centroids)
    # The float->double cast array is projected to a real column BEFORE
    # the assign expression references it k times: a non-cheap alias
    # referenced more than once is not inlined by CollapseProject, so
    # the cast runs once per row instead of once per centroid (round
    # 11 — the same repeated-subexpression class as the word_ngrams
    # lambda trap; the HOF evaluator does no subexpression
    # elimination).
    vecs = embeddings.select(dbl.alias("v"))
    for _ in range(n_iter):
        assigned = vecs.select(
            _assign_expr(F.col("v"), centroids).alias("cid"), "v"
        )
        mean_col = F.avg("x")
        if round_digits is not None:
            mean_col = F.round(mean_col, round_digits)
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(mean_col.alias("m"))
            .collect()
        )
        new = {cid: list(c) for cid, c in enumerate(centroids)}
        acc: dict[int, dict[int, float]] = {}
        for r in means:
            acc.setdefault(r.cid, {})[r.pos] = r.m
        for cid, dims in acc.items():
            new[cid] = [dims[i] for i in range(len(centroids[0]))]
        centroids = [new[cid] for cid in range(k_eff)]
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    round_digits: int = 4,
    train_round_digits: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: search only the ``nprobe`` clusters
    whose centroids are nearest the query, exact cosine rerank inside.

    The scan-reduction story at 10^9 vectors: the cluster-id column is
    computed once at ingest (or persisted by ``ivf_train`` + assign)
    and the probe is a partition-prunable equality filter — the search
    touches nprobe/n_centroids of the corpus instead of all of it.
    Deterministic end to end (seeded init, fixed rounds, id tiebreaks)."""
    centroids = ivf_train(
        embeddings, n_centroids, n_iter, id_col, vec_col,
        round_digits=train_round_digits,
    )

    def sq_l2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe = sorted(
        range(len(centroids)), key=lambda cid: (sq_l2(query_vec, centroids[cid]), cid)
    )[:nprobe]
    dbl = as_double_array(vec_col)
    df = embeddings
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    cand = df.filter(_assign_expr(dbl, centroids).isin(*[int(p) for p in probe]))
    sim = F.round(cosine(dbl, lit_vector(query_vec)), round_digits)
    return (
        cand.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def semantic_prune(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    train_round_digits: int | None = None,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe): k-means-cluster
    the corpus with the coarse quantizer, then inside each cluster
    drop every vector that has a near-duplicate (cosine >= threshold)
    with a smaller id — keeping one deterministic representative per
    near-dup chain. Returns the KEPT (id, cid) rows.
    ``train_round_digits`` is forwarded to ivf_train's fixed-point
    grid (engine-independent centroids -> SQL-oracle-able).

    Scale shape: candidate pairs are generated per CLUSTER (equi-join
    on cid), never across the corpus — the learned twin of the
    label-blocked cosine_pairs. The k x d centroid matrix is the only
    driver-side state; the drop set is an anti join. At web scale the
    cluster count grows with the corpus (n_centroids ~ sqrt(n)) to
    bound per-cluster pair counts."""
    centroids = ivf_train(
        embeddings, n_centroids, n_iter, id_col, vec_col,
        round_digits=train_round_digits,
    )
    dbl = as_double_array(vec_col)
    # Two-stage projection (cast once, then norm + assign reference the
    # column — see ivf_train), and persist: the assign expression is
    # the expensive per-row term and this frame feeds BOTH self-join
    # sides and the final keep projection — without the persist it is
    # evaluated three times (round 11, guide §2.4).
    assigned = (
        embeddings.select(F.col(id_col), dbl.alias("_v"))
        .select(
            F.col(id_col),
            F.col("_v"),
            l2_norm(F.col("_v")).alias("_n"),
            _assign_expr(F.col("_v"), centroids).alias("cid"),
        )
        .persist()
    )
    a = assigned.select(
        F.col(id_col).alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
        "cid",
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
        "cid",
    )
    sim = F.round(
        cosine_prenormed(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        round_digits,
    )
    # No distinct on the drop set: LEFT ANTI is set-semantics on the
    # probe side already, so deduping first only adds an exchange +
    # two hash aggregates ahead of the anti join's own shuffle.
    dropped = (
        a.join(b, on="cid")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(sim >= threshold)
        .select(F.col("_idb").alias(id_col))
    )
    return assigned.select(id_col, "cid").join(dropped, on=id_col, how="left_anti")
