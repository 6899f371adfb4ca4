"""Document deduplication operators (SURVEY.md §2.9 X1/X2).

Exact dedup is a hash-groupBy (plans/llm.py — no code needed here).
This module implements the *near*-dup family as pure DataFrame plans:

* **MinHash + LSH** — shingle → 64 minhash permutations → 16 bands × 4
  rows → band-bucket self-join → candidate pairs with estimated Jaccard.
* **SimHash** — token-hash sign-sum → 64-bit signature as 4×16-bit
  bands → band-collision candidates → exact Hamming distance.

Everything is integer arithmetic over ``xxhash64`` (fixed seed inside
Spark), so results are deterministic across runs — the driver's
rows-only check depends on that.

Scale posture: both algorithms are shuffle-bounded — candidate pairs
only arise from hash-bucket collisions (never an all-pairs join), the
band join shuffles on (band, bucket-hash), and the signature aggregation
is one partial+final hash agg over the exploded shingles. That is the
standard web-scale dedup layout (the band join dominates; skewed buckets
are handled by AQE skew-join splitting).

Both pair generators additionally take a ``max_bucket_size`` guard: a
band bucket holding B documents emits B·(B−1)/2 candidate pairs, so one
degenerate bucket (e.g. millions of boilerplate near-identical pages at
web scale) can dominate the whole job quadratically — beyond what AQE
skew splitting can amortize, because the blow-up is in the join OUTPUT.
Oversized buckets are dropped before the self-join; the documents in
them are, by construction, members of a huge near-dup cluster that is
better handled by the exact-dedup pass (X1) than by pairwise emission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.operators import hashing
from rdf_mapreduce_joins_spark.operators.loops import converge, released
from rdf_mapreduce_joins_spark.sources.tables import spread

# Universal-hash domain: h0 ∈ [0, P31); permutation i is
# (A_i * h0 + B_i) mod P31 with A_i < 2^30 so products stay far inside
# int64 (Spark 4 runs ANSI mode — overflow would throw, not wrap).
P31 = 2_147_483_647  # 2^31 - 1, prime
_KNUTH = 2_654_435_761


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) pairs; A_i ∈ [1, 2^30), B_i ∈ [0, 2^30)."""
    out = []
    for i in range(num_perm):
        a = (_KNUTH * (2 * i + 1)) % (1 << 30)
        b = (_KNUTH * (2 * i + 2) + 12345) % (1 << 30)
        out.append((a | 1, b))
    return out


def shingles(text_col: str, k: int = 3) -> F.Column:
    """Word k-gram shingles of a whitespace-tokenized text column.

    Documents shorter than k tokens contribute their full token string
    as a single shingle (so they still get a signature).

    Built by zip_with over k shifted slices of the token array, NOT
    transform over indices: expressions referenced inside a
    higher-order-function lambda are re-evaluated on every lambda
    invocation, so the old `element_at(w, i + j + 1)` form re-split
    the text k times per shingle — O(len²·k) per document. Each slice
    evaluates the array once and the zip lambda touches only lambda
    variables, so this form is O(len·k) (same fix as
    operators/text.py::word_ngrams, round 11)."""
    w = F.split(F.col(text_col), " ")
    m = F.size(w) - (k - 1)
    ngrams = F.slice(w, 1, m)
    for j in range(1, k):
        ngrams = F.zip_with(
            ngrams,
            F.slice(w, 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(w) >= k, ngrams).otherwise(F.array(F.col(text_col)))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) minhash signatures.

    One explode + one grouped aggregation with ``num_perm`` min()
    columns — partial aggregation (map-side combine) applies, so the
    shuffle carries one row per (doc × partition), not per shingle.
    Each min() column, and the ``sig`` array over them, is one SQL
    expression string, so the build makes a few py4j calls per column
    instead of several per operator and constant.

    ``hash_family`` picks the base shingle hash (operators/hashing.py):
    xxhash64 (default, cheapest at 100 TB) or md5-60bit (cross-engine —
    the registered query runs this family so the whole pipeline gets a
    DuckDB oracle). Everything downstream of h0 is identical.

    The explicit id-not-null filter is load-bearing for plan quality:
    downstream join null-filters cannot push below the bucket-cap
    Window, so without it the band-bucket path and the signature
    re-join paths scan canonically DIFFERENT subtrees and the
    signature aggregation's exchange is recomputed instead of reused
    (plan-gated in test_minhash_signature_exchange_reused)."""
    sh = spread(docs.filter(F.col(id_col).isNotNull())).select(
        F.col(id_col), F.explode(shingles(text_col, shingle_k)).alias("shingle")
    ).withColumn("h0", F.pmod(hashing.base_hash60("shingle", hash_family), F.lit(P31)))
    aggs = [
        F.expr(f"min(pmod({a} * h0 + {b}, {P31})) AS m{i}")
        for i, (a, b) in enumerate(_perm_constants(num_perm))
    ]
    per_doc = sh.groupBy(id_col).agg(*aggs)
    sig = ", ".join(f"m{i}" for i in range(num_perm))
    return per_doc.select(F.col(id_col), F.expr(f"array({sig}) AS sig"))


def _cap_buckets(
    buckets: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop hash buckets holding more than ``max_bucket_size`` members.

    Implemented as an unordered count-window over the bucket key — the
    window's shuffle is on the same key the candidate self-join uses,
    so the exchange is reused rather than added."""
    if max_bucket_size is None:
        return buckets
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def band_index_entries(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    hash_family: str = "xxhash64",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode signatures into their LSH band-bucket entries:
    one row per (id, band, bh) where ``bh`` compacts the band's
    ``rows_per_band`` signature values (xxhash64 of the tuple in the
    default family; the exact ``:``-joined value string in the
    engine-portable md5 family). ``extra_cols`` are carried through
    unchanged (e.g. ``sig`` for a denormalized persisted index).

    This is THE band-key computation — minhash_lsh_pairs builds both
    its index and probe sides from it, and the streaming
    incremental-clustering sink persists exactly these rows, so
    stream and batch band keys are identical by construction."""

    def bucket_key(b: int) -> str:
        vals = [
            f"element_at(sig, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        ]
        if hash_family == "md5":
            strs = ", ".join(f"CAST({v} AS STRING)" for v in vals)
            return f"concat_ws(':', {strs})"
        return f"xxhash64({b}, {', '.join(vals)})"

    # All bands' keys are one SQL expression (a few py4j calls).
    entries = F.expr(
        "array("
        + ", ".join(f"struct({b} AS band, {bucket_key(b)} AS bh)" for b in range(bands))
        + ")"
    )
    return signatures.select(
        F.col(id_col), F.explode(entries).alias("e"), *extra_cols
    ).select(
        id_col,
        F.col("e.band").alias("band"),
        F.col("e.bh").alias("bh"),
        *extra_cols,
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    min_est_jaccard: float = 0.5,
    round_digits: int = 4,
    max_bucket_size: int | None = 10_000,
    hash_family: str = "xxhash64",
    probe: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from banded LSH, with the signature-
    estimated Jaccard. Pair (d1 < d2) appears once regardless of how
    many bands collide. Buckets larger than ``max_bucket_size`` are
    dropped before the self-join (see module docstring).

    The band bucket key compacts the band's ``rows_per_band`` signature
    values: xxhash64 of the tuple in the default family (8-byte key —
    the shuffle-friendly choice; a 2^-64 collision merges two buckets
    and only ever ADDS candidates, never drops a true pair), or the
    exact ``:``-joined value string in the md5 family (collision-free
    and engine-portable, so the DuckDB oracle joins on the identical
    key).

    ``probe``: the INCREMENTAL shape. A signatures-shaped frame (must
    be a subset of ``signatures``, e.g. the new batch); only pairs with
    at least one ``probe`` endpoint are generated, by joining the
    probe's band entries against the full band index instead of
    self-joining the index — the candidate-generation cost scales with
    the BATCH, not the corpus. Bucket capping stays on the index side
    (full bucket population), so the emitted pair set equals the
    from-scratch run's pairs restricted to probe-touching pairs."""
    num_perm = bands * rows_per_band
    buckets = band_index_entries(
        signatures, id_col, bands, rows_per_band, hash_family
    )
    buckets = _cap_buckets(buckets, ["band", "bh"], max_bucket_size)
    if probe is None:
        left = buckets.select(F.col(id_col).alias("d1"), "band", "bh")
        right = buckets.select(F.col(id_col).alias("d2"), "band", "bh")
        cand = (
            left.join(right, on=["band", "bh"])
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )
    else:
        # Probe entries need no cap pass of their own: a probe doc in a
        # capped-out bucket finds the index side empty (the probe is a
        # subset of the index), which reproduces the from-scratch drop.
        pb = band_index_entries(
            probe, id_col, bands, rows_per_band, hash_family
        ).withColumnRenamed(id_col, "p")
        idx = buckets.select(F.col(id_col).alias("q"), "band", "bh")
        cand = (
            pb.join(idx, on=["band", "bh"])
            .filter(F.col("p") != F.col("q"))
            .select(
                F.least("p", "q").alias("d1"),
                F.greatest("p", "q").alias("d2"),
            )
            .distinct()
        )
    s1 = signatures.select(F.col(id_col).alias("d1"), F.col("sig").alias("sig1"))
    s2 = signatures.select(F.col(id_col).alias("d2"), F.col("sig").alias("sig2"))
    eq = F.zip_with("sig1", "sig2", lambda x, y: F.when(x == y, 1).otherwise(0))
    est = F.round(
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(float(num_perm)),
        round_digits,
    )
    return (
        cand.join(s1, on="d1")
        .join(s2, on="d2")
        .select("d1", "d2", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

_SIMHASH_BITS = 64
_BAND_BITS = 16
_N_BANDS = _SIMHASH_BITS // _BAND_BITS


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, bands: array<int>[4]) — 64-bit SimHash packed as 4×16-bit
    band values (packing as int avoids 2^63 sign issues under ANSI).

    Token multiplicity acts as the feature weight (each occurrence
    votes ±1 per bit). The id-not-null filter keeps all consumers on
    one canonical scan subtree (see minhash_signatures).

    Bit source per family: xxhash64 (default) takes bit j of the
    64-bit hash; md5 (cross-engine — gives the registered query its
    DuckDB oracle) takes bit j%4 of hex nibble j//4 of md5(tok), i.e.
    the digest's first 64 bits, decoded with integer arithmetic both
    engines reproduce exactly."""
    toks = spread(docs.filter(F.col(id_col).isNotNull())).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    if hash_family == "md5":
        # Two 32-bit conv parses cover all 16 nibbles (conv is the
        # string-parsing cost here — 2 beats 16 per token); bit j of
        # the digest = bit 4*(7 - nibble_within_half) + j%4 of its
        # half, identical bits to per-nibble decoding.
        toks = toks.withColumn("_hx", F.md5("tok"))
        halves = [
            f"CAST(conv(substring(_hx, {1 + 8 * h}, 8), 16, 10) AS BIGINT)"
            for h in range(2)
        ]

        def bit(j: int) -> str:
            np_ = j // 4
            half, np_in = halves[np_ // 8], np_ % 8
            return f"shiftright({half}, {4 * (7 - np_in) + j % 4}) & 1"

    else:

        def bit(j: int) -> str:
            return f"shiftright(xxhash64(tok), {j}) & 1"

    # One SQL expression string per bit sum, and one for the whole
    # band array: a few py4j calls apiece.
    aggs = [
        F.expr(f"sum(({bit(j)}) * 2 - 1) AS s{j}") for j in range(_SIMHASH_BITS)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    band_cols = [
        "CAST(0"
        + "".join(
            f" + CASE WHEN s{b * _BAND_BITS + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(_BAND_BITS)
        )
        + " AS INT)"
        for b in range(_N_BANDS)
    ]
    return sums.select(
        F.col(id_col), F.expr(f"array({', '.join(band_cols)}) AS bands")
    )


def simhash_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs by band collision + exact Hamming distance.

    A pair within Hamming distance 3 of a 64-bit signature must agree
    on at least one 16-bit band (pigeonhole) — the classic SimHash
    blocking guarantee; ``max_hamming`` then filters candidates
    exactly."""
    entries = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.element_at("bands", b + 1).alias("bv"))
            for b in range(_N_BANDS)
        ]
    )
    buckets = signatures.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.band").alias("band"), F.col("e.bv").alias("bv")
    )
    buckets = _cap_buckets(buckets, ["band", "bv"], max_bucket_size)
    left = buckets.select(F.col(id_col).alias("d1"), "band", "bv")
    right = buckets.select(F.col(id_col).alias("d2"), "band", "bv")
    cand = (
        left.join(right, on=["band", "bv"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    s1 = signatures.select(F.col(id_col).alias("d1"), F.col("bands").alias("b1"))
    s2 = signatures.select(F.col(id_col).alias("d2"), F.col("bands").alias("b2"))
    per_band_ham = F.zip_with(
        "b1", "b2", lambda x, y: F.bit_count(x.bitwiseXOR(y))
    )
    hamming = F.aggregate(per_band_ham, F.lit(0), lambda acc, x: acc + x)
    return (
        cand.join(s1, on="d1")
        .join(s2, on="d2")
        .select("d1", "d2", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Connected components (cluster assembly over a near-dup pair graph)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labels over the undirected pair graph, where
    ``component`` is the minimum node id reachable — the canonical
    cluster representative for "keep one doc per near-dup cluster".

    Iterative min-label propagation (hash-to-min): each round a node
    takes the min of its own label and its neighbors' labels; converges
    in O(graph diameter) rounds, and near-dup graphs are near-cliques
    (diameter ~2), so the loop terminates in a handful of rounds. Each
    round is one join + one partial/final min-aggregation on the node
    key; ``localCheckpoint`` materializes the iteration and cuts the
    lineage so the plan doesn't grow exponentially. The driver-side
    loop carries only the converged/changed COUNT, never row data.

    Only nodes that appear in ``pairs`` are labeled (singletons are
    their own trivial cluster and never entered the graph). Raises
    RuntimeError if labels still change after ``max_iter`` rounds
    (operators/loops.py::converge); labels that became final in round
    ``max_iter`` are returned."""
    # Partitioning is deliberately left to AQE round by round (pinning
    # a fixed fan-out was measured 1.6-3x SLOWER at sf0.1: it either
    # replaces AQE's coalescing with per-round task overhead or, sized
    # down, serializes the join). The convergence test rides along as
    # a `chg` flag in the checkpointed frame (labels only ever
    # decrease, so changed == new < old) instead of a separate
    # labels-x-labels join job per round.
    sym = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    edges = sym.union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()

    def step(labels):
        # One aggregation merges the neighbor-min AND the node's own
        # label (round 11): the self rows ride the same exchange as
        # the neighbor stream instead of a second labels⋈nb_min LEFT
        # join — per round that drops two exchanges (the O(|V|)
        # labels re-exchange into the merge join and the nb_min side)
        # and their sorts. `old` (min over the single self row per
        # node) recovers the previous label for the rode-along
        # convergence flag; min(new) == min(old, neighbor mins) is
        # the identical recurrence.
        nb = edges.join(
            labels.select(
                F.col("node").alias("b"), F.col("component").alias("cand")
            ),
            on="b",
        ).select(F.col("a").alias("node"), "cand", F.lit(False).alias("self"))
        own = labels.select(
            "node", F.col("component").alias("cand"), F.lit(True).alias("self")
        )
        # LAZY checkpoint + count-as-materializer (round 12): the eager
        # checkpoint ran one job and the convergence count a second —
        # 2 jobs per round of pure orchestration on a pair graph that
        # collapses to dozens of rows after LSH. With eager=False the
        # count below IS the materializing action (the RDD saves its
        # blocks while the count job scans it), so each round runs ONE
        # job. Column pruning cannot reach below the LogicalRDD root,
        # so the checkpoint still stores full rows. Measured at sf0.1
        # (min-of-3, all four CC consumers): cluster_components 4.04 →
        # 3.24 s, retain_set_minhash 5.69 → 5.01, incremental 7.64 →
        # 6.89, epoch_compaction 8.18 → 7.63; results tuple-identical.
        new_labels = (
            nb.unionByName(own)
            .groupBy("node")
            .agg(
                F.min("cand").alias("component"),
                F.min(F.when(F.col("self"), F.col("cand"))).alias("_old"),
            )
            .select(
                "node",
                "component",
                (F.col("component") < F.col("_old")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        return new_labels.drop("chg"), new_labels.where("chg").count()

    with released(edges):
        labels = (
            edges.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint()
        )
        what = "connected_components has not converged"
        return converge(step, labels, max_iter, what)


# --------------------------------------------------------------------------
# Per-row SimHash (streaming-safe form)
# --------------------------------------------------------------------------


def with_simhash_bands(
    df: DataFrame, text_col: str = "text", out_col: str = "bands"
) -> DataFrame:
    """Append the 4×16-bit SimHash band array computed PER ROW with
    array higher-order functions — no explode, no groupBy, no shuffle.

    Produces bit-identical values to :func:`simhash_signatures` (the
    explode+aggregate batch form; equality is pinned by
    test_simhash_per_row_equals_batch). The per-row form is the one a
    STREAM can evaluate: stateless projection, so it composes with any
    streaming source without an aggregation state store. Cost is the
    same O(tokens × 64) bit votes, just folded inside the row."""
    if not text_col.isidentifier():
        raise ValueError(f"text_col must be a simple column name, got {text_col!r}")
    # SQL-text form: the SQL shiftright/shiftleft accept a COLUMN shift
    # amount (the Python wrappers only take a literal int).
    votes = F.expr(
        f"""aggregate(
              filter(split({text_col}, ' '), t -> t != ''),
              array_repeat(0L, {_SIMHASH_BITS}),
              (acc, t) -> zip_with(
                acc,
                transform(sequence(0, {_SIMHASH_BITS - 1}),
                          j -> (shiftright(xxhash64(t), j) & 1L) * 2 - 1),
                (a, b) -> a + b))"""
    )
    with_votes = df.withColumn("_votes", votes)
    band_cols = [
        F.expr(
            f"""cast(aggregate(sequence(0, {_BAND_BITS - 1}), 0,
                  (acc, j) -> acc + if(element_at(_votes, {b * _BAND_BITS} + j + 1) > 0,
                                       shiftleft(1, j), 0)) as int)"""
        )
        for b in range(_N_BANDS)
    ]
    return with_votes.withColumn(out_col, F.array(*band_cols)).drop("_votes")


# --------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (the LOSSLESS scale path)
# --------------------------------------------------------------------------


def prefix_filter_jaccard_pairs(
    bi: DataFrame, t_num: int, t_den: int, pre_materialized: bool = False
) -> DataFrame:
    """Exact Jaccard pairs (d1 < d2, jaccard >= t_num/t_den) over a
    DISTINCT (doc_id, lang, bigram) set table, with PREFIX-FILTERED
    candidate generation — the classic SSJoin/All-Pairs/PPJoin family
    (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07; Xiao et al.
    WWW'08), all public literature.

    Versus the shared-shingle self-join (plans/llm.py::
    _exact_jaccard_pairs, cost Σ_token df²): order each document's
    tokens by ascending GLOBAL document frequency and keep only the
    first ``n - ceil(t·n) + 1`` as its *prefix*. Any pair with
    J >= t must share at least one token inside BOTH prefixes — if all
    shared tokens hid in A's suffix, then |∩| <= n_A - p_A =
    ceil(t·n_A) - 1 < t·n_A <= t·|A∪B| <= |∩|, a contradiction (and
    symmetrically for B). So joining prefix tokens only is LOSSLESS,
    while the df-ascending order pushes exactly the high-df hub tokens
    out of every prefix: the self-join's Σ df² blow-up collapses to
    Σ df_prefix² over rare tokens, with zero recall loss — the exact
    complement of the lossy df-cap heuristic in
    dedup_ngram_jaccard_capped.

    A length filter rides on candidate generation: J >= t forces
    t·max(n1,n2) <= min(n1,n2), checked in integer cross-multiplied
    form. Prefix lengths use pure integer arithmetic
    (ceil(t·n) = (n·t_num + t_den - 1) div t_den), so no float ceil can
    shorten a prefix and silently drop a pair.

    Verification re-joins candidates against the full token table for
    the exact intersection (cost Σ_cand n1 — the standard verify phase;
    candidates, not all pairs, pay it). Output matches
    ``_exact_jaccard_pairs`` row-for-row: (d1, d2, jaccard) with
    jaccard rounded to 4 digits.
    """
    if not (0 < t_num <= t_den):
        raise ValueError(f"threshold must be in (0, 1]: {t_num}/{t_den}")
    threshold = t_num / t_den
    # bi feeds five subtrees (sizes, dfs, ranked prefix, and both
    # verification sides) — materialize once, the repo's shared-lineage
    # idiom (ADVICE r5 #2, as in dedup_ngram_jaccard_capped). Callers
    # that already checkpointed (e.g. the skew-probe router in
    # plans/llm.py) pass pre_materialized=True to skip the second copy.
    if not pre_materialized:
        bi = bi.localCheckpoint()
    sz = bi.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfs = bi.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("df"))
    # Canonical token order: (df ASC, bigram ASC) within language —
    # rare tokens first. Rank per document: window partitioned by
    # doc_id, bounded by the document's own token count (scale-safe;
    # sanctioned-spine gate in test_plans applies to UNpartitioned
    # windows only).
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "bigram")
    )
    prefix_len = F.col("n") - F.expr(
        f"(n * {t_num} + {t_den - 1}) div {t_den}"
    ) + F.lit(1)
    pref = (
        bi.join(dfs, on=["lang", "bigram"])
        .join(sz, on="doc_id")
        .withColumn("pos", pos)
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "lang", "bigram", "n")
    )
    a = pref.select(
        F.col("doc_id").alias("d1"), "lang", "bigram", F.col("n").alias("n1")
    )
    b = pref.select(
        F.col("doc_id").alias("d2"), "lang", "bigram", F.col("n").alias("n2")
    )
    cand = (
        a.join(b, on=["lang", "bigram"])
        .filter(F.col("d1") < F.col("d2"))
        # length filter: t·max <= min, cross-multiplied (integer-exact)
        .filter(
            F.greatest("n1", "n2") * t_num <= F.least("n1", "n2") * t_den
        )
        .select("d1", "d2", "n1", "n2")
        .distinct()
    )
    b1 = bi.select(F.col("doc_id").alias("d1"), "lang", "bigram")
    b2 = bi.select(F.col("doc_id").alias("d2"), "lang", "bigram")
    inter = (
        cand.join(b1, on="d1")
        .join(b2, on=["d2", "lang", "bigram"])
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("both_n"))
    )
    jac = F.round(
        F.col("both_n") / (F.col("n1") + F.col("n2") - F.col("both_n")), 4
    )
    return (
        inter.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def merge_pairs_into_labels(
    prev: DataFrame,
    universe: DataFrame,
    delta_pairs: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge a delta pair set into PERSISTED (node, component) labels
    without recomputing corpus components — the incremental-clustering
    algebra shared by the batch query (plans/llm.py::
    dedup_incremental_components, where the oracle hash-proves
    merged == from-scratch) and the streaming ingestion twin
    (streaming/docs_stream.py::incremental_components_sink).

    Endpoints of ``delta_pairs`` are CONTRACTED to their persisted
    component labels (unlabeled endpoints stand for themselves), then
    min-label closure runs over the contracted delta graph only —
    batch-sized, not corpus-sized. Because a persisted label is the
    MIN member id of its old component, min-label over the contraction
    reproduces the from-scratch minimum (hypothesis-tested on random
    graph/split pairs in test_incremental_merge_equals_from_scratch_
    closure, hash-proven differentially by the batch query's oracle).

    ``universe`` (one ``id_col`` column) is every id the output must
    cover — persisted nodes, the arriving batch, and singletons; ids
    absent from ``prev`` label themselves. Returns (id_col, component).
    """
    la = prev.select(F.col("node").alias(a_col), F.col("component").alias("_la"))
    lb = prev.select(F.col("node").alias(b_col), F.col("component").alias("_lb"))
    contracted = (
        delta_pairs.join(la, on=a_col, how="left")
        .join(lb, on=b_col, how="left")
        .select(
            F.coalesce("_la", F.col(a_col)).alias("a"),
            F.coalesce("_lb", F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    comp_delta = connected_components(contracted, "a", "b")
    base = (
        universe.select(F.col(id_col))
        .join(prev.withColumnRenamed("node", id_col), on=id_col, how="left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("base"))
    )
    merged = comp_delta.select(
        F.col("node").alias("base"), F.col("component").alias("m")
    )
    return base.join(merged, on="base", how="left").select(
        F.col(id_col),
        F.coalesce("m", F.col("base")).cast("bigint").alias("component"),
    )
