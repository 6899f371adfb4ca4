"""Structured Streaming forms of the event-time operators (SURVEY.md
§2.8 T1-T5).

The batch layer (plans/events.py) and this module share semantics: the
batch queries are the oracle-checkable form, these are the incremental
form — same grouping logic, plus watermarks for state eviction. The
reference has no streaming surface at all (batch MapReduce only); this
is extension surface, designed the way a 100 TB pipeline would run it
(file/Kafka source → event-time windows → append sink; state bounded by
the watermark, not the stream length).
"""

from __future__ import annotations

import os
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rdf_mapreduce_joins_spark.operators.sketches import hll_portable_cols
from rdf_mapreduce_joins_spark.session import ensure_runtime_confs
from rdf_mapreduce_joins_spark.sources.tables import normalize_events, read_parquet


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events with the same column normalization
    as the batch loader (ts_ns / ts_s / ts).

    File streams require an explicit schema; hard-coding one silently
    mis-reads re-provisioned fixtures (an int64-nanos schema applied to
    timestamp[us] files yields wrong epochs, not an error). So the
    schema is sniffed from the actual parquet footers with a batch
    read — metadata-only, memoized by file identity
    (:func:`read_parquet`) — and the same dtype-adaptive
    :func:`normalize_events` runs on the stream.

    ``max_files_per_trigger`` splits a multi-file directory into that
    many files per micro-batch — with availableNow this replays the
    directory as a sequence of batches, which is how tests drive
    watermark advancement (state timeouts only fire on a later batch)."""
    ensure_runtime_confs(spark)
    if not (os.path.isdir(path) or path.endswith(".parquet")):
        raise ValueError(f"unsupported stream path: {path}")
    file_schema = read_parquet(spark, path).schema
    reader = spark.readStream.schema(file_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        raw = reader.parquet(path)
    elif path.endswith(".parquet"):
        # Spark's file stream source requires a directory: stream the
        # parent dir with a glob filter pinned to this file.
        raw = (
            reader.option("pathGlobFilter", os.path.basename(path))
            .parquet(os.path.dirname(path))
        )
    else:
        raise ValueError(f"unsupported stream path: {path}")
    return normalize_events(raw)


def tumbling_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T1/T4: tumbling 10-minute counts with late-data watermark —
    identical grouping to the batch events_tumbling_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T2: 10-minute windows sliding every 5."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes") -> DataFrame:
    """T3: native session windows (gap-merged state per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("start_s"),
            F.unix_timestamp(F.col("session_window.end")).alias("end_s"),
            "n_events",
        )
    )


_SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_s", LongType()),
        StructField("end_s", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_s", LongType()),
        StructField("end_s", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def sessionize_custom_state(
    events: DataFrame,
    gap_s: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """T3 as a CUSTOM stateful operator (``applyInPandasWithState``)
    instead of the native ``session_window`` — the escape hatch for
    session semantics the built-in can't express (here: per-session
    aggregates beyond count, emitted exactly once when the session
    closes, in append mode).

    Per user, state holds the open session ``(start_s, end_s,
    n_events, total_value)``. Incoming events merge in event-time
    order; a gap > ``gap_s`` closes the current session (emitted) and
    opens a new one. An event-time timeout at ``end + gap`` emits a
    session once the watermark passes it — so state size is bounded by
    the number of users active inside one watermark window, never by
    stream length. Sessions still open when the stream ends remain in
    state (correct for a stream: they are not over yet)."""
    gap = gap_s

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_s, end_s, n, tot = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "start_s": [start_s],
                    "end_s": [end_s],
                    "n_events": [n],
                    "total_value": [tot],
                }
            )
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("ts_s")
        cur: list[Any] | None = list(state.get) if state.exists else None
        closed: list[list[Any]] = []
        for ts_s, value in zip(batch["ts_s"], batch["value"]):
            ts_s, value = int(ts_s), float(value)
            if cur is None:
                cur = [ts_s, ts_s, 1, value]
            elif ts_s < cur[0] - gap:
                # Within-watermark late event from BEFORE the open
                # session's own gap window: it belongs to an earlier,
                # disjoint session, emitted closed rather than swallowed
                # into the wrong session (round-4 self-review). Batches
                # arrive time-sorted, so far-late events all precede any
                # gap-closure append — closed[-1] is therefore always the
                # previous far-late session, and two far-late events
                # within gap of each other MERGE into one session, the
                # native session_window semantics (round-5 advice).
                if closed and ts_s - closed[-1][1] <= gap:
                    closed[-1][1] = ts_s
                    closed[-1][2] += 1
                    closed[-1][3] += value
                else:
                    closed.append([ts_s, ts_s, 1, value])
            elif ts_s - cur[1] > gap:
                closed.append(cur)
                cur = [ts_s, ts_s, 1, value]
            else:
                # min-update the start too: a late event within the gap
                # BEFORE the session start extends it backward, exactly
                # as the native session_window merges windows (the old
                # max-only update silently kept the too-late start).
                cur[0] = min(cur[0], ts_s)
                cur[1] = max(cur[1], ts_s)
                cur[2] += 1
                cur[3] += value
        assert cur is not None  # non-timeout invocations always carry rows
        # Bridge-fold (round-5 advice): an in-window late event can
        # extend the open session BACKWARD (cur[0] shrinks), leaving a
        # previously-closed far-late session within gap of the new
        # start — native session_window would merge them. Fold such
        # sessions back into cur; chained, because each fold lowers
        # cur[0] and may expose the one before it.
        while closed and cur[0] - closed[-1][1] <= gap:
            prev = closed.pop()
            cur[0] = min(cur[0], prev[0])
            cur[1] = max(cur[1], prev[1])
            cur[2] += prev[2]
            cur[3] += prev[3]
        state.update(tuple(cur))
        # Fire once the watermark passes the session's close point; the
        # timestamp must sit above the current watermark or Spark
        # rejects it (can happen when this batch's events are already
        # older than watermark - gap).
        timeout_ms = (cur[1] + gap) * 1000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "start_s": [c[0] for c in closed],
                    "end_s": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "ts_s", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def hll_registers_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming maintenance of the portable daily HLL register table
    (the streaming twin of plans/sketches._daily_user_registers —
    same md5-family bucket/rho arithmetic via
    operators/sketches.hll_portable_cols).

    MAX is a monotone, commutative, idempotent aggregate, so the
    register table is maintained incrementally in streaming state:
    each micro-batch touches only the (day, bucket) cells its events
    hash into, state is bounded at 256 rows per open day, and the
    watermark closes day windows for append-mode sinks. ``window('ts',
    '1 day')`` buckets are epoch-aligned, so ``unix_timestamp(start)
    div 86400`` reproduces exactly the batch twin's ``ts_s div 86400``
    day numbering — replay equivalence is pinned in
    tests/test_streaming.py per the SURVEY §2.8 streaming policy
    (batch twin oracled, stream == batch on replay)."""
    cells = events.withWatermark("ts", watermark).select(
        "ts", *hll_portable_cols("user_id", "md5")
    )
    return (
        cells.groupBy(F.window("ts", "1 day"), F.col("bucket"))
        .agg(F.max("rho").alias("reg"))
        .select(
            F.expr("unix_timestamp(window.start) div 86400").alias("day_n"),
            "bucket",
            "reg",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T5: stateful keyed dedup bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_ANOMALY_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)
# Welford running-moment state: (n, mean, M2)
_ANOMALY_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
    ]
)


def anomaly_stream(
    events: DataFrame,
    z_threshold: float = 3.0,
    min_history: int = 10,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Second custom stateful operator (T6 family): per-user streaming
    anomaly detection over ``value`` using Welford's online
    mean/variance — O(1) state per user (three numbers), merged
    incrementally batch by batch, emitting events whose z-score
    against the history-so-far exceeds the threshold.

    This shape — constant-size numeric state updated per key forever —
    is what ``applyInPandasWithState`` is FOR: a windowed aggregation
    can't express "compare each event to all history", and a batch
    recompute touches the full stream every time. No timeout is set:
    the state is O(1) per user by construction, so eviction is a
    retention-policy choice, not a correctness need."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        out_rows: list[tuple] = []
        # Concat BEFORE sorting: a group larger than the Arrow batch
        # size arrives as several chunks, and sorting each chunk
        # independently scores later-chunk events against state that
        # already includes earlier-timestamped ones from a previous
        # chunk (nondeterministic anomaly sets — round-4 self-review;
        # sessionize_custom_state always did the concat).
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_s")
        for eid, val in zip(batch["event_id"], batch["value"]):
            val = float(val)
            if n >= min_history:
                var = m2 / (n - 1) if n > 1 else 0.0
                if var > 0:
                    z = (val - mean) / (var**0.5)
                    if abs(z) >= z_threshold:
                        out_rows.append((user_id, int(eid), val, round(z, 4), n))
            # Welford update AFTER scoring (score against history only)
            n += 1
            delta = val - mean
            mean += delta / n
            m2 += delta * (val - mean)
        state.update((n, float(mean), float(m2)))
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["user_id", "event_id", "value", "zscore", "n_seen"]
            )

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "event_id", "ts", "ts_s", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_ANOMALY_OUT_SCHEMA,
            stateStructType=_ANOMALY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def interval_join_stream(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    window_s: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """T7: stream-stream interval join — each ``left_type`` event
    matched to the same user's ``right_type`` events within the
    preceding ``window_s`` seconds (attribution join: purchases to the
    clicks that led to them).

    Both sides are watermarked, and the join condition bounds the
    event-time distance, so Spark can evict buffered state for rows
    older than watermark + interval on both sides — the state-bounded
    form of a stream-stream join (an unbounded-condition join would
    buffer both streams forever). Batch twin: asof/interval logic in
    plans/relational.py::asof_join_events."""
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {window_s} SECONDS")),
    ).select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        F.unix_timestamp("l_ts").alias("left_ts_s"),
        F.unix_timestamp("r_ts").alias("right_ts_s"),
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a stream with availableNow into an in-memory table and
    return the result as a batch DataFrame (test/debug harness; a
    production job would writeStream to parquet/Kafka instead)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


EWMA_STREAM_ALPHA = 0.3  # matches plans/events.py::EWMA_ALPHA


def tws_available() -> bool:
    """True if this deployment can run transformWithStateInPandas.

    The StatefulProcessor runtime talks to the JVM state server over a
    protobuf protocol, so ``google.protobuf`` must be importable in
    the Python workers (it ships with any real PySpark cluster image;
    this offline container lacks it). Capability-gated exactly like
    Avro in sources/columnar.py: detect, fail fast with the deploy
    instruction, keep the operator itself real and tested wherever the
    dependency exists."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


class _EwmaStatefulProcessor:
    """StatefulProcessor implementation for :func:`ewma_stream_tws`
    (plain base class so importing this module never requires the
    transformWithState runtime; the subclass with the real
    StatefulProcessor ABC is assembled inside the gated factory)."""

    def __init__(self, alpha: float) -> None:
        self._alpha = alpha

    def init(self, handle) -> None:  # StatefulProcessorHandle
        # ValueState survives across micro-batches in the state store;
        # (s, n) is the whole recursion carry — O(1) per user.
        self._state = handle.getValueState("ewma", "s double, n bigint")

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        (user_id,) = key
        batch = pd.concat(list(rows), ignore_index=True).sort_values(
            ["ts_s", "event_id"]
        )
        if self._state.exists():
            s, n = self._state.get()
        else:
            s, n = None, 0
        alpha = self._alpha
        out: list[float] = []
        for v in batch["value"]:
            v = float(v)
            s = v if s is None else alpha * v + (1 - alpha) * s
            n += 1
            out.append(s)
        self._state.update((float(s), int(n)))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(batch), user_id, dtype="int64"),
                "event_id": batch["event_id"].to_numpy(),
                "ts_s": batch["ts_s"].to_numpy(),
                # mirrored floor snap, matching the batch twin exactly
                # (engine round functions disagree on shortest-repr
                # midpoints — see events_ewma's oracle comment)
                "ewma": np.floor(np.array(out, dtype="float64") * 10000.0 + 0.5)
                / 10000.0,
            }
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def ewma_stream_tws(
    events: DataFrame, alpha: float = EWMA_STREAM_ALPHA
) -> DataFrame:
    """T6 on the MODERN stateful API: per-user streaming EWMA via
    Spark 4 ``transformWithStateInPandas`` (the StatefulProcessor
    replacement for applyInPandasWithState — named state variables,
    explicit lifecycle, composable timers). Streaming twin of the
    hash-oracled batch ``events_ewma``: the recursion carry is a
    single (s, n) ValueState per user, so state is O(users), not
    O(events), and each micro-batch folds its rows in (ts_s,
    event_id) order on top of the carried s. With in-order delivery
    per user this emits exactly the batch recursion's values.
    Out-of-order ACROSS micro-batches is the documented caveat (same
    as any streaming recursion without event-time buffering).

    Requires ``google.protobuf`` in the workers (see
    :func:`tws_available`); fails fast with the deploy instruction
    when absent."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf in the "
            "Python workers (the StatefulProcessor state-server "
            "protocol). Deploy with: pip install protobuf (it ships in "
            "standard PySpark cluster images)."
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    cls = type(
        "_EwmaProcessor", (_EwmaStatefulProcessor, StatefulProcessor), {}
    )
    return (
        events.select("user_id", "event_id", "ts_s", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            cls(alpha),
            outputStructType="user_id bigint, event_id bigint, ts_s bigint, ewma double",
            outputMode="Append",
            timeMode="None",
        )
    )


def enrich_stream_static(
    events: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join (the third join mode next to
    stream-stream interval joins and batch joins): every micro-batch
    joins against the CURRENT snapshot of a batch dimension — no
    watermark, no state store, because the static side is re-resolved
    per batch (so a dimension refresh between batches is picked up
    automatically; that snapshot-per-batch semantics is the point of
    the mode, and what the test pins). Inner join keeps the stream
    append-only. At scale the dimension is broadcast per batch when
    small, or storage-partitioned for shuffle-free joins when not —
    the same physics as any batch join, amortized per micro-batch."""
    if not events.isStreaming:
        raise ValueError("enrich_stream_static expects a streaming frame")
    if dim.isStreaming:
        raise ValueError("the dimension side must be a batch frame")
    return events.join(F.broadcast(dim), on=on, how="inner")
