"""Structured Streaming operators.

The reference is batch-only (its "streaming" is Polars' out-of-core
collect, SURVEY.md §2a S8 — not event streams). These operators are
the beyond-reference streaming surface the build brief asks for:

- ``streaming_event_counts``: watermarked sliding-window aggregation
  over an event stream — the canonical late-data-tolerant rollup,
  entirely built-in (no UDF, incremental state managed by Spark).
- ``streaming_stop_detection``: per-user stateful sessionization via
  ``applyInPandasWithState`` — the streaming twin of
  operators/stops.py:detect_stops. State per uid holds the tail of
  the trajectory (last ping + open run aggregates); each micro-batch
  extends or closes stop events with the same thresholds as batch.
  Closed stops are emitted; state times out after
  ``max_time_between`` seconds of event-time silence, flushing the
  open run as transit.

Both take/return streaming DataFrames — callers attach sources
(``spark.readStream.schema(...).parquet/kafka/...``) and sinks
(``writeStream``); tests drive them with a file source and the
``availableNow`` trigger.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def streaming_event_counts(
    events: DataFrame,
    window_duration: str = "10 minutes",
    slide_duration: str | None = None,
    watermark_delay: str = "30 minutes",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked (sliding) window counts per group over an event
    stream. Late rows beyond the watermark are dropped and window
    state is garbage-collected — bounded state at any scale.
    """
    win = F.window(F.col(ts_col), window_duration, slide_duration)
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(win, F.col(group_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n",
        )
    )


def streaming_session_counts(
    events: DataFrame,
    gap_duration: str = "30 minutes",
    watermark_delay: str = "30 minutes",
    ts_col: str = "ts",
    group_col: str = "user_id",
) -> DataFrame:
    """Watermarked SESSION-window aggregation per group: Spark's
    native gap-based sessionization as a streaming groupBy key (the
    declarative sibling of :func:`streaming_stop_detection`\'s custom
    state machine — use this when "session" means time gaps only, no
    spatial predicate). Sessions merge in the state store as events
    arrive; append mode emits a session once the watermark passes its
    end (last event + gap), after which its state is dropped —
    bounded by the number of OPEN sessions, not the stream length.
    """
    sw = F.session_window(F.col(ts_col), gap_duration)
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(sw, F.col(group_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            group_col,
            "n",
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str] | tuple[str, ...] = ("event_id",),
    watermark_delay: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``),
    so state is bounded by the horizon instead of growing forever —
    the streaming twin of operators/dedup.py:dedup_exact for
    at-least-once sources (Kafka replays, file re-lists).
    """
    return events.withWatermark(ts_col, watermark_delay)\
        .dropDuplicatesWithinWatermark(list(key_cols))


_STOP_OUTPUT = StructType(
    [
        StructField("uid", StringType()),
        StructField("stop_event", LongType()),
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("start_timestamp", LongType()),
        StructField("end_timestamp", LongType()),
        StructField("n_pings", LongType()),
    ]
)

# state: last ping + open-run aggregates + emitted-event counter
_STOP_STATE = StructType(
    [
        StructField("last_lat", DoubleType()),
        StructField("last_lon", DoubleType()),
        StructField("last_ts", LongType()),
        StructField("run_start_ts", LongType()),
        StructField("run_n", LongType()),
        StructField("run_lat_sum", DoubleType()),
        StructField("run_lon_sum", DoubleType()),
        StructField("next_event_id", LongType()),
    ]
)


def streaming_stop_detection(
    pings: DataFrame,
    r1: float = 10.0,
    min_size: int = 2,
    min_staying_time: int = 300,
    max_time_between: int = 86400,
    watermark_delay: str = "1 hour",
    ts_col: str = "event_ts",
    tiebreaker: str | None = None,
) -> DataFrame:
    """Streaming per-user stop detection.

    Input stream columns: ``uid string, latitude double, longitude
    double, timestamp long`` plus an event-time timestamp column
    ``ts_col`` for watermarking. Emits one row per CLOSED stop event
    with ``stop_event`` = the stop's start epoch (unique per physical
    stop even across state timeouts, unlike a per-uid counter)
    (a stop closes when the user moves away, the gap exceeds
    ``max_time_between``, or state times out). The emitted centroid
    is the running mean of the stop's pings (a streaming-friendly
    stand-in for the batch median — documented divergence; medians
    need the full multiset).

    State is one fixed-size row per active uid — bounded by the
    active-user cardinality, the minimum any per-user sessionizer can
    hold, and evicted on event-time timeout.
    """
    import math

    r1 = float(r1)

    def _haversine(lat1, lon1, lat2, lon2) -> float:
        la1, lo1, la2, lo2 = map(math.radians, (lat1, lon1, lat2, lon2))
        a = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371000.0 * math.asin(math.sqrt(a))

    def _close_run(st: tuple, force_min_checks: bool = True):
        (_, _, last_ts, run_start, run_n, lat_sum, lon_sum, next_id) = st
        duration = last_ts - run_start
        if run_n >= min_size and duration >= min_staying_time:
            # id = run start epoch: unique per physical stop even when
            # state times out and the per-uid counter would reset
            return {
                "stop_event": run_start,
                "latitude": lat_sum / run_n,
                "longitude": lon_sum / run_n,
                "start_timestamp": run_start,
                "end_timestamp": last_ts,
                "n_pings": run_n,
            }
        return None

    def _fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        out = []

        if state.hasTimedOut:
            if state.exists:
                closed = _close_run(tuple(state.get))
                if closed:
                    out.append({"uid": uid, **closed})
                state.remove()
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in _STOP_OUTPUT.fields])
            return

        # stable sort + optional tiebreaker column: equal timestamps
        # must replay in a deterministic order or the distance chain
        # (and thus the emitted stops) depends on shuffle arrival
        order_cols = ["timestamp"] + ([tiebreaker] if tiebreaker else [])
        rows = pd.concat(list(pdfs)).sort_values(
            order_cols, kind="mergesort"
        )
        # the timeout must be anchored to the SAME clock as the
        # watermark (ts_col), not the payload epoch — the two can
        # diverge for backfilled uploads, and a timeout at/behind the
        # watermark is an error in Spark
        event_clock_ms = int(rows[ts_col].max().timestamp() * 1000)
        if state.exists:
            (llat, llon, lts, rstart, rn, lat_s, lon_s, nid) = tuple(
                state.get
            )
        else:
            llat = llon = None
            lts = rstart = None
            rn = 0
            lat_s = lon_s = 0.0
            nid = 1

        for r in rows.itertuples():
            lat, lon, ts = r.latitude, r.longitude, int(r.timestamp)
            if llat is None:
                rstart, rn, lat_s, lon_s = ts, 1, lat, lon
            else:
                near = _haversine(llat, llon, lat, lon) <= r1
                in_time = (ts - lts) <= max_time_between
                if near and in_time:
                    rn += 1
                    lat_s += lat
                    lon_s += lon
                else:
                    closed = _close_run(
                        (llat, llon, lts, rstart, rn, lat_s, lon_s, nid)
                    )
                    if closed:
                        out.append({"uid": uid, **closed})
                        nid += 1
                    rstart, rn, lat_s, lon_s = ts, 1, lat, lon
            llat, llon, lts = lat, lon, ts

        state.update((llat, llon, lts, rstart, rn, lat_s, lon_s, nid))
        state.setTimeoutTimestamp(
            event_clock_ms + max_time_between * 1000
        )
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in _STOP_OUTPUT.fields]
            )

    return (
        pings.withWatermark(ts_col, watermark_delay)
        .groupBy("uid")
        .applyInPandasWithState(
            _fn,
            outputStructType=_STOP_OUTPUT,
            stateStructType=_STOP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup_incremental(
    docs_stream: DataFrame,
    index,
    checkpoint_dir: str,
    output_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_available_now: bool = True,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 1000,
    portable: bool = False,
):
    """Continuous corpus ingestion with near-dup filtering: every
    micro-batch is deduped against the persisted corpus signature
    index (operators/dedup.py:build_minhash_index), and survivors
    land under ``output_path`` as parquet partitioned by micro-batch.

    foreachBatch is the right tool here — LSH banding + the
    verification join are batch DataFrame ops over a static index —
    but its sink contract is at-least-once: a batch replayed after a
    crash re-runs ``_process``. The write is therefore made
    idempotent by partitioning on ``_batch_id`` with dynamic
    partition overwrite, so a replay rewrites its own partition
    instead of appending duplicates. Housekeeping the streaming loop
    needs and a one-shot batch call doesn't: the index's band table
    (band explode + hot-bucket window — O(corpus)) is computed ONCE
    here and persisted across batches, and each batch's signature
    cache is unpersisted as soon as its write lands, so a long-lived
    stream neither recomputes the corpus side nor leaks executor
    storage. Batch-internal near-dups collapse within each
    micro-batch; cross-batch dups are caught only against the index,
    so refresh the index at whatever cadence the accepted corpus is
    compacted (the standard lambda-ingest tradeoff, documented here
    rather than hidden).

    Returns the started StreamingQuery.
    """
    from polaroam_spark.operators.dedup import (
        _batch_signatures,
        _greedy_survivors,
        _incremental_pairs_from_sigs,
        check_index_format,
        expand_index_bands,
    )

    # fail at stream START on a stale/mismatched index, not silently
    # per batch (one bounded row read)
    check_index_format(index, shingle_k, num_hashes, portable)
    index_bands = expand_index_bands(
        index, bands, max_bucket_size, id_col
    ).persist()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        new_sh = _batch_signatures(
            batch_df, text_col, id_col, shingle_k, num_hashes, portable
        ).persist()
        try:
            pairs = _incremental_pairs_from_sigs(
                new_sh,
                index,
                index_bands,
                id_col,
                bands,
                jaccard_threshold,
                max_bucket_size,
                include_batch_pairs=True,
            )
            survivors = _greedy_survivors(
                batch_df, pairs, id_col, loser="id_new"
            )
            (
                survivors.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(output_path)
            )
        finally:
            new_sh.unpersist()

    writer = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_heavy_hitters(
    items_stream: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    item_col: str = "item",
    capacity: int = 256,
    trigger_available_now: bool = True,
):
    """Continuous frequent-items tracking: each micro-batch folds into
    a running Misra-Gries summary (operators/sketches.py:
    heavy_hitters per batch, then the mergeable counter-sum +
    compress rule against the running state), and the full summary
    snapshot is rewritten to ``output_path`` after every batch as
    ``(item, est_count, _batch_id)`` parquet.

    The ONLY driver-side state is the <= ``capacity``-entry counter
    dict — the whole point of the sketch is that this is tiny, so
    collecting each batch's (<= capacity x partitions)-row summary to
    merge it is a bounded scalar read, not a data collect. The
    guarantee composes across batches exactly as across partitions:
    every item with total stream frequency > n/(capacity+1) is in
    the snapshot, estimates undercount by at most n/(capacity+1)
    over all rows seen since the stream started.

    State lives in driver memory, NOT in the checkpoint: a driver
    restart resumes file-source progress from ``checkpoint_dir`` but
    restarts counters from zero (counts then cover the post-restart
    suffix). Run with ``availableNow`` for a deterministic one-shot
    pass, or accept restart-from-zero semantics for a long-lived
    stream — persisting mergeable sketch state exactly-once would
    need an external state store, the standard tradeoff for
    driver-merged sketches. The snapshot write is a full overwrite,
    so a replayed batch rewrites the snapshot rather than appending.

    Returns the started StreamingQuery.
    """
    from pyspark.sql import types as T

    from polaroam_spark.operators.sketches import heavy_hitters

    state: dict = {}
    snap_schema = T.StructType(
        [
            items_stream.schema[item_col],
            T.StructField("est_count", T.LongType()),
        ]
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        summary = heavy_hitters(
            batch_df, item_col, capacity=capacity
        ).collect()  # bounded: <= capacity x partitions rows
        for r in summary:
            state[r[item_col]] = state.get(r[item_col], 0) + int(
                r["est_count"]
            )
        if len(state) > capacity:
            cut = sorted(state.values(), reverse=True)[capacity]
            survivors = {
                k: v - cut for k, v in state.items() if v - cut > 0
            }
            state.clear()
            state.update(survivors)
        snap = batch_df.sparkSession.createDataFrame(
            list(state.items()), schema=snap_schema
        )
        (
            snap.withColumn("_batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(output_path)
        )

    writer = (
        items_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
