"""File-source streaming ingest + windowed rollup.

Scale notes: the file source lists new files per micro-batch
(maxFilesPerTrigger bounds batch size); the Parquet sink appends with
exactly-once bookkeeping via the checkpoint WAL. The windowed rollup
keeps state per (window, key) bounded by the watermark — late events
beyond it are dropped, which replaces the reference's
"INSERT then periodic refresh" visibility model with an explicit
correctness contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_ingest(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    *,
    format: str = "json",
    available_now: bool = True,
) -> StreamingQuery:
    """INSERT-stream analog: json/csv files landing in ``src_dir``
    append into the Parquet table at ``dst_dir``.

    ``available_now=True`` drains everything currently present and
    stops (batch-refresh semantics, good for tests); False runs
    continuously with micro-batches.
    """
    reader = spark.readStream.schema(schema_ddl)
    src = reader.json(src_dir) if format == "json" else reader.csv(src_dir)
    writer = (
        src.writeStream.format("parquet")
        .option("path", dst_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_rollup(
    spark: SparkSession,
    src_dir: str,
    schema_ddl: str,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window aggregate over a streaming source — the
    streaming twin of the batch ``date_bin`` rollup
    (queries/scalars.py::scalar_date_bin). Returns the streaming
    DataFrame; callers attach a sink (tests use availableNow + memory).
    """
    src = spark.readStream.schema(schema_ddl).json(src_dir)
    # watermarks require TIMESTAMP (event-time), not TIMESTAMP_NTZ;
    # the session runs in UTC so the cast is value-preserving
    src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(38,6)")).cast("double").alias("total"),
        )
        .select(F.col("win.start").alias("bucket"), "n", "total")
    )


def session_frame(user_col: str, user: int, start_us, last_us, n, total):
    """The closed sessions of one key as the output frame of
    :func:`sessionize_stream`, one DataFrame for all of them (the
    per-segment 1-row construction was the dominant batch cost: r11
    measured ~95k single-row frames per replay). Session bounds are
    int64 epoch µs; ``.view("datetime64[us]")`` reads the same instants
    as ``pd.to_datetime(us, unit="us")`` at ~2.7x less per frame (r12),
    and the timeout path pays this constructor once per timed-out key,
    which is most of the flush batch's cost."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            user_col: np.full(len(n), user, dtype=np.int64),
            "session_start": np.asarray(start_us, dtype=np.int64).view("datetime64[us]"),
            "session_end": np.asarray(last_us, dtype=np.int64).view("datetime64[us]"),
            "n_events": np.asarray(n, dtype=np.int64),
            "total": np.asarray(total, dtype=np.float64),
        }
    )


def sessionize_stream(
    src: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Custom stateful operator: streaming session windows per user via
    ``applyInPandasWithState`` with an event-time timeout — the
    streaming twin of the batch ``sessionize`` (operators/timeseries.py).
    ``src`` is a streaming DataFrame whose ``ts_col`` is TIMESTAMP.

    State per user = (session_start_us, last_us, n_events, total) —
    microsecond precision, so session bounds match the batch answer
    bit-for-bit (the state-timeout API itself is millisecond-granular;
    timeouts round UP so a timeout never fires early). Events within
    ``gap_minutes`` of the last seen event extend the session; a
    session EMITS when the watermark passes last + gap
    (EventTimeTimeout), i.e. when no on-time event can extend it. State
    is bounded by (active users x one tuple) and evicted on emit — the
    shape that holds at 100 TB/day ingest.

    Arrow-batched by construction; per group the pandas work is O(rows
    in batch for that user).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    out_schema = (
        f"{user_col} bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, total double"
    )
    state_schema = "start_us bigint, last_us bigint, n bigint, total double"

    def fn(key, pdf_iter, state):
        (user,) = key

        def emit(seg):
            return session_frame(user_col, user, *([v] for v in seg))

        if state.hasTimedOut:
            seg = state.get
            state.remove()
            yield emit(seg)
            return

        chunks = list(pdf_iter)
        rows = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)).sort_values(
            ts_col
        )
        ts = (rows[ts_col].astype("int64") // 1_000).to_numpy()
        vals = rows[value_col].to_numpy(dtype="float64")
        # vectorized gap split over the sorted event times: segment k
        # spans [starts[k], ends[k]); ts is sorted so per-segment
        # min/max are the boundary elements. Per-segment sums use
        # np.nansum over the raw ndarray slice — bit-identical to the
        # pandas ``Series.iloc[s:e].sum()`` the r11 path used (pandas
        # nanops masks NaN to 0 then runs the same numpy pairwise sum
        # when bottleneck is absent), without paying Series-slice
        # machinery per segment (~64 segments/key at sf0.1 made the
        # iloc path the dominant per-key cost — r12 profile).
        brk = np.flatnonzero(np.diff(ts) > gap_us) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(ts)]))
        # segment columns stay numpy end to end (r12): the r11 shape
        # built one Python tuple per segment plus four list
        # comprehensions per emit — at ~64 segments/key that tuple
        # churn was most of the per-key Python cost. Values are
        # unchanged: same ints, same nansum doubles.
        seg_start = ts[starts]
        seg_end = ts[ends - 1]
        seg_n = (ends - starts).astype(np.int64)
        seg_tot = np.fromiter(
            (np.nansum(vals[s:e]) for s, e in zip(starts, ends)),
            dtype=np.float64,
            count=len(starts),
        )
        if state.exists:
            s0, l0, n0, t0 = state.get
            if int(seg_start[0]) - l0 <= gap_us:
                seg_start[0] = min(s0, int(seg_start[0]))
                seg_end[0] = max(l0, int(seg_end[0]))
                seg_n[0] += n0
                seg_tot[0] = t0 + seg_tot[0]
            else:
                seg_start = np.concatenate(([s0], seg_start))
                seg_end = np.concatenate(([l0], seg_end))
                seg_n = np.concatenate(([n0], seg_n))
                seg_tot = np.concatenate(([t0], seg_tot))
        # every non-tail segment is followed by an observed > gap break:
        # it is definitively closed, regardless of the watermark
        if len(seg_start) > 1:
            yield session_frame(
                user_col, user, seg_start[:-1], seg_end[:-1], seg_n[:-1], seg_tot[:-1]
            )
        tail = (
            int(seg_start[-1]),
            int(seg_end[-1]),
            int(seg_n[-1]),
            float(seg_tot[-1]),
        )
        timeout_ms = -(-(tail[1] + gap_us) // 1000)  # ceil us -> ms
        if timeout_ms <= state.getCurrentWatermarkMs():
            # out-of-order micro-batch: the watermark already passed
            # last+gap, so no on-time event can extend the tail — close
            # it now instead of registering an in-the-past timeout
            if state.exists:
                state.remove()
            yield emit(tail)
            return
        state.update(tail)
        state.setTimeoutTimestamp(timeout_ms)

    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_sessionize(
    spark: SparkSession,
    src_dir: str,
    schema_ddl: str,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
) -> DataFrame:
    """:func:`sessionize_stream` over a JSON file source (one file per
    micro-batch, so tests drive watermark advancement batch by batch)."""
    src = spark.readStream.schema(schema_ddl).option("maxFilesPerTrigger", 1).json(src_dir)
    src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return sessionize_stream(
        src,
        user_col=user_col,
        ts_col=ts_col,
        value_col=value_col,
        gap_minutes=gap_minutes,
        watermark=watermark,
    )


def stream_dedup(
    src: DataFrame,
    key_cols: list[str],
    *,
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key.

    ``dropDuplicatesWithinWatermark`` bounds the per-key state by the
    watermark horizon — the unbounded-state trap of a plain
    dropDuplicates on an infinite stream. The scale contract matches
    batch ``exact_duplicates``: one shuffle on the key; state store
    holds only keys younger than the watermark.
    """
    src = src.withColumn(event_time_col, F.col(event_time_col).cast("timestamp"))
    return src.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_enrich(
    src: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    how: str = "left",
) -> DataFrame:
    """Stream–static enrichment join (lookup-join analog on a stream).

    The static side is re-read per micro-batch (picking up dimension
    updates) and broadcast when small — the streaming twin of the
    batch lookup join; no stream-side state is kept.
    """
    from pyspark.sql.functions import broadcast

    return src.join(broadcast(dim), on, how)


def stream_quality_gate(
    src: DataFrame,
    text_col: str,
) -> DataFrame:
    """Streaming document-quality routing: the batch quality_gate
    expression applied per micro-batch (pure codegen, no state),
    emitting (doc, gate) for a downstream filter/split sink — the
    continuous-ingest form of the training-data quality pass.
    """
    from crate_spark.operators.pipeline import quality_gate

    return src.withColumn("gate", quality_gate(text_col))
