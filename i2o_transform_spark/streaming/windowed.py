"""Structured Streaming operators over the events stream.

The reference is strictly batch (SURVEY.md §2.9 — no watermarks, no state),
so streaming here is an *extension*: the same declarative transformations
run unchanged on a batch DataFrame or a `readStream` DataFrame — Spark's
unified API means the operator is written once and the correctness oracle is
the batch execution of the identical plan (tested in
tests/test_streaming.py by replaying the events parquet through a file
stream and comparing to the batch result).

Scale notes: windowed aggregation state is bounded by the watermark (late
rows beyond it are dropped and their state evicted); the shuffle key is
(window, group) — at 10^12 events the window column prefix keeps state
partition-prunable and the per-trigger shuffle proportional to the trigger's
data, not history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts + value sums per event type.

    Works identically on batch and streaming inputs; the watermark is only
    attached when the input is streaming (it is meaningless — and an
    analysis error — on some batch plans).
    Output: (window_start, event_type, n_events, sum_value).
    """
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC so the
    # cast is value-preserving
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.window(F.col(ts_col), window).alias("_w"), F.col(group_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per user — the streaming analogue of the
    reference's era/interval merge (W1, MSSQL/OMOPLoader.sql:1508-1565):
    events closer than ``gap`` chain into one session exactly like era rows
    closer than 30 days merge into one era.
    Output: (user_id, session_start, session_end, n_events)."""
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, gap)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("_s"), F.col(user_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("_s.start").alias("session_start"),
            F.col("_s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(
    events: DataFrame,
    key_cols: "list[str] | None" = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once event dedup — at-least-once upstream delivery (replayed
    Kafka offsets, retried webhook posts) collapses to one row per event id.

    Streaming: ``dropDuplicatesWithinWatermark`` keeps one state entry per
    key only until the watermark passes the entry's event time, so the state
    store is bounded by the late-data horizon (``watermark``), not by
    history — the property that makes this runnable forever on a 10^12-event
    stream.  Batch: plain ``dropDuplicates`` on the same keys (one shuffle,
    map-side partial dedup) — the correctness oracle for the stream run.
    Duplicate rows are byte-identical replays, so which one survives is
    immaterial and the operator is deterministic.
    """
    key_cols = key_cols or ["event_id"]
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        return src.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return src.dropDuplicates(key_cols)


def stateful_running_totals(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    timeout_minutes: int = 60,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value total, state evicted after ``timeout_minutes`` of
    processing-time inactivity.

    This is the escape hatch for operators Spark's built-in windowed
    aggregations can't express (per-key accumulators with custom eviction);
    state is one tiny tuple per live key, partitioned by user_id — at
    10^12 events the state store scales with distinct active users per
    timeout horizon, not with history.  Batch inputs take the equivalent
    one-shot groupBy (same output schema, no state) so the batch run is the
    correctness oracle for the stream run.

    Trigger note: an ``availableNow`` query over this operator never
    terminates.  While any key holds a processing-time timeout Spark keeps
    running no-data batches ("No new data but cleaning up state"), so
    ``awaitTermination`` only returns on its timeout.  Use ``once`` (one
    batch) for a bounded run, or a processing-time trigger and ``stop()``.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    if not events.isStreaming:
        return (
            events.groupBy(user_col)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,3)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col(user_col).alias("user_id"), "n_events", "total_value"
            )
        )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    update = make_running_totals_update(timeout_minutes)

    return (
        events.select(user_col, "value")
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf="ProcessingTimeTimeout",
        )
    )


def make_running_totals_update(timeout_minutes: int = 60):
    """The per-key state-update function for :func:`stateful_running_totals`,
    exposed at module level so the timeout/eviction branch is unit-testable
    without a streaming query (ADVICE r01: the eviction path was unexercised
    by availableNow one-shot triggers)."""

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        if state.hasTimedOut:
            # Eviction path: the key saw no data for timeout_minutes.  Drop
            # the state (bounding the store to active keys) and emit nothing —
            # the last data-driven update already carried the final totals, so
            # a farewell row here would be a duplicate.
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 3)))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return update


def enrich_events(
    events: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple[tuple[str, str], ...] = (
        ("c_mktsegment", "segment"),
        ("c_nationkey", "nation_key"),
    ),
) -> DataFrame:
    """Stream-static enrichment: left-join the (possibly streaming) events
    frame against a static dimension, broadcast.

    This is the streaming twin of the reference's dictionary equi-join (J1):
    in a stream-static join Spark re-plans the static side per micro-batch,
    the broadcast keeps it shuffle-free, and no state store is involved
    (unlike stream-stream joins) — so it scales with the trigger's data
    only.  Works identically on a batch frame (the correctness oracle).
    """
    d = dim.select(
        F.col(dim_key).alias(key_col),
        *[F.col(src).alias(dst) for src, dst in dim_cols],
    )
    return events.join(F.broadcast(d), key_col, "left")


def attribution_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    max_gap_minutes: int = 30,
    type_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: attribute each ``right_type`` event to
    every ``left_type`` event by the same key in the preceding
    ``max_gap_minutes`` (the classic click→purchase attribution shape).

    On streaming inputs BOTH sides carry a watermark and the join condition
    bounds right.ts into [left.ts, left.ts + gap], so Spark derives a state
    watermark for each side: buffered rows older than (watermark + gap) are
    evicted every trigger — state is bounded by the time window, never by
    history.  On batch inputs the identical plan is a plain range-condition
    join (the correctness oracle; tests prove stream == batch).

    Scale notes: the state store is hash-partitioned on ``key_col`` — the
    same skew caveat as any keyed join (a bot user with 10^6 clicks/hour
    makes a hot state partition; cap with a per-key sampling guard upstream
    if the source allows it).  Output columns are renamed to a flat schema
    so downstream plans never carry two ambiguous ``ts`` columns.
    """
    l = left.where(F.col(type_col) == left_type).select(
        F.col(key_col).alias("l_key"),
        F.col(ts_col).cast("timestamp").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.where(F.col(type_col) == right_type).select(
        F.col(key_col).alias("r_key"),
        F.col(ts_col).cast("timestamp").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (l["l_key"] == r["r_key"])
        & (r["r_ts"] >= l["l_ts"])
        & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {max_gap_minutes} MINUTES"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l_key").alias(key_col),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
        "r_value",
    )


def line_dedup_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_line: int = 12,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming CCNet line dedup — the in-stream twin of
    operators/dedup.line_dedup's election: chunk each arriving document into
    fixed-width token lines map-side (operators/dedup.explode_lines — narrow,
    streaming-safe), then emit each DISTINCT line exactly once via
    ``dropDuplicatesWithinWatermark`` keyed on md5(line).

    Emits the deduplicated LINE SET (line_md5, line) rather than per-doc
    attribution: the kept row's content is identical whichever arrival
    survives (the key is the full line content), so the output is
    deterministic as a set even though micro-batch arrival order is not.
    Per-document reassembly stays a batch compaction over the sink (the
    line_dedup election), exactly as CCNet splits hashing (streaming) from
    filtering (batch).

    State is one entry per distinct line seen within the ``watermark``
    horizon — bounded by the late-data window, not by history, which is what
    lets this run forever on a crawl firehose.  Batch inputs take the
    equivalent dropDuplicates (the correctness oracle for the stream run).
    """
    from i2o_transform_spark.operators.dedup import explode_lines

    lines = explode_lines(
        docs,
        id_col=id_col,
        text_col=text_col,
        tokens_per_line=tokens_per_line,
        carry_cols=[ts_col],
    ).select(
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.md5("line").alias("line_md5"),
        "line",
    )
    if lines.isStreaming:
        deduped = lines.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["line_md5"]
        )
    else:
        deduped = lines.dropDuplicates(["line_md5"])
    return deduped.select("line_md5", "line")
