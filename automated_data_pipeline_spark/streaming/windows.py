"""Streaming event-time aggregations (SURVEY.md §2.8 extensions): the
batch suite's window/session transformations under Structured Streaming
with watermarks and late-data policy.

The reference has no event-time semantics (per-run snapshots only);
these are the Spark-native formalization over the events schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling window counts/sums with a watermark: late rows beyond
    the watermark are dropped, state is bounded (required for append
    mode on an unbounded stream)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows (gap-based) per user — the streaming formalization
    of the batch lag+cumsum sessionization in the suite."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def _range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    within: str,
    watermark: str,
    how: str,
) -> DataFrame:
    """The watermarked event-time range join behind both stream-stream
    joins: right_ts ∈ [left_ts - within, left_ts], columns prefixed
    l_/r_, ``on`` kept once under its own name."""
    l = left.withWatermark(left_ts, watermark).select(
        F.col(on).alias("_k"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c != on],
    )
    r = right.withWatermark(right_ts, watermark).select(
        F.col(on).alias("_k2"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != on],
    )
    cond = (
        (F.col("_k") == F.col("_k2"))
        & (F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}") - F.expr(f"INTERVAL {within}"))
        & (F.col(f"r_{right_ts}") <= F.col(f"l_{left_ts}"))
    )
    return l.join(r, cond, how).withColumnRenamed("_k", on).drop("_k2")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time range constraint:
    rows join only when right_ts ∈ [left_ts - within, left_ts]. Both
    sides carry watermarks so Spark can bound the join state — without
    the time constraint + watermarks, stream-stream join state grows
    forever. Columns are prefixed l_/r_ to avoid collisions."""
    return _range_join(
        left, right, on, left_ts, right_ts, within, watermark, "inner"
    )


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with the same range constraint as
    ``stream_stream_join``. Unmatched left rows are emitted with NULL
    right columns — but only once the watermark passes the end of their
    join window (Spark must be certain no matching right row can still
    arrive), so outer results trail the inner ones by up to
    ``within + watermark`` of event time. That delayed-null contract is
    the outer-join analogue of append-mode window emission, and the
    state stays bounded exactly like the inner variant."""
    return _range_join(
        left, right, on, left_ts, right_ts, within, watermark, "left_outer"
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup on event_id with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
