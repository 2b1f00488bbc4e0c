"""Streaming volume-anomaly monitoring: the streaming face of the
``rolling_daily_zscore`` suite query.

A batch z-score tells you yesterday had an outage; a stream wants the
same signal within one trigger interval. ``attach_volume_monitor``
wraps a foreachBatch handler: every micro-batch appends its per-time-
window event counts to a parquet metrics table with (batch_key,
batched-at) lineage — replay-idempotent through the fold-stream
skeleton's keyed append (``streaming/fold.py``: a crashed-and-replayed
batch probes its batch_key before writing, so counts are never
double-appended).
``read_anomalies`` then scores each window against its TRAILING
windows (excluding itself — a spike must not inflate its own
baseline) using the suite's exact-integer-sums recipe: the window
carries only count/sum/sum-of-squares (all exact), and mean/std/z are
derived in plain double arithmetic, so there is no engine- or
partial-order-dependent variance drift.

Scale shape: the per-batch aggregation is a distributed groupBy on
the time bucket; the metrics table holds one row per (batch, window)
— control-plane sized. The anomaly scan's ordered window runs over
one row per time bucket, bounded by the monitored time range, not the
event volume.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import anomaly_flag, trailing_zscore
from .fold import append_once, fold_handler


def batch_window_counts(
    batch_df: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    window: str = "1 hour",
) -> DataFrame:
    """One micro-batch's per-window event counts, lineage-stamped.
    NULL timestamps are dropped — F.window(NULL) would otherwise emit
    a window_start=NULL bucket that sorts FIRST in read_anomalies and
    contaminates the earliest real windows' baselines."""
    return (
        batch_df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.col("w.start").alias("window_start"),
            "n_events",
            F.current_timestamp().alias("counted_at"),
        )
    )


def attach_volume_monitor(
    handler: Callable[[DataFrame, int], None] | None,
    metrics_path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    run_key: str = "",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch handler so every micro-batch also appends
    its per-window counts to ``metrics_path``. Same replay contract as
    ``quality_monitor.attach_quality_monitor``: ``run_key`` scopes the
    batch_key (pass the checkpoint dir), and only the first batch
    after a (re)start pays the probe read."""

    def fold(batch_df, batch_id, key, maybe_replay):
        counts = batch_window_counts(batch_df, batch_id, ts_col, window)
        append_once(metrics_path, counts, key, maybe_replay)
        if handler is not None:
            handler(batch_df, batch_id)

    return fold_handler(run_key, fold)


def read_window_volumes(spark, metrics_path: str) -> DataFrame:
    """Total events per time window across all recorded batches (one
    window can straddle micro-batches; their partial counts sum)."""
    return (
        spark.read.parquet(metrics_path)
        .groupBy("window_start")
        .agg(F.sum("n_events").alias("n_events"))
    )


def read_anomalies(
    spark,
    metrics_path: str,
    history: int = 7,
    z_threshold: float = 2.0,
    min_history: int = 4,
) -> DataFrame:
    """Each window scored against its trailing ``history`` windows
    (exclusive): (window_start, n_events, z, is_anomaly). Windows with
    fewer than ``min_history`` trailing samples, or zero trailing
    variance, get NULL z and are never flagged — a 2-sample baseline
    makes any ordinary fluctuation a 2-sigma event, so the monitor
    warms up silently instead of paging on day three."""
    v = read_window_volumes(spark, metrics_path)
    w = Window.orderBy("window_start").rowsBetween(-history, -1)
    stats = v.select(
        "window_start",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).over(w).alias("cw"),
        F.sum("n_events").over(w).alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("ss"),
    )
    z = trailing_zscore(
        F.col("n_events"), F.col("cw"), F.col("s"), F.col("ss"),
        min_samples=min_history,
    )
    return stats.select(
        "window_start",
        "n_events",
        z.alias("z"),
        anomaly_flag(z, z_threshold).alias("is_anomaly"),
    )
