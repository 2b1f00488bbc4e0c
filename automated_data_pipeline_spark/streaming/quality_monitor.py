"""Per-micro-batch data-quality monitoring: the streaming face of
``operators/quality.rule_report``.

A batch expectation suite tells you yesterday's corpus was clean; a
100 TB/day *stream* needs the same rules evaluated per micro-batch so a
schema drift or upstream bug surfaces within one trigger interval, not
at the nightly audit. ``attach_quality_monitor`` wraps a foreachBatch
handler: every batch is evaluated against the rule suite in ONE extra
aggregate pass (the same single-scan folding as the batch report) and
the per-batch report rows are appended to a parquet metrics table with
(batch_id, batched_at) lineage — queryable like any control table, and
the natural input for alerting thresholds.

Related reference semantics: per-step RowsAffected bookkeeping
(java_code/.../StepProgress.java:10,25-48) — here generalized from row
counts to rule violations at micro-batch granularity.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.quality import rule_report
from .fold import append_once, fold_handler


def batch_quality_report(
    batch_df: DataFrame,
    batch_id: int,
    table: str,
    rules: list[tuple[str, Column]],
) -> DataFrame:
    """One micro-batch's expectation report, stamped with lineage."""
    return rule_report(batch_df, table, rules).select(
        F.lit(int(batch_id)).alias("batch_id"),
        "*",
        F.current_timestamp().alias("checked_at"),
    )


def attach_quality_monitor(
    handler: Callable[[DataFrame, int], None] | None,
    metrics_path: str,
    table: str,
    rules: list[tuple[str, Column]],
    run_key: str = "",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch handler so every micro-batch also appends its
    rule report to ``metrics_path``. The batch frame is evaluated twice
    (once by the report's aggregate, once by the wrapped handler) —
    callers with expensive upstream transformations should pass an
    already-persisted frame or source-stage stream, which is the normal
    foreachBatch shape.

    ``run_key`` scopes replay detection (pass the query's checkpoint
    dir, the fold-stream skeleton's ``checkpoint#batch`` keys): with
    the default ''-scope, a checkpoint reset — which restarts batch ids
    at 0 — or a second query sharing ``metrics_path`` would collide
    with the old ids and silently skip genuine reports.

    Pass ``handler=None`` to monitor without any downstream processing.
    """

    def fold(batch_df, batch_id, key, maybe_replay):
        report = batch_quality_report(batch_df, batch_id, table, rules)
        append_once(metrics_path, report, key, maybe_replay)
        if handler is not None:
            handler(batch_df, batch_id)

    return fold_handler(run_key, fold)


def read_quality_metrics(spark, metrics_path: str) -> DataFrame:
    """The accumulated per-batch reports, ordered for inspection."""
    return spark.read.parquet(metrics_path).orderBy(
        "batch_id", "table_name", "check_name"
    )
