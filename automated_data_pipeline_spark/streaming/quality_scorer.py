"""Per-micro-batch model-based quality scoring: the streaming face of
``operators/quality_model`` (CCNet/GPT-3-style logistic quality
filter), completing the batch-operator ⇒ incremental-twin pattern that
segment dedup / LSH / HLL / the rule monitor already follow.

A trained quality model is fit offline (``train_quality_logreg``) and
FROZEN; the stream scores arriving documents at those published
coefficients with the SAME featurize expressions the batch scorer
compiles (``score_quality`` — zero train/serve skew by construction,
shuffle-free whole-stage codegen per batch). Each micro-batch appends
one lineage-stamped score summary per decile bucket to a parquet
metrics table (the ``quality_monitor`` contract), so corpus quality
drift surfaces within one trigger interval instead of at the nightly
audit.

Summary rows carry exact-integer aggregates (``n_docs``, ``sum_p_i``
in 1e-4 score units) rather than pre-divided averages: summaries from
any number of micro-batches MERGE EXACTLY into the batch operator's
corpus-wide histogram — the batch≡stream invariant is integer
equality, pytest-pinned (tests/test_quality_scorer_stream.py).

Exactly-once is the fold-stream skeleton's (``streaming/fold.py``):
foreachBatch is at-least-once, so appends are tagged with a
deterministic ``run_key#batch_id`` key and only the first batch after
a (re)start pays the replay probe read.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality_model import score_quality
from .fold import Fold, append_once, fold_handler, start_fold_stream


def batch_score_summary(
    batch_df: DataFrame,
    batch_id: int,
    text_col: str,
    bias: float,
    coefs: list[float],
) -> DataFrame:
    """One micro-batch's decile-bucket score summary, stamped with
    lineage. ``sum_p_i`` is the exact integer sum of 1e-4-quantized
    scores — mergeable across batches without float drift."""
    scored = score_quality(
        batch_df.filter(F.col(text_col).isNotNull()), text_col, bias, coefs
    )
    return (
        scored.select(
            F.floor(F.col("quality_p") * 10).cast("bigint").alias("bucket"),
            F.floor(F.col("quality_p") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("_p_i"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_p_i").alias("sum_p_i"),
        )
        .select(
            F.lit(int(batch_id)).alias("batch_id"),
            "bucket",
            "n_docs",
            "sum_p_i",
            F.current_timestamp().alias("scored_at"),
        )
    )


def attach_quality_scorer(
    handler: Callable[[DataFrame, int], None] | None,
    metrics_path: str,
    text_col: str,
    bias: float,
    coefs: list[float],
    run_key: str = "",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch handler so every micro-batch appends its
    score summary to ``metrics_path`` and the wrapped ``handler`` (if
    any) receives the SCORED frame (features + ``quality_p`` attached)
    — downstream gates filter on the score without recomputing it.

    ``run_key`` scopes replay detection exactly like
    ``attach_quality_monitor`` (pass the query's checkpoint dir): a
    checkpoint reset restarts batch ids at 0, and a second query
    sharing ``metrics_path`` would collide with the old ids."""
    return fold_handler(
        run_key, _scorer_fold(handler, metrics_path, text_col, bias, coefs)
    )


def _scorer_fold(handler, metrics_path, text_col, bias, coefs) -> Fold:
    def fold(batch_df, batch_id, key, maybe_replay):
        summary = batch_score_summary(batch_df, batch_id, text_col, bias, coefs)
        append_once(metrics_path, summary, key, maybe_replay)
        if handler is not None:
            handler(
                score_quality(
                    batch_df.filter(F.col(text_col).isNotNull()),
                    text_col, bias, coefs,
                ),
                batch_id,
            )

    return fold


def start_quality_score_stream(
    spark: SparkSession,
    source_dir: str,
    metrics_path: str,
    bias: float,
    coefs: list[float],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire the scorer as a file-source stream: every JSON shard of
    (doc_id, text) dropped in ``source_dir`` is a micro-batch;
    per-batch decile summaries land in ``metrics_path``. Returns the
    started StreamingQuery."""
    return start_fold_stream(
        spark, source_dir, "doc_id bigint, text string", checkpoint_dir,
        _scorer_fold(None, metrics_path, "text", bias, coefs),
        available_now,
    )


def merged_score_histogram(spark: SparkSession, metrics_path: str) -> DataFrame:
    """Corpus-wide decile histogram re-aggregated from the per-batch
    summaries: (bucket, n_docs, avg_p). The EXACT batch≡stream
    invariant is on the integer columns: n_docs and the underlying
    sum_p_i merge bit-for-bit into ``batch_score_summary`` over the
    whole corpus (pytest-pinned). avg_p here averages the
    1e-4-QUANTIZED scores, which can differ from
    quality_logreg_buckets' round-after-averaging avg_p by up to one
    1e-4 quantum — compare integer sums, not the derived average,
    when diffing stream vs that batch query."""
    return (
        spark.read.parquet(metrics_path)
        .groupBy("bucket")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_p_i").alias("_sum_p_i"),
        )
        .select(
            "bucket",
            "n_docs",
            (
                F.floor(F.col("_sum_p_i") / F.col("n_docs") + F.lit(0.5))
                / 10000.0
            )
            .cast("double")
            .alias("avg_p"),
        )
        .orderBy("bucket")
    )
