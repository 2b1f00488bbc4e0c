"""Incremental per-source SCORE HISTOGRAM: the streaming twin of the
round-8 ``source_quality_quantile_gate`` (VERDICT r8 item 7).

The batch gate keeps each source's top 75% of documents by model
score — a RANK-based cut, which naively needs the whole corpus per
re-evaluation. But the suite quantizes scores to integer 1e-4 units
before ranking, so the per-source score DISTRIBUTION is a histogram
over at most 10001 integer keys — and a histogram of exact integer
counts merges exactly across micro-batches. Maintaining one row per
(source, p_i, batch_key) therefore makes the batch gate's entire
report (n_total, n_kept = ceil(keep*n), threshold = lowest kept
score, avg_kept) recoverable incrementally, bit-for-bit:

- n_total      = Σ counts
- n_kept       = (keep_num*n_total + keep_den - 1) div keep_den
- a score bucket is (partially) kept iff the docs strictly above it
  number fewer than n_kept; kept_in_bucket = min(count,
  n_kept - above). This reproduces the batch row_number cut exactly:
  ties at the cut are kept *by count*, and which doc_ids fill the
  partial bucket doesn't change any reported aggregate.
- threshold    = min kept p_i / 1e4
- avg_kept     = floor(Σ kept_in_bucket * p_i / n_kept + 0.5) / 1e4

Everything is integer arithmetic until the final two divisions, so
any micro-batch split reproduces the batch report exactly —
pytest-pinned (tests/test_source_histogram_stream.py).

Store mechanics are the fold-stream skeleton's (``streaming/fold.py``,
a ``FingerprintStore``): idempotent appends under a deterministic
batch key, crash-safe compaction, O(batch) per increment. Store
growth is O(sources x distinct-scores x batches) rows — still tiny
(the 1e-4 grid bounds distinct scores at 10001 per source), and at
cluster scale old batch rows collapse into a snapshot key exactly
like the other stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quality_model import score_quality
from .fold import start_fold_stream
from .incremental_dedup import FingerprintStore


class SourceScoreHistogramStore(FingerprintStore):
    """Append-only parquet per-(source, score) integer counts;
    inherits the idempotent-append keying and crash-safe compact."""

    schema = "source string, p_i bigint, n_docs bigint, batch_key string"


def batch_source_histogram(
    batch_df: DataFrame,
    text_col: str,
    bias: float,
    coefs: list[float],
    source_col: str = "source",
) -> DataFrame:
    """One micro-batch's per-(source, quantized score) counts. NULL
    texts are excluded like the other scorers; scores quantized to
    1e-4 BIGINT units (the suite convention) BEFORE counting, so the
    histogram is exact and merges exactly."""
    scored = score_quality(
        batch_df.filter(F.col(text_col).isNotNull()), text_col, bias, coefs
    )
    return (
        scored.select(
            source_col,
            F.floor(F.col("quality_p") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("p_i"),
        )
        .groupBy(source_col, "p_i")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def read_source_histogram(
    spark: SparkSession, store: SourceScoreHistogramStore
) -> DataFrame:
    """Whole-corpus per-(source, p_i) counts merged from the store —
    integer sums, exact under any batch split."""
    return (
        store.read(spark)
        .groupBy("source", "p_i")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def recover_quantile_gate(
    spark: SparkSession,
    store: SourceScoreHistogramStore,
    keep_num: int = 3,
    keep_den: int = 4,
) -> DataFrame:
    """The batch ``source_quality_quantile_gate`` report recovered
    from the incremental histogram: (source, n_total, n_kept,
    threshold, avg_kept), value-identical to the batch query over the
    same documents (pytest-pinned).

    Plan: one integer groupBy over the (tiny) store, a per-source
    window over histogram rows (≤10001 per source — NOT per-document
    rows; the corpus never re-scans), then one aggregate. This is the
    100 TB win: re-deriving the gate after each crawl increment costs
    O(store), not O(corpus)."""
    hist = read_source_histogram(spark, store)
    w_src = Window.partitionBy("source")
    w_desc = w_src.orderBy(F.col("p_i").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = (
        hist.withColumn("n_total", F.sum("n_docs").over(w_src))
        .withColumn(
            "n_kept",
            F.expr(f"({keep_num} * n_total + {keep_den} - 1) div {keep_den}"),
        )
        .withColumn("_cum", F.sum("n_docs").over(w_desc))
        .withColumn("_above", F.col("_cum") - F.col("n_docs"))
        .withColumn(
            "kept_here",
            F.greatest(
                F.lit(0),
                F.least(F.col("n_docs"), F.col("n_kept") - F.col("_above")),
            ),
        )
        .filter(F.col("kept_here") > 0)
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.min("n_total").cast("bigint").alias("n_total"),
            F.sum("kept_here").cast("bigint").alias("n_kept"),
            (F.min("p_i") / 10000.0).cast("double").alias("threshold"),
            (
                F.floor(
                    F.sum(F.col("kept_here") * F.col("p_i"))
                    / F.sum("kept_here")
                    + F.lit(0.5)
                )
                / 10000.0
            )
            .cast("double")
            .alias("avg_kept"),
        )
        .orderBy("source")
    )


def start_source_histogram_stream(
    spark: SparkSession,
    source_dir: str,
    store: SourceScoreHistogramStore,
    bias: float,
    coefs: list[float],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire the histogram as a file-source stream: every JSON shard of
    (doc_id, text, source) dropped in ``source_dir`` is a micro-batch
    folded into the store. Returns the started StreamingQuery."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        store.fold(
            batch_source_histogram(batch_df, "text", bias, coefs),
            key, maybe_replay,
        )

    return start_fold_stream(
        spark, source_dir, "doc_id bigint, text string, source string",
        checkpoint_dir, fold, available_now,
    )
