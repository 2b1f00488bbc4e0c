"""Incremental per-source (per-domain) corpus accumulators: the
streaming counterpart of the round-8 domain-curation axis
(suite/round8.py blocklist_filter_stats / source_quality_quantile_gate).

A FineWeb-style operation needs per-domain running totals — document
counts, byte volume, and model-quality mass — maintained as the corpus
ARRIVES, because per-domain gates (blocklists, quality quantiles,
volume caps) are applied to the next crawl increment using statistics
of everything ingested so far. Re-scanning 100 TB per increment is the
wrong cost model; each micro-batch here pays O(batch) + an
O(sources-in-batch) append.

Mechanics are the fold-stream skeleton's (``streaming/fold.py``, a
``FingerprintStore``): one row per (source, batch_key) carrying EXACT-integer
aggregates (``n_docs``, ``chars_total``, ``sum_p_i`` in 1e-4 score
units — the ``quality_scorer`` convention), appended idempotently
under a deterministic batch key; a replayed batch is detected by its
key and leaves the store untouched. Read-time merge is one integer
groupBy over the store (tiny: sources x batches rows), so any batch
split reproduces the whole-corpus per-source statistics bit-for-bit —
pytest-pinned against the batch computation.

Store growth is O(sources x batches) rows — kilobytes per batch, and
file-count compaction is inherited from ``FingerprintStore`` (rows
preserved, so replay probes keep working across compactions). At
cluster scale the store becomes a table with a periodic ledgered
merge (collapse old batch rows into a frozen snapshot key while
keeping the applied-key ledger); append-only parquet keeps this
container dependency-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality_model import score_quality
from .fold import start_fold_stream
from .incremental_dedup import FingerprintStore


class SourceStatsStore(FingerprintStore):
    """Append-only parquet per-source integer accumulators; inherits
    the idempotent-append keying and crash-safe compact."""

    schema = (
        "source string, n_docs bigint, chars_total bigint, "
        "sum_p_i bigint, batch_key string"
    )


def batch_source_stats(
    batch_df: DataFrame,
    text_col: str,
    bias: float,
    coefs: list[float],
    source_col: str = "source",
) -> DataFrame:
    """One micro-batch's per-source integer stats: (source, n_docs,
    chars_total, sum_p_i). NULL texts are excluded like the batch
    scorer; chars counted on the raw text (length), scores quantized
    to 1e-4 BIGINT units so merges are exact."""
    scored = score_quality(
        batch_df.filter(F.col(text_col).isNotNull()), text_col, bias, coefs
    )
    return (
        scored.select(
            source_col,
            F.length(F.col(text_col)).cast("bigint").alias("_chars"),
            F.floor(F.col("quality_p") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("_p_i"),
        )
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_chars").alias("chars_total"),
            F.sum("_p_i").alias("sum_p_i"),
        )
    )


def read_source_totals(spark: SparkSession, store: SourceStatsStore) -> DataFrame:
    """Whole-corpus per-source totals merged from the store: (source,
    n_docs, chars_total, avg_p). Integer sums merge exactly; avg_p is
    derived once from the merged sums (floor-rounded 1e-4, the
    ``quality_scorer`` convention)."""
    return (
        store.read(spark)
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("chars_total").alias("chars_total"),
            F.sum("sum_p_i").alias("_sum_p_i"),
        )
        .select(
            "source",
            "n_docs",
            "chars_total",
            (
                F.floor(F.col("_sum_p_i") / F.col("n_docs") + F.lit(0.5))
                / 10000.0
            )
            .cast("double")
            .alias("avg_p"),
        )
        .orderBy("source")
    )


def start_source_stats_stream(
    spark: SparkSession,
    source_dir: str,
    store: SourceStatsStore,
    bias: float,
    coefs: list[float],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire the accumulator as a file-source stream: every JSON shard
    of (doc_id, text, source) dropped in ``source_dir`` is a
    micro-batch folded into the store. Returns the started
    StreamingQuery."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        store.fold(
            batch_source_stats(batch_df, "text", bias, coefs), key, maybe_replay
        )

    return start_fold_stream(
        spark, source_dir, "doc_id bigint, text string, source string",
        checkpoint_dir, fold, available_now,
    )
