"""Incremental DSIR: the streaming twin of
``operators/sampling.dsir_importance`` (VERDICT r9 item 7 — the
curation axis's last batch-only operator family).

DSIR's whole-corpus state is two integers per hashed-unigram bucket:
the target-subset token count and the raw token count ("Data
Selection for Language Models via Importance Resampling", Xie et al.
2023 — the estimator only ever sees bucket counts, never documents).
Integer counts merge exactly across any micro-batch split, so the
fold-stream store pattern (``streaming/fold.py``) carries over
verbatim: one row per
(bucket, batch_key), idempotent appends under deterministic batch
keys, crash-safe compaction, O(batch tokens) per increment. From the
merged store the per-document importance weights — and therefore the
downstream mixture-resampling consumers (``weighted_sample_topk``,
``mixture_sample``) — are recoverable at any moment, matching the
batch operator's output exactly (same bucket hash, same Laplace
smoothing, same float term per bucket; pytest pins batch ≡ stream).

The 100 TB shape: each crawl increment pays one narrow
tokenize+hash+agg pass over ITS OWN documents (<= n_buckets result
rows); re-deriving weights for any document set joins a broadcast
<=n_buckets-row stats frame — the corpus is never re-scanned to
refresh the target/raw distributions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from .fold import start_fold_stream
from .incremental_dedup import FingerprintStore


class DsirBucketStore(FingerprintStore):
    """Append-only parquet per-bucket integer token counts (target and
    raw); inherits the idempotent-append keying and crash-safe
    compaction."""

    schema = "bucket bigint, n_target bigint, n_raw bigint, batch_key string"


def batch_dsir_buckets(
    batch_df: DataFrame,
    text_col: str,
    is_target: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """One micro-batch's per-bucket token counts: (bucket, n_target,
    n_raw) — exact integers, so they merge exactly. Same tokenization
    and md5-derived bucket hash as the batch operator, so the merged
    store reproduces its statistics bit-for-bit. Hash-spread before
    the explode (the r7 one-file-scan lesson); NULL texts contribute
    nothing (explode of a NULL token array)."""
    spread = batch_df.repartition(
        batch_df.sparkSession.sparkContext.defaultParallelism
    )
    tok = spread.select(
        is_target.alias("_is_target"),
        F.explode(TX.tokens(F.col(text_col))).alias("_tok"),
    ).withColumn(
        "_bucket", F.pmod(TX.stable_hash64(F.col("_tok")), F.lit(n_buckets))
    )
    return tok.groupBy(F.col("_bucket").alias("bucket")).agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_target"),
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
    )


def read_dsir_stats(
    spark: SparkSession, store: DsirBucketStore
) -> DataFrame:
    """Whole-corpus per-bucket (n_target, n_raw) merged from the store
    — integer sums, exact under any batch split; <= n_buckets rows."""
    return (
        store.read(spark)
        .groupBy("bucket")
        .agg(
            F.sum("n_target").cast("bigint").alias("n_target"),
            F.sum("n_raw").cast("bigint").alias("n_raw"),
        )
    )


def recover_dsir_weights(
    spark: SparkSession,
    store: DsirBucketStore,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 256,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document DSIR importance weights for ``docs``, scored
    against the STORE's target/raw distributions instead of statistics
    derived from ``docs`` itself — the incremental replacement for
    ``dsir_importance``'s stats subtree. When the store has ingested
    exactly the corpus being scored, the output matches the batch
    operator's (same formula, same integer statistics; pytest-pinned
    to 6 decimals — the one legitimate difference is float summation
    order). Docs may also be a NEW batch the store never saw: buckets
    absent from the store score with zero counts under the same
    Laplace smoothing — how DSIR scores fresh crawl increments against
    the established distributions.

    Plan: one tokenize+agg pass over ``docs``; the stats frame
    (<= n_buckets rows) and its one-row totals broadcast — no second
    corpus scan, no shuffle of the token table against the store.

    Output: (id_col, *keep_cols, n_tokens, weight) — the batch
    operator's contract."""
    keep_cols = keep_cols or []
    stats = read_dsir_stats(spark, store)
    totals = stats.agg(
        F.sum("n_target").alias("_tot_t"), F.sum("n_raw").alias("_tot_r")
    )
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, id_col
    )
    doc_bucket = (
        spread.select(
            id_col, *keep_cols,
            F.explode(TX.tokens(F.col(text_col))).alias("_tok"),
        )
        .withColumn(
            "bucket", F.pmod(TX.stable_hash64(F.col("_tok")), F.lit(n_buckets))
        )
        .groupBy(id_col, *keep_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    b = float(n_buckets)
    term = (
        F.log(
            (F.coalesce(F.col("n_target"), F.lit(0)) + 1)
            / (F.col("_tot_t") + b)
        )
        - F.log(
            (F.coalesce(F.col("n_raw"), F.lit(0)) + 1)
            / (F.col("_tot_r") + b)
        )
    )
    return (
        doc_bucket.join(F.broadcast(stats), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col, *keep_cols)
        .agg(
            F.sum("_cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_cnt") * term).alias("weight"),
        )
    )


def start_incremental_dsir(
    spark: SparkSession,
    source_dir: str,
    store: DsirBucketStore,
    checkpoint_dir: str,
    is_target: Column,
    available_now: bool = True,
):
    """Wire the bucket store as a file-source stream: every JSON shard
    of (doc_id, text, lang) dropped in ``source_dir`` is a micro-batch
    folded into the store under its deterministic batch key. Only the
    FIRST batch after a (re)start probes for an already-applied key —
    Spark's recovery contract (committed batches never re-fire; the
    only possible replay is the last uncommitted batch, which IS the
    restart batch). Returns the started StreamingQuery."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        store.fold(
            batch_dsir_buckets(batch_df, "text", is_target), key, maybe_replay
        )

    return start_fold_stream(
        spark, source_dir, "doc_id bigint, text string, lang string",
        checkpoint_dir, fold, available_now,
    )
