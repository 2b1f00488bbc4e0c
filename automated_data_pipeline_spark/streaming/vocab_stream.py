"""Incremental per-language vocabulary: the streaming twin of the
round-7 ``lang_vocab_overlap`` contamination screen.

The screen's whole-corpus state is the per-(lang, token) count table —
exact integers that merge exactly across any micro-batch split (the
``source_histogram`` pattern: one row per (lang, tok, batch_key),
idempotent appends under deterministic batch keys, crash-safe
compaction). From the merged counts the batch report (per-language
top-100 vocabularies, pairwise overlap, size-aware Jaccard) recovers
at O(store) cost — the regex-heavy tokenize pass is paid once per
document ever, instead of once per corpus per refresh.

Store growth is O(distinct (lang, token) x batches) rows — vocabulary-
sized, and old batch rows collapse into a snapshot key under the
standard store compaction. At 100 TB the recovery's shuffles move
count rows, never documents.

The screen is one tail, :func:`vocab_overlap_from_counts`, shared with
the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.stats import portable_round
from .fold import start_fold_stream
from .incremental_dedup import FingerprintStore


class VocabCountStore(FingerprintStore):
    """Append-only parquet per-(lang, tok) integer token counts;
    inherits the idempotent-append keying and crash-safe compaction."""

    schema = "lang string, tok string, cnt bigint, batch_key string"


def batch_vocab_counts(
    batch_df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """One micro-batch's (lang, tok, cnt) rows — the batch operator's
    tokenize+count over the batch's own documents only (hash-spread
    first, the r7 one-file-scan lesson)."""
    return (
        batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism
        )
        .select(lang_col, F.explode(TX.tokens(F.col(text_col))).alias("tok"))
        .groupBy(F.col(lang_col).alias("lang"), "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def read_vocab_counts(
    spark: SparkSession, store: VocabCountStore
) -> DataFrame:
    """Whole-corpus per-(lang, tok) counts merged from the store —
    integer sums, exact under any batch split."""
    return (
        store.read(spark)
        .groupBy("lang", "tok")
        .agg(F.sum("cnt").alias("cnt"))
    )


def vocab_overlap_from_counts(
    counts: DataFrame, top_n: int = 100
) -> DataFrame:
    """(lang_a, lang_b, overlap, jaccard) off a (lang, tok, cnt) count
    table — the batch ≡ stream tail: ``lang_vocab_overlap`` feeds it
    the whole corpus's ``batch_vocab_counts``,
    :func:`recover_vocab_overlap` the merged store. Ties rank cnt desc,
    tok asc; the Jaccard uses the ACTUAL top-list sizes (ADVICE r7).

    The tiny top frame is pinned: it feeds the self-join and both size
    broadcasts, and Catalyst does not dedupe common subtrees, so its
    lineage (a corpus tokenize, or the store read) would run 4 times."""
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tok"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("lang", "tok")
        .localCheckpoint(eager=True)
    )
    # <= one row per language: broadcast both joins
    sizes = top.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a, b = top.alias("a"), top.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).alias("overlap"))
        .join(
            F.broadcast(
                sizes.select(F.col("lang").alias("_la"), F.col("n").alias("n_a"))
            ),
            F.col("lang_a") == F.col("_la"),
        )
        .join(
            F.broadcast(
                sizes.select(F.col("lang").alias("_lb"), F.col("n").alias("n_b"))
            ),
            F.col("lang_b") == F.col("_lb"),
        )
        .select(
            "lang_a", "lang_b", "overlap",
            portable_round(
                F.col("overlap")
                / (F.col("n_a") + F.col("n_b") - F.col("overlap")),
                4,
            ).cast("double").alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


def recover_vocab_overlap(
    spark: SparkSession, store: VocabCountStore, top_n: int = 100
) -> DataFrame:
    """The batch ``lang_vocab_overlap`` report recovered from the
    incremental counts, value-identical to the batch query over the
    same documents (shared oracle; pytest-pinned)."""
    return vocab_overlap_from_counts(read_vocab_counts(spark, store), top_n)


def start_incremental_vocab(
    spark: SparkSession,
    source_dir: str,
    store: VocabCountStore,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire the vocabulary counts as a file-source stream over JSON
    shards of (doc_id, text, lang); only the FIRST batch after a
    (re)start probes for an already-applied key (Spark's recovery
    contract — the only possible replay is the last uncommitted batch,
    which IS the restart batch). Returns the started StreamingQuery."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        store.fold(batch_vocab_counts(batch_df), key, maybe_replay)

    return start_fold_stream(
        spark, source_dir, "doc_id bigint, text string, lang string",
        checkpoint_dir, fold, available_now,
    )
