"""Incremental trigram novelty: the streaming twin of the round-7
``trigram_novelty_by_source`` operator.

Novelty ("what share of this document's trigrams had never been seen
before it") is a CROSS-corpus property — a batch refresh re-tokenizes
the whole corpus to rebuild the gram→first-doc map. But the operator's
entire state is the distinct (doc_id, source, gram_hash) index, and
set union is idempotent: per-batch gram rows merge by DISTINCT alone
(the ``BloomBitStore`` argument — replayed batches append identical
rows that the read-time distinct absorbs, so no batch ledger is
needed; documents arrive whole, the file-stream granularity). From the
merged store the exact batch report (first_doc = min(doc_id) per gram,
per-doc novelty ratio, per-source average) recovers at O(store) cost —
tokenization, the CPU-heavy step, is paid once per document ever.

State is O(distinct doc-gram pairs) — the same class as the segment
and LSH dedup stores, and like them it compacts (FingerprintStore
two-rename discipline). At 100 TB the store is itself partitioned by
gram-hash range, and recovery's two aggregations shuffle store rows,
never documents.

The report is one tail, :func:`novelty_report_from_grams`, shared with
the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.stats import portable_round
from .fold import start_fold_stream
from .incremental_dedup import FingerprintStore


class GramDocStore(FingerprintStore):
    """Append-only parquet distinct (doc_id, source, gh) rows;
    DISTINCT at read time is the idempotent merge (no batch_key —
    replays are value-identical appends)."""

    schema = "doc_id bigint, source string, gh bigint"

    def read_distinct(self, spark: SparkSession) -> DataFrame:
        return self.read(spark).select("doc_id", "source", "gh").distinct()


def batch_doc_grams(
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """One micro-batch's distinct (doc, source, gram-hash) rows — the
    EXACT trigram pipeline of the batch operator (hash-spread, token
    array materialized in a projection, never inlined into the
    transform lambda — the r7 40x lesson), so the merged store equals
    the operator's ``grams`` frame bit-for-bit."""
    toked = batch_df.repartition(
        batch_df.sparkSession.sparkContext.defaultParallelism, id_col
    ).select(
        id_col, source_col, TX.tokens(F.col(text_col)).alias("_ws")
    ).filter(F.size("_ws") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("_ws") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("_ws", i),
            F.element_at("_ws", i + 1),
            F.element_at("_ws", i + 2),
        ),
    )
    return (
        toked.select(id_col, source_col, F.explode(tri).alias("g"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            TX.stable_hash64(F.col("g")).alias("gh"),
        )
        .distinct()
    )


def novelty_report_from_grams(grams: DataFrame) -> DataFrame:
    """(source, n_docs, avg_novelty) off a distinct (doc_id, source, gh)
    gram index — the batch ≡ stream tail: ``trigram_novelty_by_source``
    feeds it the whole corpus's ``batch_doc_grams``,
    :func:`recover_novelty_report` the merged store."""
    firsts = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firsts, "gh")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    avg = F.avg(F.col("n_novel").cast("double") / F.col("n_grams"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            portable_round(avg, 4).cast("double").alias("avg_novelty"),
        )
        .orderBy("source")
    )


def recover_novelty_report(
    spark: SparkSession, store: GramDocStore
) -> DataFrame:
    """The batch ``trigram_novelty_by_source`` report recovered from
    the incremental store: (source, n_docs, avg_novelty), value-
    identical to the batch query over the same documents (shared
    oracle; pytest-pinned). Two aggregations over STORE rows — the
    corpus is never re-tokenized."""
    return novelty_report_from_grams(store.read_distinct(spark))


def start_incremental_novelty(
    spark: SparkSession,
    source_dir: str,
    store: GramDocStore,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire the gram-doc index as a file-source stream: every JSON
    shard of (doc_id, text, source) is a micro-batch of whole documents
    whose distinct gram rows append to the store. No replay probe — a
    replayed batch appends rows the read-time DISTINCT absorbs. Returns
    the started StreamingQuery."""

    def fold(batch_df, *_):
        store.append(batch_doc_grams(batch_df))

    return start_fold_stream(
        spark, source_dir, "doc_id bigint, text string, source string",
        checkpoint_dir, fold, available_now,
    )
