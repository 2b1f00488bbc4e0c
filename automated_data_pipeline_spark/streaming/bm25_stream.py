"""Incremental BM25: the streaming twin of
``operators/retrieval.bm25_top_docs``.

BM25's whole-corpus state is integer-valued: the postings table
(doc, term, tf), per-document lengths, and the corpus totals (N,
total tokens) they imply. Integers merge exactly across any
micro-batch split, so the incremental-store pattern carries over
verbatim: each crawl increment pays ONE tokenize+aggregate pass over
its own documents and appends (postings, doclens) rows under a
deterministic batch_key; replays of an applied key are no-ops; from
the merged store the batch operator's scores are recoverable
bit-for-bit at any moment (same integer statistics -> same IEEE
expression -> same rounded score; the suite's
``bm25_scores_recovered`` shares ``bm25_top_docs``'s DuckDB oracle).
The scoring and ranking is one tail, ``retrieval._bm25_ranked``,
shared with the batch operator; only the statistics' source differs.

The 100 TB query path this store shape buys: scoring touches only the
postings rows of the QUERY's terms — the term filter is a literal
`IN` predicate that pushes down to the parquet scan (row-group
pruning on the `term` column; at production scale the store would be
written partitioned/bucketed by a term hash for directory-level
pruning) — while document lengths and corpus totals come from the
separate doclen store (corpus-COUNT-sized, not token-sized). The full
postings table is never re-scanned per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.retrieval import _bm25_ranked
from .incremental_dedup import FingerprintStore


class PostingsStore(FingerprintStore):
    """Append-only parquet postings: (doc_id, term, tf) per batch;
    inherits the idempotent-append keying and crash-safe compaction."""

    schema = "doc_id bigint, term string, tf bigint, batch_key string"


class DocLenStore(FingerprintStore):
    """Append-only parquet per-document token counts."""

    schema = "doc_id bigint, dl bigint, batch_key string"


def batch_postings(
    batch_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One micro-batch's postings: (doc_id, term, tf) — the same
    tokenization as the batch operator, so the merged store reproduces
    its statistics exactly. Hash-spread before the explode (the r7
    one-file-scan lesson)."""
    spread = batch_df.repartition(
        batch_df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        spread.select(
            F.col(id_col).alias("doc_id"),
            F.explode(TX.tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def update_postings(
    spark: SparkSession,
    batch: DataFrame,
    postings: PostingsStore,
    doclens: DocLenStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_key: str = "batch-0",
    maybe_replay: bool = True,
) -> None:
    """Fold one micro-batch into the postings + doclen stores. The
    doclen rows derive from the SAME postings aggregate (one tokenize
    pass per increment). Replays of an applied ``batch_key`` leave
    both stores untouched; the postings append is checkpointed first
    so a crash between the two appends replays safely (the probe
    checks the FIRST-written store); ``maybe_replay=False`` skips the
    probes for a batch that cannot be a replay."""
    if maybe_replay and postings.has_batch(spark, batch_key):
        # postings applied; heal a crash that lost the doclen append
        if not doclens.has_batch(spark, batch_key):
            mine = (
                postings.read(spark)
                .filter(F.col("batch_key") == batch_key)
                .groupBy("doc_id")
                .agg(F.sum("tf").cast("bigint").alias("dl"))
                .withColumn("batch_key", F.lit(batch_key))
            )
            doclens.append(mine)
        return
    tf = batch_postings(batch, id_col, text_col).withColumn(
        "batch_key", F.lit(batch_key)
    ).localCheckpoint(eager=True)
    postings.append(tf)
    dl = (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("dl"))
        .withColumn("batch_key", F.lit(batch_key))
    )
    doclens.append(dl)


def recover_bm25_scores(
    spark: SparkSession,
    postings: PostingsStore,
    doclens: DocLenStore,
    queries: dict[int, list[str]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query from the merged stores — the
    batch operator's exact output when the stores have ingested the
    corpus it would score (integer statistics; pytest-pinned and
    oracle-shared).

    Plan: the postings scan carries a literal ``term IN (...)``
    predicate (parquet pushdown — only query-term row groups read);
    document frequency aggregates from those filtered rows; lengths
    and corpus totals come from the doclen store."""
    terms = sorted({t for ts in queries.values() for t in ts})
    post = (
        postings.read(spark)
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("tf"))
    )
    dfq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = (
        doclens.read(spark)
        .groupBy("doc_id")
        .agg(F.sum("dl").cast("bigint").alias("dl"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tok_total"),
    )
    return _bm25_ranked(post, dl, dfq, stats, queries, k, k1, b)
