"""Incremental Kneser-Ney LM: the streaming twin of
``suite/round11.kneser_ney_doc_scores``.

A KN bigram LM's whole-corpus state is integer-valued: the per-document
bigram-occurrence table (doc, w1, w2, count). Every statistic the
estimator needs — bigram-type counts c(w1,w2), left-context totals
c(w1), the N1+ continuation/fan-out counts, the type total — is a
map-side aggregate of that table, so integers merge exactly across any
micro-batch split and the incremental-store pattern carries over
verbatim: each crawl increment pays ONE tokenize+aggregate pass over
its own documents and appends (doc, w1, w2, c) rows under a
deterministic batch_key; replays of an applied key are no-ops; from the
merged store the batch operator's per-document fluency report is
recoverable bit-for-bit at any moment (same integer statistics -> same
IEEE expression -> same rounded score; the suite's
``kn_fluency_recovered`` shares ``kneser_ney_doc_fluency``'s DuckDB
oracle). Exactness of the occurrence-weighted form: the batch operator
sums the per-occurrence DECIMAL probability; the store keeps one row
per (doc, bigram TYPE) with multiplicity c, and c * p_decimal is exact
decimal arithmetic, so sum(c*p)/sum(c) is the identical rational with
the identical division scale.

The 100 TB shape this buys: the LM count stores fold per crawl
increment in O(increment); scoring a NEW batch against the ingested LM
(``score_batch_against_store``) tokenizes only the batch and joins the
vocabulary-sized statistic tables back BROADCAST — the corpus is never
re-scanned to refresh the LM, which is the difference between scoring
an increment in O(increment) and re-aggregating the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from .incremental_dedup import FingerprintStore


class BigramStore(FingerprintStore):
    """Append-only parquet per-document bigram occurrences:
    (doc_id, w1, w2, c) per batch; inherits the idempotent-append
    keying and crash-safe compaction."""

    schema = "doc_id bigint, w1 string, w2 string, c bigint, batch_key string"


def batch_bigrams(
    batch_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram occurrence table: (doc_id, w1, w2, c). This
    is THE shared representation — the batch operator
    (``suite/round11.kneser_ney_doc_scores``), the store increments,
    and the recovery path all score this exact shape through
    ``kn_scores_from_occurrences``, so batch ≡ stream is bit-identical
    by construction (same frames, same expression trees, same decimal
    division scales). Hash-spread before the explode (the r7
    one-file-scan lesson)."""
    spread = batch_df.repartition(
        batch_df.sparkSession.sparkContext.defaultParallelism
    )
    toks = spread.select(
        F.col(id_col).alias("doc_id"), TX.tokens(F.col(text_col)).alias("ws")
    )
    return (
        toks.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _kn_stats(occ: DataFrame, materialize: bool = False):
    """The four KN statistic frames off one bigram-occurrence table:
    c12 (bigram types), c1/N1+fwd per left context, N1+cont per right
    word, and the 1-row type total. All vocabulary-sized; with
    ``materialize`` the c12 table is persisted BEFORE the three
    derived aggs reference it (one shuffle, three map-side reads)."""
    c12 = occ.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    if materialize:
        c12 = c12.persist()
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_cont"))
    tot = c12.agg(F.count(F.lit(1)).alias("n1p_tot"))
    return c12, c1, cont, tot


def _p_kn():
    """The interpolated-KN per-bigram probability — the IDENTICAL
    expression tree as the batch operator (and the DuckDB oracle), so
    IEEE evaluation is bit-equal."""
    return (
        F.greatest(F.col("c12") - F.lit(0.75), F.lit(0.0)) / F.col("c1")
        + ((F.lit(0.75) * F.col("n1p_fwd")) / F.col("c1"))
        * (F.col("n1p_cont").cast("double") / F.col("n1p_tot"))
    )


def kn_scores_from_occurrences(
    occ: DataFrame, materialize: bool = True
) -> DataFrame:
    """Per-document KN fluency report off a (doc_id, w1, w2, c)
    occurrence table — the single scoring path shared by the batch
    operator and the store recovery (bit-identical by construction).

    Plan: the four statistic frames are map-side aggs of the persisted
    occurrence table and join back BROADCAST; the per-type probability
    is rounded to DECIMAL once and the occurrence-weighted per-doc sum
    (sum(c*p)/sum(c)) is exact decimal arithmetic — order-independent,
    no float-sum drift. ``materialize=False`` skips the persists and
    the eager checkpoint for plan tests."""
    if materialize:
        occ = occ.persist()
    c12, c1, cont, tot = _kn_stats(occ, materialize=materialize)
    scored = (
        occ.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "c",
            F.round(_p_kn(), 9).cast("decimal(12,9)").alias("p"),
        )
    )
    result = scored.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.round(F.sum(F.col("c") * F.col("p")) / F.sum("c"), 6)
        .cast("double")
        .alias("mean_kn_prob"),
    )
    if not materialize:
        return result
    out = result.localCheckpoint(eager=True)
    c12.unpersist()
    occ.unpersist()
    return out


def recover_kn_scores(spark: SparkSession, store: BigramStore) -> DataFrame:
    """Per-document KN fluency report from the merged store — the batch
    operator's exact output when the store has ingested the corpus it
    would score (integer statistics through the SHARED scoring path;
    pytest-pinned and oracle-shared)."""
    occ = (
        store.read(spark)
        .groupBy("doc_id", "w1", "w2")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return kn_scores_from_occurrences(occ)


def score_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store: BigramStore,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a NEW batch's documents against the LM ingested so far —
    the crawl-increment quality gate (docs whose transitions the
    trusted corpus has never seen score low). O(increment): the batch
    tokenizes once; the statistic tables are vocabulary-sized and join
    back BROADCAST; the store's occurrence rows are read once for the
    stats, never joined row-per-row against the batch.

    Backoff for events outside the stored LM (standard interpolated-KN
    conventions): unseen (w1,w2) pair under a SEEN w1 scores the
    backoff mass alone; an UNSEEN w1 backs off fully to the
    continuation probability of w2; an unseen w2 contributes 0
    continuation mass. Returns (doc_id, n_bigrams, mean_kn_prob) with
    the same rounding discipline as the batch operator (pytest-pinned
    vs a from-scratch Python reference)."""
    occ = (
        store.read(spark)
        .groupBy("doc_id", "w1", "w2")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    c12, c1, cont, tot = _kn_stats(occ)
    bocc = batch_bigrams(batch, id_col, text_col)
    joined = (
        bocc.join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    cont_p = F.coalesce(
        F.col("n1p_cont").cast("double") / F.col("n1p_tot"), F.lit(0.0)
    )
    seen_w1 = (
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - F.lit(0.75), F.lit(0.0))
        / F.col("c1")
        + ((F.lit(0.75) * F.col("n1p_fwd")) / F.col("c1")) * cont_p
    )
    p = F.when(F.col("c1").isNotNull(), seen_w1).otherwise(cont_p)
    scored = joined.select(
        "doc_id", "c", F.round(p, 9).cast("decimal(12,9)").alias("p")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.round(F.sum(F.col("c") * F.col("p")) / F.sum("c"), 6)
        .cast("double")
        .alias("mean_kn_prob"),
    )
