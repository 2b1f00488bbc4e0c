"""Incremental winnowing: the streaming twin of
``operators/dedup.winnowing_overlap_pairs``.

The whole-corpus state is the exploded fingerprint index —
(fingerprint, doc) rows, winnowing minima being deterministic
per-document values — so the incremental-store pattern carries over:
each crawl increment pays one narrow fingerprint-extraction pass over
ITS OWN documents (the zero-exchange sparse-table projection from the
batch operator) and appends its rows under a deterministic batch_key;
replays are no-ops; the batch operator's pair report is recoverable
from the merged store at any moment (set-exact state -> identical
pairs; the suite's ``winnowing_pairs_recovered`` shares
``winnowing_overlap_pairs``'s DuckDB oracle).

The genuinely streaming query this store buys: overlap of a NEW batch
against everything already ingested — a (fingerprint)-equi join of
the batch's fingerprints against the store (bucket-join shape,
shuffle bounded by fingerprint collisions, never batch×store) — the
shape that matters at 100 TB, where re-running the intra-corpus pair
join per increment would re-shuffle the world.

The intra-corpus pair join is one tail, ``dedup._pairs_from_index``,
shared with the batch operator; the serving join keeps its own, since
its frequency cap applies to the store side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _pairs_from_index, winnowing_fingerprints
from .incremental_dedup import FingerprintStore


class WinnowStore(FingerprintStore):
    """Append-only parquet exploded winnowing fingerprints."""

    schema = "f bigint, doc_id bigint, batch_key string"


def batch_fingerprints(
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    seed: str = "win",
) -> DataFrame:
    """One micro-batch's exploded (f, doc_id) fingerprint rows — the
    batch operator's extraction verbatim (distinct minima per doc),
    hash-spread before the per-row-CPU gram hashing."""
    spread = batch_df.repartition(
        batch_df.sparkSession.sparkContext.defaultParallelism
    )
    fp = winnowing_fingerprints(spread, id_col, text_col, k, w, seed)
    # explode_outer + null-drop, not explode: a plain explode's
    # inferred size() filter would push the md5 extraction below the
    # hash-spread exchange (see dedup.winnowing_overlap_pairs).
    return fp.select(
        F.explode_outer("fps").alias("f"), F.col(id_col).alias("doc_id")
    ).filter(F.col("f").isNotNull())


def recover_overlap_pairs(
    spark: SparkSession,
    store: WinnowStore,
    max_df: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """Intra-corpus overlap pairs from the merged store — the batch
    operator's exact output when the store has ingested the corpus it
    would scan (distinct integer fingerprints; pytest-pinned and
    oracle-shared)."""
    e = (
        store.read(spark)
        .select("doc_id", "f")
        .distinct()  # replay/compaction safety; no-op for clean stores
        .select(F.col("doc_id").alias("doc"), "f")
    )
    return _pairs_from_index(e, max_df, min_shared)


def batch_overlap_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store: WinnowStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """Overlap pairs (batch_doc, store_doc, shared) of a NEW batch
    against the ingested corpus — the O(increment) serving query. The
    frequency cap applies to the STORE side (boilerplate lives in the
    corpus); the join is fingerprint-equi, never batch×store."""
    bfp = batch_fingerprints(batch, id_col, text_col, k, w)
    stored = store.read(spark).select("doc_id", "f").distinct()
    freq = stored.groupBy("f").agg(F.count(F.lit(1)).alias("n_docs"))
    keep = freq.filter(F.col("n_docs") <= max_df).select("f")
    s = stored.join(keep, "f").select(
        "f", F.col("doc_id").alias("store_doc")
    )
    b = bfp.select("f", F.col("doc_id").alias("batch_doc"))
    return (
        b.join(s, "f")
        .groupBy("batch_doc", "store_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
