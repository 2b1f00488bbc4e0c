"""Incremental C4-style segment dedup: a streaming document feed is
tiled into fixed token-window segments, segments already present in a
persistent segment-hash store are removed, and each document is
re-emitted with only its corpus-novel segments.

The streaming counterpart of ``operators/spans.segment_dedup``: batch
segment dedup re-scans the whole corpus every run; at a 100 TB corpus
with a trickle of new documents, each micro-batch here pays
O(batch-segments + matching-store-partitions):

1. tile the batch (``spans.segment_occurrences`` — same hashing as the
   batch operator and its SQL oracle),
2. within-batch survivor selection — min (id, seg_idx) per distinct
   segment, the batch operator's exact rule,
3. ``left_anti`` the surviving hashes against the store,
4. append novel hashes to the store; rebuild each document's kept text
   (novel segments, original order) for the curated corpus.

Exactly-once is the fold-stream skeleton's (``streaming/fold.py``):
foreachBatch is at-least-once, so store and output appends are tagged
with a deterministic batch key, and a replayed batch RE-DERIVES its
keep set from the store rows carrying that key (recomputing the anti
join would see the batch's own hashes and keep nothing). The
within-batch survivor rule is a pure function of the replayed batch
rows, so the re-derived output is byte-identical.

The store is a ``FingerprintStore`` (append-only parquet, crash-safe
compaction); at cluster scale it becomes a table bucketed on
``seg_hash`` so the anti join prunes to matching buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spans import segment_occurrences
from .fold import append_once, start_fold_stream
from .incremental_dedup import FingerprintStore


class SegmentHashStore(FingerprintStore):
    """Append-only parquet set of 64-bit segment hashes; inherits the
    idempotent-append keying and crash-safe compact from
    ``FingerprintStore``."""

    schema = "seg_hash bigint, batch_key string"


def dedup_segments_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store: SegmentHashStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 5,
    batch_key: str = "batch-0",
    maybe_replay: bool = True,
) -> DataFrame:
    """One micro-batch of documents -> per-document curated rows
    (id_col, kept_text, n_segs, n_kept) where ``kept_text`` re-joins
    only the segments novel to the corpus (store + earlier in this
    batch), in original order. The store gains this batch's novel
    hashes. Replays with an already-applied ``batch_key`` leave the
    store untouched and re-derive the same rows.

    ``maybe_replay=False`` skips the replay probe (only the first batch
    after a restart can be a replay — same contract as
    ``dedup_batch_against_store``)."""
    # spread the raw batch BEFORE tokenizing: a micro-batch is one
    # json file = a 1-partition scan, and segment_occurrences' heavy
    # projection (tokenize + window explode) would otherwise run
    # entirely inside the single map task feeding the seg_hash
    # exchange (measured: a 7 s one-task stage per batch at sf0.1).
    # Values are partition-independent (seg_hash/seg_idx are pure
    # per-row functions; the survivor rule is a global min).
    from ..plans.spread import spread_if_narrow

    # then repartition on seg_hash so the survivor aggregation and the
    # keep-join below consume ONE exchange (ReuseExchange — the batch
    # twin's single-tokenize-pass discipline, kept per micro-batch)
    occ = segment_occurrences(
        spread_if_narrow(batch), text_col, id_col, seg_words
    ).repartition("seg_hash")
    # survivor occurrence per distinct segment — defined ONCE, used by
    # both the fresh path (novelty anti-join) and the keep rule; a pure
    # function of the batch rows, so replays reproduce it.
    first = occ.groupBy("seg_hash").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("_first")
    )
    if maybe_replay and store.has_batch(spark, batch_key):
        novel_hashes = (
            store.read(spark)
            .filter(F.col("batch_key") == batch_key)
            .select("seg_hash")
        )
    else:
        novel_hashes = first.select("seg_hash").join(
            store.read(spark).select("seg_hash").distinct(),
            "seg_hash",
            "left_anti",
        )
        # localCheckpoint (eager), NOT persist: the store append below
        # invalidates cached plans reading the store path, and a lazy
        # novel_hashes would then anti-join against its own append and
        # come back empty (same pathology as incremental_dedup).
        novel_hashes = novel_hashes.localCheckpoint(eager=True)
        store.append(
            novel_hashes.select(
                F.col("seg_hash").cast("bigint"),
                F.lit(batch_key).alias("batch_key"),
            )
        )
    kept = (
        occ.join(novel_hashes, "seg_hash")
        .join(first, "seg_hash")
        .filter(
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("seg_idx") == F.col("_first.seg_idx"))
        )
        .select(id_col, "seg_idx", "seg")
    )
    all_docs = occ.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segs")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("kept_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    return (
        all_docs.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def start_incremental_segment_dedup(
    spark: SparkSession,
    source_dir: str,
    store: SegmentHashStore,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id bigint, text string",
    seg_words: int = 5,
    available_now: bool = True,
):
    """Wire the incremental segment dedup as a file-source stream:
    every file dropped in ``source_dir`` is a micro-batch; curated
    (segment-novel) documents land in ``out_dir``. Returns the started
    StreamingQuery."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        curated = dedup_segments_against_store(
            spark, batch_df, store, seg_words=seg_words, batch_key=key,
            maybe_replay=maybe_replay,
        )
        append_once(out_dir, curated, key, maybe_replay)

    return start_fold_stream(
        spark, source_dir, schema, checkpoint_dir, fold, available_now
    )
