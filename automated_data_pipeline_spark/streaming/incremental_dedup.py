"""Incremental corpus dedup: a streaming document feed is exact-
fingerprinted and anti-joined against a persistent fingerprint store,
so only never-seen-before documents are appended to the curated
corpus.

This is the streaming counterpart of ``operators/dedup.exact_dedup``:
batch dedup reprocesses the whole corpus every run; at a 100 TB corpus
with a trickle of new documents that's the wrong cost model. Here each
micro-batch pays O(batch + matching-store-partitions):

1. fingerprint the incoming batch (md5 of the normalized text),
2. dedup within the batch (two docs in one batch may collide),
3. ``left_anti`` join the batch against the store on fingerprint —
   the store side is parquet range-read by the join, not scanned into
   the driver,
4. append survivors to both the corpus and the store.

``dropDuplicatesWithinWatermark`` can't express this: its state lives
inside one query's checkpoint and ages out with the watermark, while a
corpus fingerprint store is forever and shared across queries/engines.

Exactly-once: foreachBatch is at-least-once, so a replayed batch must
not re-append — and must not *lose* rows either. Appends are tagged
with a deterministic batch key; on replay the batch's survivors are
re-derived from the store (not recomputed via the anti join, which
would now see the batch's own fingerprints and return empty), and the
corpus append is independently idempotent on the same key. A crash at
any point therefore converges on replay:

* before the store append — everything recomputes from scratch;
* between store append and corpus append — survivors are re-derived
  from the store rows tagged with this key and the corpus append runs;
* between corpus append and the checkpoint commit — both probes hit
  and the replay is a no-op.

At cluster scale the store becomes a bucketed table on ``fingerprint``
(bucket-pruned anti join, no shuffle of the store side); plain parquet
here keeps the container dependency-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..plans.empty import empty_local_frame
from ..storefs import fs_for
from .fold import (
    _has_parquet,
    _recover_compact,
    append_once,
    batch_landed,
    rewrite_dir,
    start_fold_stream,
)


class FingerprintStore:
    """Append-only parquet fingerprint set keyed for idempotent
    micro-batch appends. Subclasses are the other fold stores: each
    declares only its empty-store ``schema`` (DDL) and inherits the
    keyed append (``fold``), the replay probe and the crash-safe
    compaction."""

    # The empty-store frame is LocalRelation-empty (plans/empty.py):
    # the optimizer can PROVE it empty, so first-batch joins against a
    # fresh store collapse entirely and probes answer driver-side.
    schema = "fingerprint string, doc_id bigint, batch_key string"

    def __init__(self, path: str):
        self.path = path
        fs_for(path).mkdirs(path)

    def read(self, spark: SparkSession) -> DataFrame:
        _recover_compact(self.path)
        if not _has_parquet(self.path):
            return empty_local_frame(spark, self.schema)
        return spark.read.parquet(self.path)

    def has_batch(self, spark: SparkSession, batch_key: str) -> bool:
        _recover_compact(self.path)
        return batch_landed(spark, self.path, batch_key)

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)

    def fold(self, rows: DataFrame, key: str, maybe_replay: bool) -> None:
        """Fold one micro-batch's ``rows`` into the store stamped
        ``batch_key=key``; a ``maybe_replay`` batch whose key already
        landed appends nothing (``fold.append_once``)."""
        _recover_compact(self.path)
        append_once(self.path, rows, key, maybe_replay)

    def compact(self, spark: SparkSession, n_files: int = 8) -> None:
        """Rewrite the append-only store into few large files (one
        small parquet lands per micro-batch otherwise). Not safe
        concurrently with an ingest — run between sessions. Rows are
        preserved, so replay probes keep working; every crash window
        of the swap self-heals (``fold.swap_in_staged``)."""
        _recover_compact(self.path)
        if _has_parquet(self.path):
            rewrite_dir(
                self.path, spark.read.parquet(self.path).coalesce(n_files)
            )


def dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store: FingerprintStore,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_key: str = "batch-0",
    maybe_replay: bool = True,
) -> DataFrame:
    """One micro-batch of documents -> the novel subset (rows whose
    normalized fingerprint is in neither the store nor earlier in the
    batch), with the store updated. Returns the surviving rows with a
    ``fingerprint`` column. Replays of an already-applied batch_key
    leave the store untouched and RE-DERIVE the same survivor rows from
    the store (so a caller whose downstream write crashed can retry
    it — returning empty here would permanently drop the batch's novel
    documents from the corpus).

    ``maybe_replay=False`` skips the replay probe: foreachBatch can
    only replay the FIRST batch after a (re)start — later batches in
    the same run were never attempted before — so steady-state batches
    need not pay the probe job."""
    fp = batch.withColumn("fingerprint", TX.fingerprint(F.col(text_col)))
    if maybe_replay and store.has_batch(spark, batch_key):
        mine = (
            store.read(spark)
            .filter(F.col("batch_key") == batch_key)
            .select("fingerprint", F.col("doc_id").alias(id_col))
        )
        return fp.join(mine, ["fingerprint", id_col], "left_semi").localCheckpoint(
            eager=True
        )
    # within-batch dedup: keep the smallest id per fingerprint
    w_min = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    in_batch = fp.join(w_min, ["fingerprint", id_col], "left_semi")
    novel = in_batch.join(
        store.read(spark).select("fingerprint"), "fingerprint", "left_anti"
    )
    # localCheckpoint (eager), NOT persist: appending to the store path
    # below invalidates any cached plan that READS that path
    # (CacheManager.recacheByPath), so a persisted `novel` would
    # recompute after the append, see its own fingerprints in the
    # store, and anti-join itself to empty. Checkpointing truncates the
    # lineage to a materialized RDD with no file-source dependency.
    novel = novel.localCheckpoint(eager=True)
    store.append(
        novel.select(
            "fingerprint",
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.lit(batch_key).alias("batch_key"),
        )
    )
    return novel


def start_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    store: FingerprintStore,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id bigint, text string",
    available_now: bool = True,
):
    """Wire the incremental dedup as a file-source stream: every file
    dropped in ``source_dir`` is a micro-batch; novel docs land in
    ``out_dir``. Returns the started StreamingQuery."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        novel = dedup_batch_against_store(
            spark, batch_df, store, batch_key=key, maybe_replay=maybe_replay
        )
        # idempotent corpus append: a replay whose corpus write already
        # landed appends nothing
        append_once(out_dir, novel.drop("fingerprint"), key, maybe_replay)

    return start_fold_stream(
        spark, source_dir, schema, checkpoint_dir, fold, available_now
    )
