"""Incremental NEAR-dup dedup: a streaming document feed is MinHash/LSH
deduplicated against a persistent bucket index — the near-dup companion
of ``incremental_dedup`` (exact fingerprints). This is the production
ingest shape for a training corpus: new crawl shards arrive
continuously, and each must be checked against EVERYTHING already
accepted without reprocessing the corpus.

The near-dup core is the batch operators' own, in ``operators/dedup.py``
(see its module docstring): the hashed shingle sets
(``dedup._hashed_shingles``), the banding (``dedup.band_bucket_frame``),
the (band, bucket) candidate self-join (``dedup._lsh_candidates``) and
the rounded-Jaccard verify (``dedup._jaccard_verified``). Only the
always-broadcast verify sides and the cross-store join are the stream's.

Per micro-batch:
1. shingle + MinHash-sign the batch, band into (band, bucket) keys
2. within-batch near-dups: LSH candidates inside the batch, verified
   by shingle Jaccard; a doc is dropped iff it verifies against a
   SMALLER-id batch doc. NOTE this greedy pairwise rule differs from
   the batch path's connected-components collapse on transitive
   chains: pairs (1,3) and (2,3) with 1!~2 keep {1,2} here (each kept
   doc is pairwise-novel vs everything kept before it) while
   ``dedup_components`` keeps only {1} (one survivor per component).
   Pairwise is the standard ingest semantics — every RETAINED doc is
   guaranteed not-a-near-dup of any other retained doc that arrived
   earlier; CC additionally collapses docs that are only similar
   through an intermediary.
3. cross-store near-dups: batch buckets equi-join the store's bucket
   index (shuffle proportional to bucket collisions, never
   batch x store), candidates verified against the store's shingle
   payloads by the same rounded Jaccard >= threshold
4. novel docs are checkpointed, their bucket keys and shingle payloads
   appended to the store

Store layout mirrors a real ANN/LSH serving split: ``buckets/``
(band, bucket, doc_id — the small index rows the candidate join scans)
separate from ``docs/`` (doc_id, shingles — the payloads read only to
verify candidates; stored as sorted-distinct shingle HASHES, 8-byte
bigints, not strings — see ``docs()``). At cluster scale both become tables bucketed by
their join keys; the payload side is the one worth co-locating.

Idempotency is the fold-stream skeleton's (``streaming/fold.py``):
replaying an already-applied batch_key leaves the store untouched and
re-derives the same survivors from the store, so a crashed downstream
write can retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
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


# On-disk payload format of the docs/ side. v2 (r13): sorted-distinct
# md5-derived shingle HASHES (array<bigint>); v1 (pre-r13) held raw
# shingle strings. Stores are normally per-run scratch, but a store
# that outlives a code upgrade must fail LOUDLY instead of silently
# intersecting strings against bigints (VERDICT r13 item 6).
LSH_STORE_FORMAT_VERSION = 2


class LshStore:
    """Persistent LSH index: bucket keys + shingle payloads.

    The docs/ payload format is stamped in a ``_format_version`` marker
    (underscore-prefixed: invisible to parquet readers), written through
    the storefs seam's crash-safe ``write_text_atomic``. A non-empty
    store whose stamp is missing or different was written by another
    code version — constructing the store raises rather than letting a
    mixed-format verify return wrong candidates."""

    def __init__(self, path: str, num_hashes: int = 8, band_size: int = 2):
        assert num_hashes % band_size == 0
        self.path = path
        root = path.rstrip("/")
        self.buckets_dir = f"{root}/buckets"
        self.docs_dir = f"{root}/docs"
        self.num_hashes = num_hashes
        self.band_size = band_size
        fs = fs_for(path)
        fs.mkdirs(self.buckets_dir)
        fs.mkdirs(self.docs_dir)
        found = None
        if "_format_version" in fs.listnames(path):
            found = fs.read_text(f"{root}/_format_version").strip()
        if found is None and (
            _has_parquet(self.buckets_dir) or _has_parquet(self.docs_dir)
        ):
            found = "1"  # pre-stamp stores hold v1 string payloads
        if found is not None and found != str(LSH_STORE_FORMAT_VERSION):
            raise ValueError(
                f"LshStore at {path} holds format v{found}, this code "
                f"writes v{LSH_STORE_FORMAT_VERSION} — rebuild the "
                "store (it is derived state: replay the corpus) or "
                "read it with the matching release"
            )
        if found is None:
            fs.write_text_atomic(
                path, "_format_version", str(LSH_STORE_FORMAT_VERSION)
            )

    def buckets(self, spark: SparkSession) -> DataFrame:
        _recover_compact(self.buckets_dir)
        if not _has_parquet(self.buckets_dir):
            # LocalRelation-empty: see FingerprintStore.schema
            return empty_local_frame(spark, "band int, bucket string, doc_id bigint")
        return spark.read.parquet(self.buckets_dir)

    def docs(self, spark: SparkSession) -> DataFrame:
        _recover_compact(self.docs_dir)
        if not _has_parquet(self.docs_dir):
            # payloads are the sorted-distinct md5-derived shingle
            # hashes (bigint), not the string shingles: 8B fixed-width
            # values verify with integer compares and shrink the store
            # ~4x — identical Jaccard absent a 60-bit in-pair collision
            # (the batch operators' documented doctrine, jaccard_pairs)
            return empty_local_frame(spark, "doc_id bigint, shingles array<bigint>, batch_key string")
        return spark.read.parquet(self.docs_dir)

    def has_batch(self, spark: SparkSession, batch_key: str) -> bool:
        _recover_compact(self.docs_dir)
        return batch_landed(spark, self.docs_dir, batch_key)

    def append(
        self, buckets: DataFrame, docs: DataFrame
    ) -> None:
        # buckets first, docs last: has_batch probes the docs side, so
        # a replay reprocesses as fresh unless BOTH writes landed. A
        # crash between the two appends therefore duplicates bucket
        # rows on replay — harmless for correctness (candidates are
        # .distinct()ed and verified against the docs side) and
        # reclaimed by compact()'s dropDuplicates.
        buckets.write.mode("append").parquet(self.buckets_dir)
        docs.write.mode("append").parquet(self.docs_dir)

    def file_count(self) -> int:
        """Parquet data files across both stores — the candidate join's
        per-batch file-open cost, and maybe_compact's trigger metric."""
        return sum(
            fs_for(d).count_parquet(d) for d in (self.buckets_dir, self.docs_dir)
        )

    def maybe_compact(
        self, spark: SparkSession, max_files: int = 64, files_per_store: int = 8
    ) -> bool:
        """Size-triggered compaction: rewrite when the accreted file
        count crosses ``max_files``. Called between micro-batches (the
        foreachBatch contract serializes batches, so no append is in
        flight); bounds the store at O(max_files) files regardless of
        ingest length. Returns whether a compaction ran."""
        if self.file_count() <= max_files:
            return False
        self.compact(spark, files_per_store=files_per_store)
        return True

    def compact(self, spark: SparkSession, files_per_store: int = 8) -> None:
        """Rewrite both stores into few large files. An append-only
        ingest accretes one small parquet file per micro-batch per
        partition; after N batches every candidate join pays N file
        opens. Also reclaims index debris that appends can leave
        behind (both classes are invisible to dedup decisions — the
        candidate join .distinct()s and verifies against the docs
        payloads — but waste index space forever if never GC'd):
        - exact-duplicate bucket rows: crash between one batch's
          bucket and doc appends, then a replay re-appends the same
          bucket rows;
        - RETIRED (orphan) bucket rows: same crash, but the batch is
          never replayed — bucket keys point at doc_ids that never
          reached the docs store, so they can never verify.
        Run between ingest sessions or micro-batches (NOT concurrently
        with an in-flight append — the rewrite is not transactional).
        The two-rename swap's crash windows are covered by
        ``_recover_compact`` at every store read and compact start."""
        _recover_compact(self.buckets_dir)
        _recover_compact(self.docs_dir)
        live_ids = None
        if _has_parquet(self.docs_dir):
            live_ids = spark.read.parquet(self.docs_dir).select("doc_id")
        for dir_ in (self.buckets_dir, self.docs_dir):
            if not _has_parquet(dir_):
                continue
            df = spark.read.parquet(dir_)
            if dir_ is self.buckets_dir:
                df = df.dropDuplicates()
                # retired-bucket GC: keep only keys whose payload exists
                df = (
                    df.join(live_ids, "doc_id", "left_semi")
                    if live_ids is not None
                    else df.limit(0)
                )
            rewrite_dir(dir_, df.coalesce(files_per_store))


def near_dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store: LshStore,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_key: str = "batch-0",
    maybe_replay: bool = True,
) -> DataFrame:
    """One micro-batch -> its novel subset (docs near-duplicating
    neither an earlier-id batch doc nor any stored doc), store updated.
    Returns surviving rows (original columns). See module docstring."""
    if maybe_replay and store.has_batch(spark, batch_key):
        mine = (
            store.docs(spark)
            .filter(F.col("batch_key") == batch_key)
            .select(F.col("doc_id").alias(id_col))
        )
        return batch.join(mine, id_col, "left_semi").localCheckpoint(eager=True)

    # the batch operators' core (see dedup's module docstring): hashed
    # shingle sets, banding, the (band, bucket) candidate self-join and
    # the rounded-Jaccard verify
    shingled = dedup._hashed_shingles(batch, id_col, text_col)
    buckets = dedup.band_bucket_frame(
        shingled, store.num_hashes, store.band_size, hashed_col="hs"
    )
    # always broadcast: a micro-batch is small by construction, and the
    # batch operators' size-pricing stats job would be one more Spark
    # job per micro-batch
    sa, sb = (F.broadcast(side) for side in dedup._sides(shingled))

    # (2) within-batch: drop the larger id of every verified pair
    # (min-id survivor per pair edge)
    in_batch_dups = (
        dedup._jaccard_verified(dedup._lsh_candidates(buckets), sa, sb, threshold)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )

    # (3) cross-store: batch buckets vs the store's bucket index; fat
    # shingle payloads join in ONLY for candidate doc_ids. Same
    # pinned-width spread as ``dedup._lsh_candidates``: the pairs are
    # tiny in bytes but carry the whole verify CPU.
    from ..plans.spread import pinned_width

    store_cand = (
        buckets.join(
            store.buckets(spark).withColumnRenamed("doc_id", "id_b"),
            ["band", "bucket"],
        )
        .select(F.col("id").alias("id_a"), "id_b")
        .repartition(pinned_width(spark), "id_a", "id_b")
        .distinct()
    )
    store_sb = store.docs(spark).select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("_nb"),
    )
    cross_dups = (
        dedup._jaccard_verified(store_cand, sa, store_sb, threshold)
        .select(F.col("id_a").alias("dup_id"))
        .distinct()
    )

    dups = in_batch_dups.union(cross_dups).distinct()
    # Docs too short to shingle (< 2 tokens) are NOT duplicates — the
    # near-dup measure is undefined for them, so they pass through as
    # novel (pair them with the exact-fingerprint stream for identical-
    # short-doc collapse). They land in the docs store with an empty
    # shingle array (and no bucket rows) so a batch_key replay
    # re-derives them; only shingled survivors get bucket index rows.
    dup_as_id = dups.withColumnRenamed("dup_id", id_col)
    novel = batch.join(dup_as_id, id_col, "left_anti")
    # checkpoint BEFORE appending: the store append invalidates cached
    # plans reading the store path (same trap incremental_dedup.py
    # documents), and novel's lineage reads it via the anti-join
    novel = novel.localCheckpoint(eager=True)
    novel_shingled = shingled.join(
        F.broadcast(novel.select(F.col(id_col).alias("id"))), "id", "left_semi"
    )
    novel_short = (
        novel.select(F.col(id_col).alias("id"))
        .join(shingled.select("id"), "id", "left_anti")
        .select("id", F.array().cast("array<bigint>").alias("shingles"))
    )
    store.append(
        dedup.band_bucket_frame(
            novel_shingled, store.num_hashes, store.band_size, hashed_col="hs"
        )
        .select("band", "bucket", F.col("id").cast("bigint").alias("doc_id")),
        novel_shingled.select("id", F.col("hs").alias("shingles"))
        .union(novel_short)
        .select(
            F.col("id").cast("bigint").alias("doc_id"),
            "shingles",
            F.lit(batch_key).alias("batch_key"),
        ),
    )
    shingled.unpersist()
    return novel


def start_incremental_lsh_dedup(
    spark: SparkSession,
    source_dir: str,
    store: LshStore,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    schema: str = "doc_id bigint, text string",
    available_now: bool = True,
    compact_max_files: int | None = 64,
    max_files_per_trigger: int | None = None,
):
    """File-source stream wiring: every file dropped in ``source_dir``
    is a micro-batch near-deduplicated against the store; novel docs
    land in ``out_dir``. Returns the started StreamingQuery.

    ``compact_max_files``: size trigger for store compaction, checked
    BETWEEN micro-batches (foreachBatch serializes, so no append is in
    flight) and BEFORE the batch's replay probe — compaction rewrites
    bytes, never batch_key rows, so replay decisions are unchanged.
    Bounds the store's file count over an unbounded ingest; None
    disables."""

    def fold(batch_df, _batch_id, key, maybe_replay):
        if compact_max_files is not None:
            store.maybe_compact(spark, max_files=compact_max_files)
        novel = near_dedup_batch_against_store(
            spark, batch_df, store, threshold=threshold, batch_key=key,
            maybe_replay=maybe_replay,
        )
        append_once(out_dir, novel, key, maybe_replay)

    # max_files_per_trigger=None lets availableNow fold every waiting
    # file into one batch; pass it for per-shard micro-batches, or
    # between-batch hooks like the compaction trigger never see the
    # ingest grow
    return start_fold_stream(
        spark, source_dir, schema, checkpoint_dir, fold, available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
