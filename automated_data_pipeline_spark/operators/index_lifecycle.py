"""Deletion and generation cutover for the persisted ANN indexes —
the two missing pieces of the FAISS lifecycle (``remove_ids`` and
retrain-rebuild) after round 9 delivered build/append/stream-ingest/
compaction/drift.

Reference parity note: the reference app has no vector machinery at
all (its closest analog is the run-scoped landing-table lifecycle,
``python_code/DatabaseManager.java``-style insert/sweep); this module
is charter extension work for the 100 TB training-data pipeline, where
deletion is a LEGAL requirement (opt-outs, contamination flags), not
an optimization.

Deletion model (the FAISS ``remove_ids`` analog, adapted to an
immutable-file store): deletes are TOMBSTONES — an append-only,
ids-only parquet set beside the index. Queries anti-join it
(broadcast; a deletion set is small relative to the corpus), so a
tombstoned vector can neither surface in results nor occupy a
shortlist slot, effective the moment the tombstone lands. Physical
removal happens at the next ``compact_index`` (which also clears the
store) or generation rebuild. Appending the same id twice is harmless
— DISTINCT at read time is the idempotent merge, the ``BloomBitStore``
convention, so the TOMBSTONE store needs no processed-batch ledger.

The INGEST replay probe does need one (``ingest_ledger`` beside the
index, maintained by ``record_applied_batch_keys``): the streaming
probe's "was this batch applied?" question was originally answered by
scanning the corpus for the batch_key stamp, but physical purges
erase stamps — if a crash leaves a batch uncommitted in the stream
checkpoint and every row of that batch is then tombstoned and purged
by ``compact_index`` (which by contract runs between ingest sessions,
exactly when an uncommitted batch can exist), the restart replay
would find no stamp, re-append the batch, and silently RESURRECT
deleted vectors — a safety gap when deletion is a legal requirement
(the r10 advisor's finding). The ledger records every applied
batch_key in a tiny ids-only parquet store that purges can't touch;
``compact_index`` and ``rebuild_index_generation`` fold the corpus's
surviving stamps into it BEFORE their swap, so "applied" survives any
physical rewrite.

Generation cutover (``rebuild_index_generation``): the consumer of
``drift_report``'s retrain flag. The new generation is trained and
written BESIDE the live one (queries keep answering against the old
index for the whole build), then cut over with the same two-rename
swap + ``_recover_compact`` self-healing discipline every store here
uses. Tombstoned rows are excluded from the new training set and
corpus, and the tombstone store dies with the old generation (the new
one starts clean). At 100 TB the build cost is the one unavoidable
full-corpus pass (sample-train + assign/encode + partitioned write);
the swap itself is two metadata renames.

Layout: every directory this module touches (data, ``tombstones``,
``ingest_ledger``, ``drift``), the ``ivf_cluster`` partitioning and
the family check come from the persisted index layout declared once
in ``operators/similarity.py`` (``index_layout``); the rebuild writes
through ``streaming/ann_ingest``'s ``write_*_for_ingest`` writers.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storefs import fs_for
from ..streaming.fold import (
    _has_parquet,
    _recover_compact,
    rewrite_dir,
    staged_path,
    start_fold_stream,
    swap_in_staged,
)
from . import similarity
from .similarity import ID
from ..plans.empty import empty_local_frame


def add_tombstones(spark: SparkSession, index_path: str, ids) -> None:
    """Mark vectors deleted: append their ids to the index's tombstone
    store. ``ids`` is a DataFrame carrying ``vec_id`` or a plain
    iterable of ids. Effective immediately for every
    ``*_topk_persisted`` query (anti-join; see
    ``similarity._minus_tombstones``); physically purged at the next
    ``compact_index`` or ``rebuild_index_generation``. Idempotent by
    merge: duplicate appends collapse under the read-time DISTINCT."""
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{ID} bigint")
    tomb_dir = similarity.index_dir(index_path, similarity.TOMBSTONES)
    _recover_compact(tomb_dir)
    ids.select(ID).write.mode("append").parquet(tomb_dir)


def read_tombstones(spark: SparkSession, index_path: str) -> DataFrame:
    """The current deletion set (distinct ids; empty frame when the
    index has none)."""
    tomb_dir = similarity.index_dir(index_path, similarity.TOMBSTONES)
    _recover_compact(tomb_dir)
    if not _has_parquet(tomb_dir):
        return empty_local_frame(spark, f"{ID} bigint")
    return spark.read.parquet(tomb_dir).select(ID).distinct()


def record_applied_batch_keys(
    spark: SparkSession, index_path: str, keys
) -> None:
    """Append ingest batch_keys to the index's applied-batch ledger —
    the replay probe's purge-proof memory (see the module docstring:
    corpus batch_key stamps die with physical purges; ledger entries
    don't). ``keys`` is an iterable of strings. Append-only + read-time DISTINCT, the same
    idempotent-merge convention as the tombstone store.

    Storage is driver-side newline-text, one file per append (written
    to a dot-tmp then renamed — atomic on a same-filesystem store, so
    a crash mid-write leaves only an invisible tmp, never a torn
    entry): the ledger is a bounded O(batches) list of short strings,
    and the original parquet implementation paid a full Spark write
    JOB per ingest batch for it — measured +~0.3 s/batch on the r11
    bench, more than the appends it protects."""
    import uuid

    keys = [str(k) for k in keys if k is not None]
    if not keys:
        return
    ledger = similarity.index_dir(index_path, similarity.INGEST_LEDGER)
    fs = fs_for(ledger)
    fs.mkdirs(ledger)
    fs.write_text_atomic(
        ledger, f"{uuid.uuid4().hex}.keys", "\n".join(keys) + "\n"
    )


def applied_batch_key_set(index_path: str) -> set:
    """The distinct set of ingest batch_keys known applied to this
    index — the replay probe's membership test (driver-side, no Spark
    job; the ledger is O(batches) short strings)."""
    ledger = similarity.index_dir(index_path, similarity.INGEST_LEDGER)
    fs = fs_for(ledger)
    out: set = set()
    if not fs.isdir(ledger):
        return out
    for fname in fs.listnames(ledger):
        if fname.startswith(".") or not fname.endswith(".keys"):
            continue
        text = fs.read_text(f"{ledger}/{fname}")
        out.update(line.strip() for line in text.splitlines() if line.strip())
    return out


def applied_batch_keys(spark: SparkSession, index_path: str) -> DataFrame:
    """``applied_batch_key_set`` as a one-column DataFrame (empty when
    none were ever recorded) — for callers composing it into plans."""
    return spark.createDataFrame(
        [(k,) for k in sorted(applied_batch_key_set(index_path))],
        "batch_key string",
    )


def compact_index(
    spark: SparkSession,
    index_path: str,
    family: str,
    files_per_cluster: int = 1,
    n_files: int = 8,
    purge_tombstones: bool = True,
) -> None:
    """One compaction entry point for all four index families
    (VERDICT r9 item 5): rewrite the ingest-grown data directory into
    a bounded file count — ``files_per_cluster`` per ``ivf_cluster=N``
    directory for the partitioned layouts (ivf, ivfpq), ``n_files``
    total for the flat code tables (pq, sq8) — and physically remove
    tombstoned rows, clearing the tombstone store afterwards.

    Discipline matches every store here: deterministic file split
    (content hash, never rand() — a retried task writes the same
    rows), two-rename swap, every crash window self-healed by
    ``_recover_compact`` at the next maintenance entry point. The
    tombstone store is trimmed AFTER the swap to exactly the ids that
    were NOT applied to the rewrite (a tombstone landing DURING the
    compaction job survives into the trimmed store and keeps applying
    at query time — never silently dropped); a crash before the trim
    leaves extra tombstones for already-absent ids, which are no-op
    anti-joins. Not safe concurrently with a vector ingest (same
    contract as the r9 compactor); the tombstone FEED may keep
    running — only a tombstone landing inside the store trim's own
    two-rename window (microseconds, not the rewrite) can race.

    At 100 TB this runs as a periodic job per hot partition range;
    cadence note in PLANS.md."""
    layout = similarity.index_layout(family)
    data_dir = layout.data_dir(index_path)
    _recover_compact(index_path)  # heal a crashed generation swap first
    _recover_compact(data_dir)
    if not _has_parquet(data_dir):
        return
    df = layout.read_rows(spark, index_path)
    applied = None
    if purge_tombstones:
        # pin the applied set: the anti-join below evaluates lazily
        # DURING the rewrite, and the post-swap trim must subtract
        # exactly what was applied, not whatever landed since
        tombs = read_tombstones(spark, index_path).localCheckpoint(eager=True)
        if tombs.take(1):
            # a purge can erase EVERY row of an ingest batch — fold the
            # pre-rewrite stamps into the ledger first so the streaming
            # replay probe still sees the batch as applied (else a
            # replay resurrects deleted vectors; module docstring).
            # Before the swap: a crash after the swap must already have
            # the ledger entry.
            record_applied_batch_keys(
                spark, index_path, sorted(_ingest_stamps(df))
            )
            df = df.join(F.broadcast(tombs), ID, "left_anti")
            applied = tombs
    if layout.partitioned:
        if files_per_cluster <= 1:
            out = df.repartition(F.col("ivf_cluster"))
        else:
            # deterministic sub-split: same row -> same file slot on retry
            out = df.repartition(
                F.col("ivf_cluster"),
                F.pmod(
                    F.xxhash64(*[c for c in df.columns if c != "ivf_cluster"]),
                    F.lit(files_per_cluster),
                ),
            )
    else:
        out = df.repartition(
            n_files, F.pmod(F.xxhash64(*df.columns), F.lit(n_files))
        )
    tmp = staged_path(data_dir)
    layout.writer(out, "overwrite").parquet(tmp)
    if not _has_parquet(tmp):
        # every row tombstoned: a partitionBy overwrite of an empty
        # frame writes no part files (only _SUCCESS) and the persisted
        # readers would die on schema inference (the r10 advisor's
        # finding). Swap in an explicit schema-carrying empty marker
        # instead — non-partitioned limit(0), so the partition column
        # stays a regular (typed) column and pruning filters still
        # resolve against the empty scan.
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_in_staged(data_dir)
    if applied is not None:
        _trim_tombstones(spark, index_path, applied)
    _consolidate_ledger(spark, index_path)


def _ingest_stamps(rows: DataFrame) -> set:
    """The ingest batch_keys stamped on an index's rows ('build' marks
    base-index rows, not an ingest batch)."""
    if "batch_key" not in rows.columns:
        return set()
    stamps = rows.select("batch_key").filter(F.col("batch_key") != "build")
    return {r["batch_key"] for r in stamps.distinct().collect()}


def _consolidate_ledger(spark: SparkSession, index_path: str) -> None:
    """Rewrite the applied-batch ledger's one-file-per-append pile into
    a single file (compaction housekeeping — the ledger is append-only
    text, one tiny file per ingest batch, so a long-lived index
    accumulates O(batches) files). Crash-safe by ordering alone: the
    consolidated file is written (and visible) BEFORE the originals
    are removed, and duplicate keys are harmless under the read-time
    set union — any crash window leaves a superset, never a loss."""
    ledger = similarity.index_dir(index_path, similarity.INGEST_LEDGER)
    fs = fs_for(ledger)
    if not fs.isdir(ledger):
        return
    originals = [
        f for f in fs.listnames(ledger)
        if f.endswith(".keys") and not f.startswith(".")
    ]
    if len(originals) <= 1:
        return
    keys = applied_batch_key_set(index_path)
    record_applied_batch_keys(spark, index_path, sorted(keys))
    for fname in originals:
        fs.remove(f"{ledger}/{fname}")


def _trim_tombstones(
    spark: SparkSession, index_path: str, applied: DataFrame
) -> None:
    """After a rewrite physically removed the ``applied`` tombstone
    ids, shrink the store to the ids that were NOT applied — i.e. any
    tombstones that landed while the rewrite ran, which must keep
    applying at query time (the silent-loss race the r10 review
    caught). The leftover is materialized (localCheckpoint) BEFORE the
    store directory is replaced, then swapped in under the standard
    two-rename discipline; empty leftover drops the store entirely."""
    leftover = (
        read_tombstones(spark, index_path)
        .join(applied, ID, "left_anti")
        .localCheckpoint(eager=True)
    )
    tomb_dir = similarity.index_dir(index_path, similarity.TOMBSTONES)
    if not leftover.take(1):
        fs_for(tomb_dir).rmtree(tomb_dir)
        return
    rewrite_dir(tomb_dir, leftover)


def needs_compaction(
    index_path: str,
    family: str,
    max_files: int = 64,
) -> bool:
    """The compaction-cadence trigger: True when the index's data
    directory has accumulated more than ``max_files`` parquet part
    files (each ingest batch lands one small file per touched
    partition directory, so the pile grows O(batches x clusters)).
    A driver-side directory walk — no Spark job; at cluster scale the
    same check is one object-store LIST per hot partition range.
    Heals crashed swaps first (an index parked at '.old' would
    otherwise read as 0 files = False, and the compact_index call
    that would heal it never fires — the r10 review's finding)."""
    data_dir = similarity.index_layout(family).data_dir(index_path)
    _recover_compact(index_path)
    _recover_compact(data_dir)
    return fs_for(data_dir).count_parquet(data_dir) > max_files


def start_incremental_tombstones(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str = "vec_id bigint",
    available_now: bool = True,
):
    """Wire an opt-out/contamination feed as a file-source stream:
    every file dropped in ``source_dir`` is a micro-batch of ids
    appended to the index's tombstone store — deletions take effect
    at the next query, no rewrite. No replay probe is needed, unlike
    the corpus/codes ingests: the read path DISTINCTs the ids, so a
    replayed batch is absorbed by the merge itself (the BloomBitStore
    argument — set union is idempotent). Returns the started
    StreamingQuery."""

    def fold(batch_df, *_):
        add_tombstones(spark, index_path, batch_df)

    return start_fold_stream(
        spark, source_dir, schema, checkpoint_dir, fold, available_now
    )


def rebuild_index_generation(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame,
    family: str,
    *,
    dim: int | None = None,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 6,
    train_fraction: float = 1.0,
    train_cap: int = 100_000,
    record_baseline: bool = True,
) -> None:
    """Retrain and atomically cut over to a new index generation —
    what ``drift_report``'s flag schedules. Quantizers are trained
    FRESH on ``corpus`` minus the live tombstone set (frozen-quantizer
    appends degrade recall as the distribution moves; the rebuild is
    how the index catches up — the grown-vs-rebuilt recall pin in
    tests/test_persisted_index.py quantifies the gap this closes).

    The new generation is built at ``{index_path}.compact`` while the
    live one keeps serving, then swapped in with the two-rename
    discipline; ``_recover_compact`` on the index ROOT (run here and
    at every maintenance entry) heals every crash window. The drift
    history dies with the old generation (``record_baseline`` stamps
    a fresh 'build' drift row — every family carries a drift metric
    since r11 — so the monitor's baseline tracks the NEW quantizers);
    tombstones that were EXCLUDED from
    the new corpus die with it too, but any tombstone that landed
    while the (at scale, long) build ran is CARRIED into the new
    generation's store and keeps applying at query time — deletions
    are never silently lost to the rebuild window (the r10 review's
    finding); they purge physically at the next compaction. Every
    row of every family is stamped ``batch_key='build'`` (the
    ``write_*_for_ingest`` writers) so a rebuilt index keeps the
    uniform schema the streaming-ingest replay probe requires."""
    # lazy import: streaming.ann_ingest imports this module's sibling
    # (similarity); keep the cycle call-time only
    from ..streaming import ann_ingest

    layout = similarity.index_layout(family)
    if similarity.CODEBOOK in layout.side_tables and dim is None:
        raise ValueError("dim is required for the PQ families")
    _recover_compact(index_path)
    # pinned snapshot: the anti-join evaluates lazily during the
    # build, and the pre-swap carry must subtract exactly this set
    tombs = read_tombstones(spark, index_path).localCheckpoint(eager=True)
    live = corpus
    if tombs.take(1):
        live = corpus.join(F.broadcast(tombs), ID, "left_anti")
    tmp = staged_path(index_path)

    train = dict(
        seed=seed, max_iter=max_iter, train_fraction=train_fraction,
        train_cap=train_cap,
    )
    if family == "ivf":
        assigned, cent_df = similarity.ivf_index(live, n_clusters, **train)
        ann_ingest.write_ivf_index_for_ingest(assigned, cent_df, tmp)
    elif family == "ivfpq":
        enc, cent_df, _, cb_df = similarity.ivfpq_index(
            live, dim=dim, n_clusters=n_clusters, m=m, n_codes=n_codes, **train
        )
        ann_ingest.write_ivfpq_index_for_ingest(enc, cent_df, cb_df, tmp)
    elif family == "pq":
        codebooks, cb_df = similarity.pq_train(
            live, dim=dim, m=m, n_codes=n_codes, **train
        )
        enc = similarity.pq_encode_pandas(live, codebooks)
        ann_ingest.write_pq_index_for_ingest(enc, cb_df, tmp)
    else:  # sq8
        ann_ingest.write_sq8_index_for_ingest(live, tmp)

    if record_baseline:
        ann_ingest.record_drift(spark, tmp, live, "build", family)

    # carry the applied-batch ledger into the new generation, folded
    # with every batch_key stamped on the OLD corpus: the rebuild
    # restamps all rows 'build' (and drops tombstoned ones entirely),
    # so after the cutover a restart replay probe can no longer see
    # the old stamps — without the carry, the stream's last
    # uncommitted batch would re-append (worse: resurrect its
    # tombstoned rows). Materialized before any directory moves.
    led = applied_batch_key_set(index_path)
    if _has_parquet(layout.data_dir(index_path)):
        led |= _ingest_stamps(layout.read_rows(spark, index_path))
    if led:
        record_applied_batch_keys(spark, tmp, sorted(led))

    # carry tombstones that landed during the build into the new
    # generation (materialized before any directory moves); ids in
    # the pinned snapshot are already physically absent from the new
    # corpus and die with the old generation
    late = (
        read_tombstones(spark, index_path)
        .join(tombs, ID, "left_anti")
        .localCheckpoint(eager=True)
    )
    if late.take(1):
        late.write.mode("overwrite").parquet(
            similarity.index_dir(tmp, similarity.TOMBSTONES)
        )

    swap_in_staged(index_path)


def rebuild_if_drifted(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame,
    family: str,
    factor: float = 2.0,
    **rebuild_kwargs,
) -> bool:
    """The drift monitor's consumer: read ``drift_report``; if any
    ingest batch is flagged (or batches exist with NO baseline — the
    NULL-verdict case means the monitor cannot clear them), rebuild
    the generation and return True, else leave the index alone and
    return False. The decision reads the O(batches) drift table only —
    never the corpus. Heals a crashed generation swap FIRST: an index
    parked at '.old' has no drift dir and would otherwise read as
    'no drift' forever (the r10 review's finding)."""
    from ..streaming.ann_ingest import drift_report

    _recover_compact(index_path)
    if not _has_parquet(similarity.index_dir(index_path, similarity.DRIFT)):
        return False
    rep = drift_report(spark, index_path, factor=factor)
    needs = bool(
        rep.filter(
            F.col("drift_flag")
            | (F.col("drift_flag").isNull() & (F.col("batch_key") != "build"))
        ).take(1)
    )
    if needs:
        rebuild_index_generation(
            spark, index_path, corpus, family, **rebuild_kwargs
        )
    return needs
