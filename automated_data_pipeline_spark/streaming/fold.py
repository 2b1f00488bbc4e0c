"""The fold-stream skeleton: the one home of the decisions every
incremental store stream makes the same way.

A fold stream reads a directory of JSON shards as a file-source
stream; each micro-batch is folded into an append-only parquet store
(and, for the dedup-style streams, an output corpus or metrics table)
under a deterministic batch key, so a replayed batch is a no-op. The
modules in this package differ only in the fold; this module owns:

1. **Stream wiring** (``start_fold_stream``, ``fold_handler``): the
   file-source reader, ``foreachBatch``, the checkpoint location and
   the ``availableNow`` trigger; the batch-key format
   ``{scope}#{batch_id}``; and the replay rule. Spark's recovery
   contract never re-fires a committed batch, so the only possible
   replay is the last uncommitted batch — which is the FIRST batch
   after a (re)start. Only that batch pays the replay probes.
2. **The keyed idempotent append** (``batch_landed``,
   ``append_once``): rows carry their batch key, and a replay probes
   for it before appending. Parquet min/max stats on ``batch_key``
   make the probe a footer-only read at scale.
3. **The two-rename swap** (``staged_path``, ``swap_in_staged``,
   ``rewrite_dir``, ``_recover_compact``): a compaction or rebuild is
   written beside the live directory at ``{path}.compact``, then
   swapped in via ``{path}.old``. The swap is not atomic; every crash
   window self-heals at the next access through ``_recover_compact``.
   All I/O goes through the ``storefs`` seam, so the same discipline
   works on HDFS/S3/``file:`` store paths.

The fourth shared decision is the keyed store itself,
``incremental_dedup.FingerprintStore``: its ``fold(rows, key,
maybe_replay)`` is the one keyed append every keyed store inherits
(heal a crashed swap, then ``append_once``), and its ``schema`` class
attribute declares each store's empty-store schema. A stream's fold is
then its ``batch_*`` rows plus ``store.fold``; only folds that re-derive
their output on replay (the dedup stores) or write two stores (BM25)
probe for themselves.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storefs import fs_for

# fold(batch_df, batch_id, key, maybe_replay)
Fold = Callable[[DataFrame, int, str, bool], None]


def fold_handler(scope: str, fold: Fold) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` handler that calls
    ``fold(batch_df, batch_id, key, maybe_replay)``.

    ``key`` is ``{scope}#{batch_id}``, stamped on every row the batch
    appends; ``scope`` is the stream's checkpoint dir (or a monitor's
    run key), so a checkpoint reset or a second query sharing an
    output path never collides with old keys. ``maybe_replay`` is True
    only for the first batch after a (re)start, the one batch Spark
    can redeliver; steady-state batches skip the probe jobs. It clears
    only once a fold returns, so a handler reused after a failed batch
    probes again."""
    first = True

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal first
        fold(batch_df, batch_id, f"{scope}#{int(batch_id)}", first)
        first = False

    return handle


def start_fold_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    checkpoint_dir: str,
    fold: Fold,
    available_now: bool,
    max_files_per_trigger: int | None = 1,
):
    """Start a JSON file-source stream over ``source_dir`` whose
    micro-batches go to ``fold`` (see ``fold_handler``), keyed by
    ``checkpoint_dir``. One file per micro-batch by default;
    ``max_files_per_trigger=None`` lets a trigger take every waiting
    file. Returns the started StreamingQuery."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.json(source_dir)
        .writeStream.foreachBatch(fold_handler(checkpoint_dir, fold))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _has_parquet(path: str) -> bool:
    """True iff ``path`` contains at least one parquet part file.
    Cheap driver-side probe so empty/missing dirs don't go through
    spark.read (which logs a JVM AnalysisException even when the
    Python caller catches it)."""
    return fs_for(path).has_parquet(path)


def batch_landed(spark: SparkSession, path: str, key: str) -> bool:
    """Whether the parquet at ``path`` holds a row stamped
    ``batch_key == key``. An empty or missing path answers
    driver-side with zero jobs."""
    return _has_parquet(path) and bool(
        spark.read.parquet(path).filter(F.col("batch_key") == key).take(1)
    )


def append_once(
    path: str, rows: DataFrame, key: str, maybe_replay: bool
) -> None:
    """Append ``rows`` stamped ``batch_key=key`` to the parquet at
    ``path``, unless this batch may be a replay and its rows already
    landed there."""
    if maybe_replay and batch_landed(rows.sparkSession, path, key):
        return
    rows.withColumn("batch_key", F.lit(key)).write.mode("append").parquet(
        path
    )


def _swap_names(path: str) -> tuple[str, str, str]:
    base = path.rstrip("/")
    return base, base + ".old", base + ".compact"


def staged_path(path: str) -> str:
    """Where a rewrite of ``path`` is staged before ``swap_in_staged``."""
    return _swap_names(path)[2]


def swap_in_staged(path: str) -> None:
    """Replace ``path`` with the rewrite staged at ``staged_path(path)``:
    live -> '.old', staged -> live, drop '.old'. A crash between the
    renames leaves the data at '.old', and one after them leaves
    '.old' debris; ``_recover_compact`` heals both."""
    fs = fs_for(path)
    base, old, tmp = _swap_names(path)
    fs.rename(base, old)
    fs.rename(tmp, base)
    fs.rmtree(old)


def rewrite_dir(path: str, rows: DataFrame) -> None:
    """Replace the parquet directory ``path`` with ``rows`` through the
    staged two-rename swap. ``rows`` may read ``path`` itself: it is
    fully written to the staging dir before the live dir moves."""
    rows.write.mode("overwrite").parquet(staged_path(path))
    swap_in_staged(path)


def _recover_compact(path: str) -> None:
    """Self-heal a crash mid-swap (see ``swap_in_staged``): if the live
    dir vanished between the two renames, the '.old' backup IS the
    store — move it back; if both exist, '.old' is post-swap debris —
    drop it. Stale '.compact' output is always discarded. Called at
    store-read time and at compact start; both are by-contract never
    concurrent with an in-flight compact."""
    fs = fs_for(path)
    base, old, tmp = _swap_names(path)
    if fs.isdir(old):
        if not fs.isdir(base):
            fs.rename(old, base)
        else:
            fs.rmtree(old)
    if fs.isdir(tmp):
        fs.rmtree(tmp)
