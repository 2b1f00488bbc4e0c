"""Incremental distinct-count maintenance: a streaming item feed keeps
a persistent HyperLogLog register store up to date, so "distinct users
(ever / per group)" is answerable at any moment WITHOUT rescanning the
history — the streaming counterpart of ``operators/sketches.py`` the
same way ``incremental_dedup`` is the streaming counterpart of
``operators/dedup.exact_dedup``.

Why HLL here and not an exact distinct store: an exact streaming
distinct needs per-key state proportional to the key space (the
fingerprint store pays that because dedup NEEDS exactness); a
distinct COUNT doesn't — HLL state is a fixed 2^p registers per
group, kilobytes forever, and merges are associative so each
micro-batch costs one small groupBy + append.

Exactly-once comes FREE from the algebra, which is the point of this
design: register merge is per-bucket MAX, and max is IDEMPOTENT —
re-appending a replayed batch's registers cannot change any maximum.
So unlike the CMS/count path (sum-merged — a replay double-counts,
which is why ``quality_monitor`` stamps batch_key lineage and dedups),
the HLL store needs no replay bookkeeping at all: the store is
append-only and the read-side max-reduce absorbs duplicates. The same
holds for KMV (bottom-k of a union absorbs re-unioned elements).
tests/test_incremental_sketch.py replays a batch and asserts the
estimate is bit-identical.

Store layout: append-only parquet of (group..., bucket, rho) register
rows — one small file per micro-batch, max-reduced on read; `compact`
rewrites to the reduced form (the fold-stream skeleton's
crash-self-healing two-rename swap, ``streaming/fold.py``). At cluster
scale the append lands bucketed by group so the read-side reduce is
partition-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..plans.empty import empty_local_frame
from ..storefs import fs_for
from .fold import _has_parquet, _recover_compact, rewrite_dir, start_fold_stream


class HllSketchStore:
    """Append-only HLL register store for one item domain, grouped by
    ``group_cols``."""

    def __init__(self, path: str, group_cols: list[str], p: int = 9):
        self.path = path
        self.group_cols = list(group_cols)
        self.p = p
        fs_for(path).mkdirs(path)

    def read_registers(self, spark: SparkSession) -> DataFrame:
        """Max-reduced register table (duplicate/replayed appends
        collapse here)."""
        _recover_compact(self.path)
        if not _has_parquet(self.path):
            fields = ", ".join(f"{c} string" for c in self.group_cols)
            return empty_local_frame(spark, f"{fields}, bucket bigint, rho int")
        return (
            spark.read.parquet(self.path)
            .groupBy(*self.group_cols, "bucket")
            .agg(F.max("rho").alias("rho"))
        )

    def merge_batch(self, batch: DataFrame, item_col) -> None:
        """Sketch one micro-batch and append its registers (≤ groups ×
        2^p small rows). Safe to re-run with the same batch: the
        read-side MAX absorbs the duplicate rows."""
        regs = SK.hll_registers(batch, item_col, self.group_cols, p=self.p)
        regs.write.mode("append").parquet(self.path)

    def estimate(self, spark: SparkSession) -> DataFrame:
        """Per-group (group..., n_buckets, hll_est) as of all merged
        batches."""
        return SK.hll_estimate(
            self.read_registers(spark), self.group_cols, p=self.p
        )

    def compact(self, spark: SparkSession, n_files: int = 4) -> None:
        """Rewrite the append-only file pile into the max-reduced form
        (bounded at groups × 2^p rows). Not safe concurrently with an
        ingest; every crash window self-heals via ``_recover_compact``
        exactly as the fingerprint/LSH stores do."""
        _recover_compact(self.path)
        if _has_parquet(self.path):
            rewrite_dir(
                self.path, self.read_registers(spark).coalesce(n_files)
            )


def start_incremental_hll(
    spark: SparkSession,
    source_dir: str,
    store: HllSketchStore,
    checkpoint_dir: str,
    item_expr,
    schema: str = "user_id bigint, event_type string, ts timestamp",
    available_now: bool = True,
):
    """Wire the register store to a file-source stream: every file in
    ``source_dir`` is a micro-batch whose items merge into the store.
    ``item_expr`` is a Column producing the distinct-counted item from
    a batch row. No replay probe: the read-side MAX absorbs a replayed
    batch's registers. Returns the started StreamingQuery."""

    def fold(batch_df, *_):
        store.merge_batch(
            batch_df.select(*store.group_cols, item_expr.alias("_item")),
            F.col("_item"),
        )

    return start_fold_stream(
        spark, source_dir, schema, checkpoint_dir, fold, available_now
    )
