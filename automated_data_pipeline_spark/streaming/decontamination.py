"""Incremental benchmark decontamination: a growing Bloom bit store.

The batch form (suite/round5b.py ``bloom_decontaminate``) assumes the
whole holdout/benchmark set is in hand when the filter is built. In a
living pipeline it is not: benchmark suites are added over time, new
eval shards land weekly, and each corpus ingest batch must be screened
against the benchmark set AS OF NOW without re-shingling history.
This module maintains the Bloom filter itself incrementally:

- ``BloomBitStore`` is an append-only parquet pile of SET-BIT rows
  (the sparse representation ``operators/sketches.bloom_build``
  emits). Union-then-distinct of sparse bit sets IS Bloom merge, and
  distinct is IDEMPOTENT — so, exactly like the HLL register store's
  max-merge (``incremental_sketch.HllSketchStore``), a replayed
  benchmark shard cannot change the filter and the store needs no
  batch-key bookkeeping. tests/test_streaming_decontamination.py
  replays a shard and asserts bit-identity.
- ``decontaminate_batch`` screens one corpus micro-batch against the
  bits-so-far: shingle -> probe (k broadcast-joined bit lookups) ->
  per-doc flagged-gram counts. No false negatives for any gram
  ingested before the probe, at any shard split — the Bloom guarantee
  survives the merge because merge is exact on the bit set.

Sizing is the one thing that must be decided UP FRONT: bit positions
are ``hash % m_bits``, so ``m_bits`` is frozen at store creation
(growing m would re-map every existing bit). Size it for the expected
final holdout cardinality (the batch query's convention is m = 24 x
grams -> ~0.2% gram FP rate); overshooting the estimate degrades the
false-positive rate gracefully and NEVER the no-false-negative side.
The store stays kilobytes at any corpus scale: at most ``m_bits``
rows, independent of gram string sizes — always broadcastable, the
property the blocklist/decontamination axis is built on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..plans.empty import empty_local_frame
from ..storefs import fs_for
from .fold import _has_parquet, _recover_compact, rewrite_dir, start_fold_stream


def suggest_m_bits(expected_items: int, target_fp: float = 0.002,
                   k_hashes: int = 4) -> int:
    """Size the frozen bit count for an EXPECTED final item
    cardinality and a target false-positive rate: inverting
    p = (1 - e^{-kn/m})^k gives m = -k*n / ln(1 - p^(1/k)). Rounded
    up to the next power of two (cheap modulo, headroom in the safe
    direction). The batch query's m = 24n convention lands at
    ~0.2% for k=4 — this helper makes the same trade explicit for
    stores whose n is a forecast rather than a count."""
    import math

    if expected_items <= 0:
        return 1 << 10
    m = -k_hashes * expected_items / math.log(1.0 - target_fp ** (1.0 / k_hashes))
    return 1 << max(10, math.ceil(math.log2(m)))


class BloomBitStore:
    """Append-only sparse Bloom filter over one item domain (e.g.
    benchmark n-gram hashes). ``m_bits``/``k_hashes`` are part of the
    store's identity — probes must use the same values, so they are
    fixed here and not per-call."""

    def __init__(self, path: str, m_bits: int = 1 << 16, k_hashes: int = 4):
        self.path = path
        self.m_bits = int(m_bits)
        self.k_hashes = int(k_hashes)
        fs_for(path).mkdirs(path)

    def read_bits(self, spark: SparkSession) -> DataFrame:
        """The merged filter: distinct set-bit rows (duplicate and
        replayed appends collapse here, making appends idempotent)."""
        _recover_compact(self.path)
        if not _has_parquet(self.path):
            return empty_local_frame(spark, "bit bigint")
        return spark.read.parquet(self.path).select("bit").distinct()

    def merge_batch(self, batch: DataFrame, item_col) -> None:
        """Shingle-agnostic: callers pass the item column (already a
        gram hash, a URL, a doc fingerprint...). Appends at most
        min(m_bits, k x |batch items|) rows; safe to re-run."""
        bits = SK.bloom_build(
            batch, item_col, m_bits=self.m_bits, k_hashes=self.k_hashes
        )
        bits.write.mode("append").parquet(self.path)

    def probe(self, items: DataFrame, item_col: str) -> DataFrame:
        """(item, bloom_hit) for the distinct items, against the
        bits as of all merged batches. The filter side broadcasts."""
        bloom = self.read_bits(items.sparkSession)
        return SK.bloom_probe(
            bloom, items, item_col, m_bits=self.m_bits, k_hashes=self.k_hashes
        )

    def compact(self, spark: SparkSession, n_files: int = 1) -> None:
        """Rewrite the file pile into the distinct form (bounded at
        m_bits rows). Same crash-self-healing two-rename swap as the
        fingerprint/HLL stores; not safe concurrently with an ingest."""
        _recover_compact(self.path)
        if _has_parquet(self.path):
            rewrite_dir(self.path, self.read_bits(spark).coalesce(n_files))


def decontaminate_batch(
    store: BloomBitStore,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Screen one corpus micro-batch against the benchmark bits so
    far: (id, n_flagged, contaminated_bloom) per document — the
    Bloom leg of the batch ``bloom_decontaminate`` query, cost
    O(batch grams), never O(history). A doc sharing ANY ingested
    benchmark n-gram is flagged (no false negatives); false
    positives at the filter's gram-level rate may flag extra docs,
    the safe direction for decontamination."""
    from ..operators.spans import shingle_positions

    # gram rendered as a STRING: bit positions hash the item's string
    # form, so the probe must use the exact rendering the ingest side
    # used (the batch query's cast-to-string convention for ghash)
    g = (
        shingle_positions(docs, text_col, id_col, n)
        .select(id_col, F.col("ghash").cast("string").alias("gram"))
        .distinct()
    )
    hits = store.probe(g.select("gram"), "gram")
    flagged = (
        g.join(hits.filter(F.col("bloom_hit")), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    return (
        docs.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_flagged"), F.lit(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.coalesce(F.col("n_flagged") > 0, F.lit(False)).alias(
                "contaminated_bloom"
            ),
        )
    )


def start_incremental_bloom(
    spark: SparkSession,
    source_dir: str,
    store: BloomBitStore,
    checkpoint_dir: str,
    item_expr,
    schema: str = "gram string",
    available_now: bool = True,
):
    """Wire the bit store to a file-source stream of benchmark items:
    every file (an eval shard, a new benchmark dump) is a micro-batch
    whose items' bits merge into the filter. ``item_expr`` is a Column
    producing the filtered item from a shard row. No replay probe: the
    read-side DISTINCT absorbs a replayed shard's bits. Returns the
    started StreamingQuery."""

    def fold(batch_df, *_):
        store.merge_batch(
            batch_df.select(item_expr.alias("_item")), F.col("_item")
        )

    return start_fold_stream(
        spark, source_dir, schema, checkpoint_dir, fold, available_now
    )
