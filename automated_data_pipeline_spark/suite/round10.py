"""Round-10 additions: the ANN index lifecycle's deletion and
generation-cutover seams, oracle-checked end to end (VERDICT r9
item 2).

- ann_ivf_tombstone_exact: the FAISS ``remove_ids`` analog. Vectors
  tombstoned after the index was built must vanish from query answers
  IMMEDIATELY (query-time anti-join — no rewrite yet), and must not
  occupy shortlist slots: the full-probe query reproduces brute-force
  cosine top-5 over the LIVE set, which the oracle computes by
  excluding the tombstoned ids from the pair CTE.
- ann_ivfpq_rebuild_exact: generation cutover in the billion-vector
  layout. After tombstoning, ``rebuild_index_generation`` retrains
  BOTH quantizers on the live rows, writes the new generation beside
  the old one and atomically swaps; full probe + live-covering
  shortlist then reproduce brute-force euclidean top-5 over the live
  set — proving the dead rows are physically gone and the new
  generation is complete and correctly routed.

The tombstone set is deterministic (vec_id % 10 == 3 within the
exact-mode cap — 50 of 500 ids; no query id is in it), so re-runs are
value-idempotent; the index temp dirs are reset at entry anyway.
Crash windows and per-family purge mechanics are pytest territory
(tests/test_index_lifecycle.py).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.index_lifecycle import (
    add_tombstones,
    rebuild_index_generation,
)
from . import QuerySpec, load
from .round6 import (
    _COS_PAIRS, _D2_PAIRS, _D2_TOP5, _exact_corpus, _exact_oversample,
    _queries3,
)
from .round7 import _DSIR_SQL, _NOVELTY_SQL, _VOCAB_OVERLAP_SQL, _r4
from .round9 import _reuse_lineage, _stamp_lineage
from .round11 import _fold_splits

SPECS: list[QuerySpec] = []


def spec(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        SPECS.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return deco


def _index_path(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"adps_index_{name}")


# the live-set oracles: the same brute-force pair CTEs as the exact
# companions, minus the tombstoned ids. Spliced, not retyped — and
# asserted, so a round6 edit that breaks the splice fails at import,
# not as a silent full-corpus oracle.
_LIVE_PRED = "AND (e.vec_id % 10) != 3 "
_COS_PAIRS_LIVE = _COS_PAIRS.replace(
    "WHERE e.vec_id != q.qid", "WHERE e.vec_id != q.qid " + _LIVE_PRED
)
_D2_PAIRS_LIVE = _D2_PAIRS.replace(
    "WHERE e.vec_id != q.qid", "WHERE e.vec_id != q.qid " + _LIVE_PRED
)
assert _LIVE_PRED in _COS_PAIRS_LIVE and _LIVE_PRED in _D2_PAIRS_LIVE

_COS_TOP5 = """
    , ranked AS (
      SELECT qid, vec_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      FROM pairs
    )
    SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """


@spec(
    "dsir_weights_recovered",
    _DSIR_SQL,
    "the DSIR streaming twin witnessed end to end: per-bucket integer "
    "token counts folded over 3 micro-batch splits, importance weights "
    "recovered from the merged store — same oracle as "
    "dsir_importance_topk because batch ≡ stream is exact",
)
def dsir_weights_recovered(spark, sf_dir):
    """VERDICT r9 item 7: DSIR's whole-corpus state is two integers
    per hashed-unigram bucket, so micro-batch folds merge exactly and
    the batch operator's weights are recoverable from the store at any
    moment. This entry folds the documents table through the
    ``DsirBucketStore`` in 3 deterministic splits (the operator-level
    path the file stream drives; the readStream wiring and the crash
    window are pytest-pinned in tests/test_dsir_stream.py) and
    reproduces ``dsir_importance_topk``'s exact output — hence the
    same DuckDB oracle."""
    from ..streaming.dsir_stream import (
        DsirBucketStore,
        batch_dsir_buckets,
        recover_dsir_weights,
    )

    docs = load(spark, sf_dir, "documents")
    store = _fold_splits(
        spark, docs, "dsir_store", DsirBucketStore,
        lambda part: batch_dsir_buckets(part, "text", F.col("lang") == "en"),
    )
    w = recover_dsir_weights(
        spark, store, docs, "text", "doc_id", keep_cols=["lang"]
    )
    return (
        w.filter(F.col("lang") != "en")
        .select(
            "doc_id", "lang", "n_tokens",
            _r4(F.col("weight")).alias("dsir_weight"),
        )
        .orderBy(F.col("dsir_weight").desc(), "doc_id")
        .limit(20)
    )


@spec(
    "trigram_novelty_recovered",
    _NOVELTY_SQL,
    "the trigram-novelty streaming twin witnessed end to end: the "
    "distinct gram-doc index folded over 3 micro-batch splits, the "
    "per-source report recovered from the merged store — same oracle "
    "as trigram_novelty_by_source because batch ≡ stream is exact",
)
def trigram_novelty_recovered(spark, sf_dir):
    """Novelty is a cross-corpus property the batch operator re-derives
    by re-tokenizing the world; its entire state is the distinct
    (doc, source, gram-hash) index, which merges by DISTINCT alone.
    This entry folds the documents table through the ``GramDocStore``
    in 3 deterministic splits (the operator-level path the file stream
    drives; stream wiring, replay absorption and compaction are
    pytest-pinned in tests/test_novelty_stream.py) and reproduces the
    batch report — hence the same DuckDB oracle."""
    from ..streaming.novelty_stream import (
        GramDocStore,
        batch_doc_grams,
        recover_novelty_report,
    )

    # unkeyed store: the read-time DISTINCT is its idempotence
    store = _fold_splits(
        spark, load(spark, sf_dir, "documents"), "novelty_store",
        GramDocStore,
        fold=lambda store, part, _key, _replay: store.append(
            batch_doc_grams(part)
        ),
    )
    return recover_novelty_report(spark, store)


@spec(
    "lang_vocab_overlap_recovered",
    _VOCAB_OVERLAP_SQL,
    "the vocabulary-overlap streaming twin witnessed end to end: "
    "per-(lang, token) integer counts folded over 3 micro-batch "
    "splits, the contamination screen recovered from the merged "
    "store — same oracle as lang_vocab_overlap because batch ≡ "
    "stream is exact",
)
def lang_vocab_overlap_recovered(spark, sf_dir):
    """The contamination screen's whole-corpus state is the
    per-(lang, token) count table — exact integers that merge exactly
    across micro-batch splits. This entry folds the documents table
    through the ``VocabCountStore`` in 3 deterministic splits (the
    operator-level path the file stream drives; stream wiring and the
    crash window are pytest-pinned in tests/test_vocab_stream.py) and
    reproduces ``lang_vocab_overlap``'s exact output — hence the same
    DuckDB oracle."""
    from ..streaming.vocab_stream import (
        VocabCountStore,
        batch_vocab_counts,
        recover_vocab_overlap,
    )

    store = _fold_splits(
        spark, load(spark, sf_dir, "documents"), "vocab_store",
        VocabCountStore, batch_vocab_counts,
    )
    return recover_vocab_overlap(spark, store)


@spec(
    "ann_ivf_tombstone_exact",
    _COS_PAIRS_LIVE + _COS_TOP5,
    "deletion from a persisted ANN index (the FAISS remove_ids "
    "analog): tombstoned vectors vanish from the full-probe query "
    "immediately — brute-force cosine top-5 over the LIVE set, no "
    "index rewrite",
)
def ann_ivf_tombstone_exact(spark, sf_dir):
    """The operation a training-data pipeline legally needs: opt-out /
    contamination-flagged vectors removed from answers the moment the
    tombstone lands. The anti-join runs BEFORE the shortlist rank, so
    a dead vector cannot burn a top-k slot either — which is exactly
    what the live-set oracle proves (a displaced rank-5 live row must
    appear). Physical purge happens at compaction/rebuild; this query
    witnesses the query-time semantics."""
    e = load(spark, sf_dir, "embeddings")
    corpus, _ = _exact_corpus(e)
    path = _index_path("ivf_tomb")
    if not _reuse_lineage(path, sf_dir, "ivf-tomb-v1"):
        # max_iter=1: exactness comes from nprobe == n_clusters
        assigned, cent_df = similarity.ivf_index(
            corpus, n_clusters=8, max_iter=1
        )
        shutil.rmtree(path, ignore_errors=True)  # reset prior tombstones
        similarity.write_ivf_index(assigned, cent_df, path)
        add_tombstones(
            spark, path, corpus.filter(F.col("vec_id") % 10 == 3)
        )
        _stamp_lineage(path, sf_dir, "ivf-tomb-v1")
    out = similarity.ivf_topk_persisted(
        spark, path, _queries3(e), k=5, nprobe=8
    )
    return out.select(
        "qid", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


@spec(
    "ann_ivfpq_rebuild_exact",
    _D2_PAIRS_LIVE + _D2_TOP5,
    "generation cutover: tombstone, then rebuild_index_generation "
    "retrains both quantizers on the live rows and atomically swaps — "
    "the new generation reproduces brute-force euclidean top-5 over "
    "the live set (dead rows physically gone, drift baseline reset)",
)
def ann_ivfpq_rebuild_exact(spark, sf_dir):
    """The retrain the drift monitor schedules, witnessed end to end
    in the production layout: build on the full corpus, tombstone,
    rebuild. The new generation's corpus must contain exactly the
    live rows (count-pinned by the oracle row set), freshly trained
    quantizers (max_iter=1 — exactness is independent of their
    quality: full probe + a shortlist covering the live corpus), and
    a fresh 'build' drift baseline (record_baseline on the rebuild
    path)."""
    e = load(spark, sf_dir, "embeddings")
    corpus, _ = _exact_corpus(e)
    path = _index_path("ivfpq_rebuild")
    if not _reuse_lineage(path, sf_dir, "ivfpq-rebuild-v1"):
        enc, cent_df, _cb, cb_df = similarity.ivfpq_index(
            corpus, dim=64, n_clusters=8, m=8, n_codes=16, max_iter=1
        )
        shutil.rmtree(path, ignore_errors=True)
        similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
        add_tombstones(
            spark, path, corpus.filter(F.col("vec_id") % 10 == 3)
        )
        rebuild_index_generation(
            spark, path, corpus, "ivfpq", dim=64, n_clusters=8, m=8,
            n_codes=16, max_iter=1,
        )
        _stamp_lineage(path, sf_dir, "ivfpq-rebuild-v1")
    live = corpus.filter(F.col("vec_id") % 10 != 3)
    out = similarity.ivfpq_topk_persisted(
        spark, path, corpus, _queries3(e), k=5, nprobe=8,
        oversample=_exact_oversample(live.count(), 5),
    )
    return out.select(
        "qid", "vec_id", "d2", F.col("rank").cast("long").alias("rank")
    )
