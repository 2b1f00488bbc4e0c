"""Cache lifecycle: every dedup/text operator that persist()s an
intermediate must unpersist it before returning (VERDICT r3 item 4) —
a long-lived session running dedup over many corpora must not accrete
cached shingle tables. The contract: after the operator returns, the
session's CacheManager is empty (results are materialized via
localCheckpoint, whose blocks the ContextCleaner frees with the frame).
"""

from __future__ import annotations

import pytest

from automated_data_pipeline_spark.operators import dedup
from automated_data_pipeline_spark.suite import load
from automated_data_pipeline_spark.suite.round11 import _BM25_QUERIES

SF = "/root/testdata/sf0.001"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def docs(spark):
    return load(spark, SF, "documents").limit(120)


def test_jaccard_pairs_leaves_no_cache(spark, docs):
    out = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    assert _cache_empty(spark)
    out.count()  # result stays usable after intermediates dropped


def test_minhash_lsh_pairs_leaves_no_cache(spark, docs):
    out = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    assert _cache_empty(spark)
    out.count()


def test_containment_pairs_leaves_no_cache(spark, docs):
    out = dedup.containment_pairs(docs, "doc_id", "text", threshold=0.9)
    assert _cache_empty(spark)
    out.count()


def test_simhash_pairs_leaves_no_cache(spark, docs):
    out = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    assert _cache_empty(spark)
    out.count()


def test_dedup_components_leaves_no_cache(spark, docs):
    out = dedup.dedup_components(docs, "doc_id", "text")
    assert _cache_empty(spark)
    out.count()


def test_tfidf_leaves_no_cache(spark):
    from automated_data_pipeline_spark.suite.llm import tfidf_top_terms_per_doc

    out = tfidf_top_terms_per_doc(spark, SF)
    assert _cache_empty(spark)
    out.count()


# Spark jobs per call on the ``docs`` fixture: the near-dup barriers
# (persist, stats, candidate exchange, broadcasts, result checkpoint;
# for the ingest also the replay probe and the two store appends). A
# new barrier fails here.
LSH_PAIRS_JOBS = 10
JACCARD_PAIRS_JOBS = 15
LSH_INGEST_BATCH_JOBS = 20
# BM25 on the same fixture: the batch operator (postings and length
# persists, stats, broadcasts, result checkpoint) and one store
# recovery, whose jobs run at its action (store reads, stats,
# broadcasts, the collect). Measured before the scorer was shared.
BM25_TOP_DOCS_JOBS = 14
BM25_RECOVER_JOBS = 15


def _jobs_of(spark, name, fn):
    from test_fold_streams import _marker_job

    before = _marker_job(spark, f"{name}-before")
    fn()
    return _marker_job(spark, f"{name}-after") - before - 1


def test_minhash_lsh_pairs_job_count_is_pinned(spark, docs):
    assert _jobs_of(spark, "lsh-pairs", lambda: dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8
    )) == LSH_PAIRS_JOBS


def test_jaccard_pairs_job_count_is_pinned(spark, docs):
    assert _jobs_of(spark, "jaccard-pairs", lambda: dedup.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8
    )) == JACCARD_PAIRS_JOBS


def test_lsh_ingest_batch_job_count_is_pinned(spark, docs, tmp_path):
    from automated_data_pipeline_spark.streaming.incremental_lsh import (
        LshStore,
        near_dedup_batch_against_store,
    )

    store = LshStore(str(tmp_path / "lsh_store"))
    assert _jobs_of(spark, "lsh-ingest", lambda: near_dedup_batch_against_store(
        spark, docs, store, batch_key="b1"
    )) == LSH_INGEST_BATCH_JOBS



def test_bm25_top_docs_job_count_is_pinned(spark, docs):
    from automated_data_pipeline_spark.operators.retrieval import bm25_top_docs

    assert _jobs_of(spark, "bm25-top-docs", lambda: bm25_top_docs(
        spark, docs, _BM25_QUERIES, k=5
    )) == BM25_TOP_DOCS_JOBS


def test_bm25_recover_job_count_is_pinned(spark, docs, tmp_path):
    from pyspark.sql import functions as F

    from automated_data_pipeline_spark.streaming.bm25_stream import (
        DocLenStore, PostingsStore, recover_bm25_scores, update_postings,
    )

    postings = PostingsStore(str(tmp_path / "postings"))
    doclens = DocLenStore(str(tmp_path / "doclens"))
    for i in range(3):
        update_postings(
            spark, docs.filter(F.col("doc_id") % 3 == i), postings, doclens,
            batch_key=f"b{i}", maybe_replay=False,
        )
    assert _jobs_of(spark, "bm25-recover", lambda: recover_bm25_scores(
        spark, postings, doclens, _BM25_QUERIES, k=5
    ).collect()) == BM25_RECOVER_JOBS

def test_broadcast_verify_autoswitch_thresholds():
    """The size heuristic flips to the shuffle join past the ceiling."""
    from automated_data_pipeline_spark.operators.dedup import (
        BROADCAST_VERIFY_MAX_BYTES,
        _should_broadcast_verify,
    )

    assert _should_broadcast_verify(5_000, 2_000_000)  # sf0.1-scale: ~16MB
    # a 100 TB-ish corpus: billions of shingles -> shuffle join
    assert not _should_broadcast_verify(5_000_000_000, 400_000_000_000)
    # boundary: est = shingles*8 + docs*32
    limit_shingles = (BROADCAST_VERIFY_MAX_BYTES - 32 * 10) // 8
    assert _should_broadcast_verify(10, limit_shingles)
    assert not _should_broadcast_verify(10, limit_shingles + 1)


def test_lm_bigram_fluency_leaves_no_cache(spark):
    from automated_data_pipeline_spark.suite.llm import lm_bigram_fluency

    out = lm_bigram_fluency(spark, SF)
    assert _cache_empty(spark)
    out.count()


def test_incremental_lsh_batch_leaves_no_cache(spark, tmp_path):
    from automated_data_pipeline_spark.streaming.incremental_lsh import (
        LshStore,
        near_dedup_batch_against_store,
    )

    docs = load(spark, SF, "documents").limit(50).select("doc_id", "text")
    store = LshStore(str(tmp_path / "hyg_store"))
    out = near_dedup_batch_against_store(
        spark, docs, store, batch_key="h1", maybe_replay=False
    )
    assert _cache_empty(spark)
    out.count()
