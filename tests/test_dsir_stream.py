"""Incremental DSIR (streaming/dsir_stream.py): per-bucket integer
token counts merge exactly across micro-batches, the recovered
importance weights match the batch operator, replays are no-ops under
Spark's recovery contract, and fresh (never-ingested) batches score
against the frozen distributions."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators import sampling
from automated_data_pipeline_spark.streaming.dsir_stream import (
    DsirBucketStore,
    batch_dsir_buckets,
    read_dsir_stats,
    recover_dsir_weights,
    start_incremental_dsir,
)
from automated_data_pipeline_spark.suite import load

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


def IS_EN():
    # built lazily: a classic-API Column needs an active SparkContext,
    # which does not exist at pytest collection time
    return F.col("lang") == "en"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents").select("doc_id", "text", "lang")


def _stats(spark, store):
    return sorted(
        tuple(r) for r in read_dsir_stats(spark, store).collect()
    )


def _write_shards(docs, src, n=3):
    os.makedirs(src, exist_ok=True)
    for i in range(n):
        rows = docs.filter(F.col("doc_id") % n == i).collect()
        with open(os.path.join(src, f"s{i}.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(
                    {"doc_id": r["doc_id"], "text": r["text"],
                     "lang": r["lang"]}) + "\n")


def test_stream_stats_equal_batch_stats(spark, docs, tmp_path):
    """The exactness claim: integer bucket counts folded over 3
    micro-batches equal the one-shot whole-corpus counts, tuple for
    tuple."""
    src = str(tmp_path / "in")
    _write_shards(docs, src)
    store = DsirBucketStore(str(tmp_path / "store"))
    q = start_incremental_dsir(
        spark, src, store, str(tmp_path / "ckpt"), IS_EN()
    )
    q.awaitTermination(120)
    want = sorted(
        tuple(r) for r in batch_dsir_buckets(docs, "text", IS_EN()).collect()
    )
    assert _stats(spark, store) == want


def test_recovered_weights_match_batch_operator(spark, docs, tmp_path):
    """batch ≡ stream for the OUTPUT users consume: weights recovered
    from the merged store equal operators/sampling.dsir_importance
    over the same corpus. Statistics are identical integers; the only
    legitimate difference is float summation order, so pin at 6
    decimals (weights are O(1-10); double noise is ~1e-10)."""
    store = DsirBucketStore(str(tmp_path / "store"))
    for i in range(3):
        store.fold(
            batch_dsir_buckets(
                docs.filter(F.col("doc_id") % 3 == i), "text", IS_EN()
            ),
            f"b{i}", maybe_replay=True,
        )
    got = {
        r["doc_id"]: (r["lang"], r["n_tokens"], round(r["weight"], 6))
        for r in recover_dsir_weights(
            spark, store, docs, "text", "doc_id", keep_cols=["lang"]
        ).collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["n_tokens"], round(r["weight"], 6))
        for r in sampling.dsir_importance(
            docs, "text", "doc_id", IS_EN(), keep_cols=["lang"]
        ).collect()
    }
    assert got == want and len(got) > 0


def test_restart_replay_is_noop(spark, docs, tmp_path):
    """The genuine crash window: the last batch's store append landed
    but its checkpoint commit did not (marker + local-FS .crc twin
    removed); the restarted stream — a NEW session, as a restarted
    driver is — re-runs exactly that batch and the key probe must
    skip it, leaving the integer stats unchanged."""
    src = str(tmp_path / "in")
    _write_shards(docs, src)
    ckpt = str(tmp_path / "ckpt")
    store = DsirBucketStore(str(tmp_path / "store"))
    start_incremental_dsir(spark, src, store, ckpt, IS_EN()).awaitTermination(120)
    before = _stats(spark, store)
    os.remove(os.path.join(ckpt, "commits", "2"))
    crc = os.path.join(ckpt, "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    start_incremental_dsir(
        spark.newSession(), src, store, ckpt, IS_EN()
    ).awaitTermination(120)
    assert _stats(spark, store) == before


def test_fresh_batch_scores_against_frozen_stats(spark, docs, tmp_path):
    """DSIR's production read path: score a crawl increment the store
    never ingested. Unseen buckets coalesce to zero counts under the
    same Laplace smoothing — every weight finite and non-NULL, and
    ingesting the increment afterwards changes the STORE but not the
    already-computed scores' determinism."""
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    store = DsirBucketStore(str(tmp_path / "store"))
    store.fold(batch_dsir_buckets(half_a, "text", IS_EN()), "a", maybe_replay=True)
    scored = recover_dsir_weights(
        spark, store, half_b, "text", "doc_id"
    ).collect()
    assert len(scored) == half_b.filter(F.col("text").isNotNull()).count()
    import math

    assert all(
        r["weight"] is not None and math.isfinite(r["weight"])
        for r in scored
    )


def test_duplicate_fold_is_idempotent(spark, docs, tmp_path):
    store = DsirBucketStore(str(tmp_path / "store"))
    store.fold(batch_dsir_buckets(docs, "text", IS_EN()), "b0", maybe_replay=True)
    before = _stats(spark, store)
    store.fold(batch_dsir_buckets(docs, "text", IS_EN()), "b0", maybe_replay=True)
    assert _stats(spark, store) == before
