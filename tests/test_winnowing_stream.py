"""Incremental winnowing (streaming/winnowing_stream.py): batch ≡
stream exactness, replay idempotence, and the batch-vs-store serving
join (new-increment overlap against the ingested corpus)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators.dedup import (
    winnowing_fingerprints, winnowing_overlap_pairs,
)
from automated_data_pipeline_spark.streaming.winnowing_stream import (
    WinnowStore, batch_fingerprints, batch_overlap_against_store,
    recover_overlap_pairs,
)

SHARED = "a long shared passage of text that both documents contain"
TEXTS = [
    SHARED + " plus unique suffix one",
    "unique prefix two " + SHARED,
    "completely different content with no overlap at all here",
    SHARED + " plus unique suffix one",   # exact dup of doc 0
    "another unrelated body of words that stands alone entirely",
    "unique prefix two " + SHARED,        # exact dup of doc 1
]


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


@pytest.fixture()
def store(tmp_path):
    return WinnowStore(os.path.join(tmp_path, "winnow"))


def _fold(spark, docs, store, n_splits=3):
    for i in range(n_splits):
        store.fold(
            batch_fingerprints(docs.filter(F.col("doc_id") % n_splits == i)),
            f"b{i}", maybe_replay=True,
        )


def _pairs(rows):
    return sorted((r["doc_a"], r["doc_b"], r["shared"]) for r in rows)


def test_recovered_pairs_match_batch(spark, store):
    docs = _docs(spark, TEXTS)
    _fold(spark, docs, store)
    got = recover_overlap_pairs(spark, store, min_shared=3).collect()
    want = winnowing_overlap_pairs(docs, min_shared=3).collect()
    assert _pairs(got) == _pairs(want)
    assert len(got) > 0


def test_replay_is_idempotent(spark, store):
    docs = _docs(spark, TEXTS)
    _fold(spark, docs, store)
    before = recover_overlap_pairs(spark, store, min_shared=3).collect()
    _fold(spark, docs, store)  # replay all keys
    after = recover_overlap_pairs(spark, store, min_shared=3).collect()
    assert _pairs(before) == _pairs(after)


def test_batch_overlap_against_store(spark, store):
    corpus = _docs(spark, TEXTS[:3])
    _fold(spark, corpus, store, n_splits=2)
    # the new increment: one dup of doc 0, one novel doc
    inc = _docs(
        spark, [TEXTS[0], "entirely novel words never seen before now"],
        start=100,
    )
    rows = batch_overlap_against_store(
        spark, inc, store, min_shared=3
    ).collect()
    hits = {(r["batch_doc"], r["store_doc"]) for r in rows}
    assert (100, 0) in hits            # the dup is caught
    assert (100, 1) in hits            # shares the SHARED passage
    assert all(b != 101 for b, _ in hits), "novel doc must not match"
    # serving join sees only store docs, never pairs inside the batch
    assert all(s in (0, 1, 2) for _, s in hits)


def test_store_frequency_cap_applies_to_serving(spark, store):
    boiler = "standard legal boilerplate footer text appended everywhere"
    corpus = _docs(spark, [f"body number {i} " + boiler for i in range(6)])
    _fold(spark, corpus, store, n_splits=2)
    inc = _docs(spark, ["fresh words " + boiler], start=100)
    rows = batch_overlap_against_store(
        spark, inc, store, max_df=5, min_shared=1
    ).collect()
    n_boiler = len(
        winnowing_fingerprints(_docs(spark, [boiler])).collect()[0]["fps"]
    )
    for r in rows:
        assert r["shared"] < n_boiler, "capped boilerplate still matched"
