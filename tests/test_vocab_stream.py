"""Incremental per-language vocabulary (streaming/vocab_stream.py):
integer (lang, tok) counts merge exactly across micro-batches, the
recovered overlap report equals the batch operator, and the crash-
window replay is a no-op."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.streaming.vocab_stream import (
    VocabCountStore,
    batch_vocab_counts,
    read_vocab_counts,
    recover_vocab_overlap,
    start_incremental_vocab,
)
from automated_data_pipeline_spark.suite import all_specs, load

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents").select("doc_id", "text", "lang")


def _write_shards(docs, src, n=3):
    os.makedirs(src, exist_ok=True)
    for i in range(n):
        rows = docs.filter(F.col("doc_id") % n == i).collect()
        with open(os.path.join(src, f"s{i}.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(
                    {"doc_id": r["doc_id"], "text": r["text"],
                     "lang": r["lang"]}) + "\n")


def test_streamed_counts_and_report_equal_batch(spark, docs, tmp_path):
    """The exactness claim, both layers: merged integer counts equal
    the one-shot whole-corpus counts tuple for tuple, and the
    recovered overlap report equals the suite's lang_vocab_overlap
    output (which carries the DuckDB oracle)."""
    src = str(tmp_path / "in")
    _write_shards(docs, src)
    store = VocabCountStore(str(tmp_path / "store"))
    q = start_incremental_vocab(spark, src, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got_counts = sorted(
        tuple(r) for r in read_vocab_counts(spark, store).collect()
    )
    want_counts = sorted(
        tuple(r) for r in batch_vocab_counts(docs).collect()
    )
    assert got_counts == want_counts
    got = [tuple(r) for r in recover_vocab_overlap(spark, store).collect()]
    batch_fn = {s.name: s.fn for s in all_specs()}["lang_vocab_overlap"]
    want = [tuple(r) for r in batch_fn(spark, SF).collect()]
    assert got == want and len(got) > 0


def test_restart_replay_is_noop(spark, docs, tmp_path):
    """The genuine crash window (last batch's append landed, commit
    marker + .crc twin gone, restart on a new session): the key probe
    must skip the replayed batch, counts unchanged."""
    src = str(tmp_path / "in")
    _write_shards(docs, src)
    ckpt = str(tmp_path / "ckpt")
    store = VocabCountStore(str(tmp_path / "store"))
    start_incremental_vocab(spark, src, store, ckpt).awaitTermination(120)
    before = sorted(tuple(r) for r in read_vocab_counts(spark, store).collect())
    os.remove(os.path.join(ckpt, "commits", "2"))
    crc = os.path.join(ckpt, "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    start_incremental_vocab(
        spark.newSession(), src, store, ckpt
    ).awaitTermination(120)
    assert sorted(
        tuple(r) for r in read_vocab_counts(spark, store).collect()
    ) == before


def test_duplicate_fold_is_idempotent(spark, docs, tmp_path):
    store = VocabCountStore(str(tmp_path / "store"))
    store.fold(batch_vocab_counts(docs), "b0", maybe_replay=True)
    before = sorted(tuple(r) for r in read_vocab_counts(spark, store).collect())
    store.fold(batch_vocab_counts(docs), "b0", maybe_replay=True)
    assert sorted(
        tuple(r) for r in read_vocab_counts(spark, store).collect()
    ) == before
