"""streaming/source_stats.py: persistent per-source accumulators —
batch≡stream integer merge, replay idempotence, compaction continuity,
and the end-to-end file stream."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from automated_data_pipeline_spark.streaming.source_stats import (
    SourceStatsStore,
    batch_source_stats,
    read_source_totals,
    start_source_stats_stream,
)
from automated_data_pipeline_spark.suite.round7 import _QLR

BIAS = _QLR["bias"]
COEFS = [_QLR["f_logtok"], _QLR["f_wlen"], _QLR["f_punct"],
         _QLR["f_stop"], _QLR["f_ttr"]]

ROWS = [
    (0, "the cat sat on the mat and looked to the door", "a"),
    (1, "a dog ran to the park and the children played", "a"),
    (2, "$$$ ### !!! @@@ %%% ^^^ &&&", "b"),
    (3, "the report is due in a week and the team is ready", "b"),
    (4, "xxxxxx yyyyyy zzzzzz !!!!", "c"),
    (5, "a quick look at the data shows the trend is up", "c"),
    (6, None, "c"),  # NULL text excluded, like the batch scorer
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [ROWS[i] for i in ids], "doc_id long, text string, source string"
    )


def _fold(store, docs, key):
    store.fold(
        batch_source_stats(docs, "text", BIAS, COEFS), key, maybe_replay=True
    )


def _totals(spark, store):
    return {
        r["source"]: (r["n_docs"], r["chars_total"], r["avg_p"])
        for r in read_source_totals(spark, store).collect()
    }


def _batch_truth(spark):
    whole = batch_source_stats(
        _docs(spark, range(len(ROWS))), "text", BIAS, COEFS
    )
    out = {}
    for r in whole.collect():
        avg = (r["sum_p_i"] / r["n_docs"] + 0.5).__floor__() / 10000.0
        out[r["source"]] = (r["n_docs"], r["chars_total"], avg)
    return out


def test_store_merges_to_batch_totals_over_any_split(spark, tmp_path):
    import math

    whole = {
        r["source"]: (r["n_docs"], r["chars_total"],
                      math.floor(r["sum_p_i"] / r["n_docs"] + 0.5) / 10000.0)
        for r in batch_source_stats(
            _docs(spark, range(len(ROWS))), "text", BIAS, COEFS
        ).collect()
    }
    for split in ([3], [2, 5], [1, 3, 5]):
        store = SourceStatsStore(
            str(tmp_path / f"s_{'_'.join(map(str, split))}")
        )
        bounds = [0] + split + [len(ROWS)]
        for bi in range(len(bounds) - 1):
            ids = range(bounds[bi], bounds[bi + 1])
            if ids:
                _fold(store, _docs(spark, ids), f"k{bi}")
        assert _totals(spark, store) == whole, split


def test_replayed_batch_is_not_double_counted(spark, tmp_path):
    store = SourceStatsStore(str(tmp_path / "replay"))
    _fold(store, _docs(spark, [0, 1, 2]), "k0")
    once = _totals(spark, store)
    # a restarted query replays batch k0 (fresh wrapper => probe runs)
    _fold(store, _docs(spark, [0, 1, 2]), "k0")
    assert _totals(spark, store) == once


def test_compaction_preserves_totals_and_replay_probe(spark, tmp_path):
    store = SourceStatsStore(str(tmp_path / "compact"))
    for bi, ids in enumerate([[0, 1], [2, 3], [4, 5, 6]]):
        _fold(store, _docs(spark, ids), f"k{bi}")
    before = _totals(spark, store)
    store.compact(spark, n_files=1)
    assert _totals(spark, store) == before
    # replay detection must survive compaction
    assert store.has_batch(spark, "k1")
    _fold(store, _docs(spark, [2, 3]), "k1")
    assert _totals(spark, store) == before


def test_source_stats_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    for name, ids in [("a.json", range(0, 3)), ("b.json", range(3, 7))]:
        with open(os.path.join(src, name), "w") as f:
            f.write("\n".join(
                json.dumps(
                    {"doc_id": ROWS[i][0], "text": ROWS[i][1],
                     "source": ROWS[i][2]}
                )
                for i in ids
            ))
    store = SourceStatsStore(str(tmp_path / "store"))
    q = start_source_stats_stream(
        spark, src, store, BIAS, COEFS, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _totals(spark, store) == _batch_truth(spark)
