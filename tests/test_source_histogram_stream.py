"""streaming/source_histogram.py: the quantile gate's streaming twin —
the batch ``source_quality_quantile_gate`` report recovered exactly
from incrementally-merged per-(source, score) integer histograms, under
any micro-batch split, with replay idempotence, tie-at-the-cut count
exactness, and the end-to-end file stream."""

from __future__ import annotations

import json
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators import quality_model as QM
from automated_data_pipeline_spark.streaming.source_histogram import (
    SourceScoreHistogramStore,
    batch_source_histogram,
    read_source_histogram,
    recover_quantile_gate,
    start_source_histogram_stream,
)
from automated_data_pipeline_spark.suite import load
from automated_data_pipeline_spark.suite.round7 import _QLR

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"

BIAS = _QLR["bias"]
COEFS = [_QLR[n] for n in QM.FEATURE_NAMES]


def _batch_gate(scored_docs):
    """The suite gate's window computation (suite/round8.py
    source_quality_quantile_gate), applied to an arbitrary docs frame
    — the reference the histogram recovery must reproduce exactly."""
    scored = QM.score_quality(
        scored_docs.filter(F.col("text").isNotNull()), "text", BIAS, COEFS
    ).select(
        "source",
        "doc_id",
        F.floor(F.col("quality_p") * 10000 + F.lit(0.5))
        .cast("bigint")
        .alias("p_i"),
    )
    w_src = Window.partitionBy("source")
    w_rk = w_src.orderBy(F.col("p_i").desc(), F.col("doc_id"))
    kept = (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .withColumn("n_total", F.count(F.lit(1)).over(w_src))
        .filter(F.col("rk") <= F.expr("(3 * n_total + 3) div 4"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.min("n_total").cast("bigint").alias("n_total"),
            F.count(F.lit(1)).alias("n_kept"),
            (F.min("p_i") / 10000.0).cast("double").alias("threshold"),
            (
                F.floor(F.sum("p_i") / F.count(F.lit(1)) + F.lit(0.5))
                / 10000.0
            )
            .cast("double")
            .alias("avg_kept"),
        )
        .orderBy("source")
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _fold(store, docs, key):
    store.fold(
        batch_source_histogram(docs, "text", BIAS, COEFS), key,
        maybe_replay=True,
    )


def test_recovered_gate_equals_batch_gate_on_fixture(spark, tmp_path):
    docs = load(spark, SF, "documents").select("doc_id", "text", "source")
    store = SourceScoreHistogramStore(str(tmp_path / "hist"))
    for i in range(3):
        _fold(store, docs.filter(F.col("doc_id") % 3 == i), f"k{i}")
    got = _rows(recover_quantile_gate(spark, store))
    want = _rows(_batch_gate(docs))
    assert got == want


def test_histogram_split_invariance_and_replay(spark, tmp_path):
    docs = load(spark, SF, "documents").select("doc_id", "text", "source")

    def merged(store):
        return sorted(_rows(read_source_histogram(spark, store)))

    one = SourceScoreHistogramStore(str(tmp_path / "one"))
    _fold(one, docs, "all")
    three = SourceScoreHistogramStore(str(tmp_path / "three"))
    for i in range(3):
        _fold(three, docs.filter(F.col("doc_id") % 3 == i), f"k{i}")
    assert merged(one) == merged(three)
    # a restarted query replays batch k1: counts must not double
    before = merged(three)
    _fold(three, docs.filter(F.col("doc_id") % 3 == 1), "k1")
    assert merged(three) == before


def test_tie_at_the_cut_is_count_exact(spark, tmp_path):
    # identical texts score identically, so 3 duplicates + 1 weak doc
    # put a TIE across the 75% boundary (n=4 -> n_kept=3): the batch
    # row_number cut keeps 2 of the 3 tied docs by doc_id; the
    # histogram recovery must report the same n_kept / threshold /
    # avg_kept without knowing which doc_ids survived
    good = "a quick look at the data shows the trend is up this week"
    rows = [
        (0, "the cat sat on the mat and looked out to the garden", "s"),
        (1, good, "s"),
        (2, good, "s"),
        (3, good, "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    store = SourceScoreHistogramStore(str(tmp_path / "tie"))
    _fold(store, docs, "k0")
    got = _rows(recover_quantile_gate(spark, store))
    want = _rows(_batch_gate(docs))
    assert got == want
    assert got[0][1] == 4 and got[0][2] == 3  # n_total, n_kept


def test_source_histogram_stream_end_to_end(spark, tmp_path):
    docs = load(spark, SF, "documents").select("doc_id", "text", "source")
    sample = [r.asDict() for r in docs.filter(F.col("doc_id") < 60).collect()]
    src = str(tmp_path / "in")
    os.makedirs(src)
    for name, lo, hi in [("a.json", 0, 30), ("b.json", 30, 60)]:
        with open(os.path.join(src, name), "w") as f:
            f.write("\n".join(
                json.dumps(d) for d in sample if lo <= d["doc_id"] < hi
            ))
    store = SourceScoreHistogramStore(str(tmp_path / "store"))
    q = start_source_histogram_stream(
        spark, src, store, BIAS, COEFS, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = _rows(recover_quantile_gate(spark, store))
    want = _rows(_batch_gate(docs.filter(F.col("doc_id") < 60)))
    assert got == want
