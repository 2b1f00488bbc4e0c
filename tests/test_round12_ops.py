"""Round-12 operators: RRF fusion math, the hybrid dense+lexical
retrieval plan contract, and PMI recovery from the shared KN bigram
store (batch ≡ stream)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators.retrieval import rrf_fuse
from automated_data_pipeline_spark.suite import load

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"


def test_rrf_fuse_values_and_partial_membership(spark):
    """A doc in both legs sums both reciprocal ranks; a doc in one leg
    contributes one term; ranking is (rrf desc, id asc)."""
    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2)], "query_id int, doc_id bigint, rnk int"
    )
    den = spark.createDataFrame(
        [(1, 100, 2), (1, 300, 1)], "query_id int, doc_id bigint, rnk int"
    )
    rows = {
        r["doc_id"]: (r["rrf"], r["rnk"])
        for r in rrf_fuse([lex, den], "query_id", "doc_id", k=3).collect()
    }
    both = round(round(1 / 61, 12) + round(1 / 62, 12), 9)
    assert rows[100] == (both, 1)
    assert rows[300] == (round(round(1 / 61, 12), 9), 2)
    assert rows[200] == (round(round(1 / 62, 12), 9), 3)


def test_rrf_fuse_respects_k(spark):
    leg = spark.createDataFrame(
        [(1, d, d) for d in range(1, 9)], "query_id int, doc_id bigint, rnk int"
    )
    out = rrf_fuse([leg], "query_id", "doc_id", k=3).collect()
    assert len(out) == 3
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [1, 2, 3]


def test_hybrid_rrf_plan_contract(spark):
    """The hybrid retrieval plan: corpus cost lives in the two legs
    (BM25 broadcasts query/df/stats; the dense leg broadcasts the
    anchors); the fusion itself is union+groupBy — NO join of any
    kind, so no SortMergeJoin and no CartesianProduct may appear
    anywhere in the executed plan, and raw text never enters a hash
    exchange. Reads the LAZY composition (hybrid_rrf_retrieval itself
    localCheckpoints, which would hide the lineage and make this pin
    vacuous); persist_postings=False keeps the postings lineage
    visible too and leaks nothing."""
    import re

    from automated_data_pipeline_spark.suite.round12 import (
        hybrid_rrf_fused_lazy,
    )

    out, _release = hybrid_rrf_fused_lazy(spark, SF, persist_postings=False)
    out.count()  # AQE-finalize
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # raw text must not be a shuffle key: inspect the hashpartitioning
    # key lists themselves, not a frag substring (ADVICE r12 — a bare
    # 'text' window check false-fails on unrelated tokens)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert not re.search(r"\btext#\d+", m.group(1)), m.group(0)


def test_hybrid_rrf_rows_shape(spark):
    from automated_data_pipeline_spark.suite.round12 import (
        hybrid_rrf_retrieval,
    )

    rows = hybrid_rrf_retrieval(spark, SF).collect()
    # 3 queries x top-5, ranks 1..5 each, rrf monotone within a query
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == [1, 2, 3, 4, 5]
        rrfs = [r["rrf"] for r in rs]
        assert rrfs == sorted(rrfs, reverse=True)


def test_pmi_recovered_equals_batch(spark, tmp_path):
    """batch ≡ stream for PMI: folding the corpus through the KN
    BigramStore in 3 splits and recovering through the shared scoring
    path reproduces the batch operator's exact rows."""
    from automated_data_pipeline_spark.streaming.kn_stream import (
        BigramStore, batch_bigrams,
    )
    from automated_data_pipeline_spark.suite.round11 import (
        pmi_collocations_topk, pmi_topk_from_pair_counts,
    )

    docs = load(spark, SF, "documents")
    store = BigramStore(str(tmp_path / "pmi_store"))
    for i in range(3):
        store.fold(
            batch_bigrams(docs.filter(F.col("doc_id") % 3 == i)), f"b{i}",
            maybe_replay=True,
        )
    # replay of an applied key is a no-op
    store.fold(
        batch_bigrams(docs.filter(F.col("doc_id") % 3 == 0)), "b0",
        maybe_replay=True,
    )
    c12 = (
        store.read(spark)
        .groupBy("w1", "w2")
        .agg(F.sum("c").cast("bigint").alias("c12"))
    )
    recovered = {
        (r["w1"], r["w2"]): (r["pair_count"], r["pmi"])
        for r in pmi_topk_from_pair_counts(c12).collect()
    }
    batch = {
        (r["w1"], r["w2"]): (r["pair_count"], r["pmi"])
        for r in pmi_collocations_topk(spark, SF).collect()
    }
    assert recovered == batch and len(batch) > 0


def test_unimax_closed_form_threshold(spark, tmp_path):
    """Hand-computed UniMax plan with the operator's real constants
    (epoch cap 3, budget 2x corpus tokens). Token counts a=10, b=30,
    c=200 -> caps 30/90/600, B = 2*240 = 480. Greedy low->high:
    u1 = 480/3 = 160 > cap 30  -> lang a capped at 30
    u2 = 450/2 = 225 > cap 90  -> lang b capped at 90
    u3 = 360/1 = 360 < cap 600 -> lang c gets the uniform share 360
    So k* = 2 and the plan spends the whole budget."""
    from automated_data_pipeline_spark.suite import round12 as r12

    docs = spark.createDataFrame(
        [(1, "a", " ".join(["tok"] * 10)),
         (2, "b", " ".join(["tok"] * 30)),
         (3, "c", " ".join(["tok"] * 200))],
        "doc_id bigint, lang string, text string",
    )
    p = str(tmp_path / "unimax")
    docs.write.parquet(f"{p}/documents.parquet")
    rows = {r["lang"]: r for r in r12.unimax_epoch_plan(spark, p).collect()}
    assert rows["a"]["alloc_tokens"] == 30.0 and rows["a"]["epochs"] == 3.0
    assert rows["b"]["alloc_tokens"] == 90.0 and rows["b"]["epochs"] == 3.0
    assert rows["c"]["alloc_tokens"] == 360.0
    assert rows["c"]["epochs"] == 1.8
    # budget fully spent
    assert sum(r["alloc_tokens"] for r in rows.values()) == 480.0


def test_unimax_extreme_skew(spark, tmp_path):
    """Extreme low-resource skew: a=1 token, b=100 tokens -> caps
    3/300, B = 202. u1 = 101 > 3 -> a capped at its whole 3-epoch
    cap; b absorbs the rest (199 tokens, 1.99 epochs) — the fairness
    property UniMax exists for (the tiny language is never starved,
    the big one never over-replayed)."""
    from automated_data_pipeline_spark.suite import round12 as r12

    docs = spark.createDataFrame(
        [(1, "a", "tok"),
         (2, "b", " ".join(["tok"] * 100))],
        "doc_id bigint, lang string, text string",
    )
    p = str(tmp_path / "unimax2")
    docs.write.parquet(f"{p}/documents.parquet")
    rows = {r["lang"]: r for r in r12.unimax_epoch_plan(spark, p).collect()}
    assert rows["a"]["alloc_tokens"] == 3.0 and rows["a"]["epochs"] == 3.0
    assert rows["b"]["alloc_tokens"] == 199.0 and rows["b"]["epochs"] == 1.99
