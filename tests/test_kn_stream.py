"""Kneser-Ney streaming twin: incremental bigram-occurrence store,
exact batch-report recovery, replay idempotence, and the new-batch
serving scorer's backoff semantics."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from automated_data_pipeline_spark.streaming.kn_stream import (
    BigramStore,
    batch_bigrams,
    recover_kn_scores,
    score_batch_against_store,
)
from automated_data_pipeline_spark.suite.round11 import (
    kneser_ney_doc_scores,
)

TEXTS = [
    "the cat sat on the mat",
    "the dog sat on the log",
    "a cat and a dog and a bird",
    "san francisco san francisco bay",
    "the bird saw the cat",
    "one",
]


def _docs(spark, texts, offset=0):
    return spark.createDataFrame(
        [(i + offset, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def _fold(spark, store, docs, n_splits=3):
    for i in range(n_splits):
        store.fold(
            batch_bigrams(docs.filter(F.col("doc_id") % n_splits == i)),
            f"b{i}",
            maybe_replay=True,
        )


def test_recovered_scores_equal_batch_exactly(spark, tmp_path):
    docs = _docs(spark, TEXTS)
    store = BigramStore(str(tmp_path / "kn"))
    _fold(spark, store, docs)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_kn_prob"])
        for r in recover_kn_scores(spark, store).collect()
    }
    want = {
        r["doc_id"]: (r["n_bigrams"], r["mean_kn_prob"])
        for r in kneser_ney_doc_scores(docs).collect()
    }
    assert got == want
    assert len(got) == 5  # the 1-token doc contributes no bigrams


def test_replay_of_applied_batch_is_noop(spark, tmp_path):
    docs = _docs(spark, TEXTS)
    store = BigramStore(str(tmp_path / "kn"))
    _fold(spark, store, docs)
    before = store.read(spark).count()
    scores_before = sorted(
        map(tuple, recover_kn_scores(spark, store).collect())
    )
    # replay every batch key — all must be no-ops
    _fold(spark, store, docs)
    assert store.read(spark).count() == before
    assert (
        sorted(map(tuple, recover_kn_scores(spark, store).collect()))
        == scores_before
    )


def test_batch_bigrams_counts(spark):
    rows = batch_bigrams(_docs(spark, ["a b a b a", "x"])).collect()
    got = {(r["doc_id"], r["w1"], r["w2"]): r["c"] for r in rows}
    assert got == {(0, "a", "b"): 2, (0, "b", "a"): 2}


def _python_kn_serve(train_texts, new_texts, d=0.75):
    """From-scratch reference for the serving scorer: interpolated KN
    with full backoff to continuation probability for unseen w1, zero
    continuation mass for unseen w2."""
    toks = [t.lower().split() for t in train_texts]
    c12 = Counter()
    for ws in toks:
        for i in range(len(ws) - 1):
            c12[(ws[i], ws[i + 1])] += 1
    c1, n1p_fwd, n1p_cont = Counter(), Counter(), Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_fwd[w1] += 1
        n1p_cont[w2] += 1
    n1p_tot = len(c12)
    out = {}
    for doc, text in enumerate(new_texts):
        ws = text.lower().split()
        ps = []
        for i in range(len(ws) - 1):
            w1, w2 = ws[i], ws[i + 1]
            cont_p = n1p_cont.get(w2, 0) / n1p_tot
            if w1 in c1:
                p = max(c12.get((w1, w2), 0) - d, 0.0) / c1[w1] + (
                    (d * n1p_fwd[w1]) / c1[w1]
                ) * cont_p
            else:
                p = cont_p
            ps.append(round(p, 9))
        if ps:
            out[doc] = (len(ps), round(sum(ps) / len(ps), 6))
    return out


def test_serving_scorer_backoff_semantics(spark, tmp_path):
    train = TEXTS
    store = BigramStore(str(tmp_path / "kn"))
    _fold(spark, store, _docs(spark, train))
    new = [
        "the cat sat on the mat",        # all transitions seen
        "the zebra sat",                  # unseen w2 then unseen w1
        "cat dog bird",                   # seen words, unseen pairs
        "zzz qqq",                        # fully outside the LM -> 0
    ]
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_kn_prob"])
        for r in score_batch_against_store(
            spark, _docs(spark, new), store
        ).collect()
    }
    want = _python_kn_serve(train, new)
    assert got == want
    assert got[3] == (1, 0.0)  # fully-unseen doc scores zero
    # in-LM doc scores strictly higher than the unseen-pair doc
    assert got[0][1] > got[2][1]
