"""Round-11 operators: BM25 retrieval (operators/retrieval.py),
temperature mixture resampling (operators/sampling.py), winnowing
fingerprints (operators/dedup.py), and char-entropy quality — semantics
vs brute-force Python references plus edge behavior."""

from __future__ import annotations

import math
import os
import subprocess
import sys

from pyspark.sql import functions as F

from automated_data_pipeline_spark.functions.text import stable_hash64_py
from automated_data_pipeline_spark.operators.dedup import (
    winnowing_fingerprints, winnowing_overlap_pairs,
)
from automated_data_pipeline_spark.operators.retrieval import bm25_top_docs
from automated_data_pipeline_spark.operators.sampling import (
    temperature_mixture,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# ------------------------------------------------------------------ BM25
def _brute_bm25(texts, queries, k1=1.2, b=0.75):
    toks = [t.lower().split() for t in texts]
    n = len([t for t in toks if t])
    dl = {i: len(t) for i, t in enumerate(toks) if t}
    avgdl = sum(dl.values()) / n
    df: dict[str, int] = {}
    for t in toks:
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    scores: dict[tuple[int, int], float] = {}
    for qid, terms in queries.items():
        for d, t in enumerate(toks):
            s = 0.0
            hit = False
            for term in terms:
                tf = t.count(term)
                if tf == 0:
                    continue
                hit = True
                idf = math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1)
                s += idf * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * dl[d] / avgdl)
                )
            if hit:
                scores[(qid, d)] = round(s, 6)
    return scores


def test_bm25_matches_brute_force(spark):
    texts = [
        "spark join join join filter",
        "spark stream window",
        "batch batch batch batch window",
        "vector hash hash",
        "filter scan merge",
    ]
    queries = {1: ["spark", "join"], 2: ["batch", "window"]}
    expected = _brute_bm25(texts, queries)
    rows = bm25_top_docs(
        spark, _docs(spark, texts), queries, k=10
    ).collect()
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in rows}
    assert got == expected
    # rank sanity: doc0 (3x join + spark) outranks doc1 for query 1
    ranks = {
        (r["query_id"], r["doc_id"]): r["rnk"] for r in rows
    }
    assert ranks[(1, 0)] < ranks[(1, 1)]


def test_bm25_k_caps_results_per_query(spark):
    texts = ["spark"] * 7
    rows = bm25_top_docs(
        spark, _docs(spark, texts), {1: ["spark"]}, k=3
    ).collect()
    assert len(rows) == 3
    # all scores tie -> doc_id tie-break ascending
    assert sorted(r["doc_id"] for r in rows) == [0, 1, 2]


# ------------------------------------------------- temperature mixture
def _brute_temperature(langs_per_id, alpha=0.5, seed="temp"):
    counts: dict[str, int] = {}
    for lang in langs_per_id.values():
        counts[lang] = counts.get(lang, 0) + 1
    n_total = sum(counts.values())
    denom = sum(c ** alpha for c in counts.values())
    wt = {
        lang: round((n_total * c ** alpha / denom) / c, 6)
        for lang, c in counts.items()
    }
    out = {}
    for i, lang in langs_per_id.items():
        w = wt[lang]
        unit = (stable_hash64_py(f"{seed}:{i}") % 1_000_000) / 1_000_000.0
        copies = int(math.floor(w)) + (1 if unit < w - math.floor(w) else 0)
        out[i] = (lang, w, copies)
    return out


def test_temperature_mixture_matches_brute_force(spark):
    langs = (["en"] * 40) + (["de"] * 9) + (["zh"] * 1)
    df = spark.createDataFrame(
        [(i, lang) for i, lang in enumerate(langs)],
        "doc_id long, lang string",
    )
    expected = _brute_temperature(dict(enumerate(langs)))
    rows = temperature_mixture(df, "lang", "doc_id", alpha=0.5).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["lang"], r["wt"], r["copy"]))
    for i, (lang, w, copies) in expected.items():
        if copies == 0:
            assert i not in got
        else:
            assert sorted(got[i]) == [
                (lang, w, c) for c in range(1, copies + 1)
            ]
    # alpha<1 flattens: the head domain is downsampled, the tail
    # upsampled, and per-row weights preserve the total budget
    wts = {r["lang"]: r["wt"] for r in rows}
    assert wts["en"] < 1.0 < wts["zh"]
    n_total = len(langs)
    budget = sum(
        counts * wts[lang]
        for lang, counts in {"en": 40, "de": 9, "zh": 1}.items()
    )
    assert abs(budget - n_total) < 1e-3


def test_temperature_alpha_one_is_identity_weights(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(30)],
        "doc_id long, lang string",
    )
    rows = temperature_mixture(df, "lang", "doc_id", alpha=1.0).collect()
    # alpha=1 -> every weight is exactly 1.0: one copy per input row
    assert len(rows) == 30
    assert {r["wt"] for r in rows} == {1.0}
    assert {r["copy"] for r in rows} == {1}


# ---------------------------------------------------------- winnowing
def _brute_winnow(text, k=8, w=4, seed="win"):
    low = text.lower()
    if len(low) < k + w - 1:
        return set()
    grams = [
        stable_hash64_py(f"{seed}:{low[i:i + k]}")
        for i in range(len(low) - k + 1)
    ]
    return {
        min(grams[s:s + w]) for s in range(len(grams) - w + 1)
    }


def test_winnowing_fingerprints_match_brute_force(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "THE QUICK BROWN fox jumps over something else",
    ]
    rows = winnowing_fingerprints(_docs(spark, texts)).collect()
    got = {r["doc_id"]: set(r["fps"]) for r in rows}
    for i, t in enumerate(texts):
        assert got[i] == _brute_winnow(t), f"doc {i}"
    # docs 0 and 2 share a >=11-char prefix (case-insensitive):
    # winnowing guarantees at least one shared fingerprint
    assert got[0] & got[2]
    assert not (got[0] & got[1])


def test_winnowing_short_doc_yields_empty(spark):
    rows = winnowing_fingerprints(_docs(spark, ["abcdefghij", ""])).collect()
    assert all(r["fps"] == [] for r in rows)


def test_winnowing_overlap_pairs_brute_parity(spark):
    shared = "a long shared passage of text that both documents contain"
    texts = [
        shared + " plus unique suffix one",
        "unique prefix two " + shared,
        "completely different content with no overlap at all here",
        shared + " plus unique suffix one",   # exact dup of doc 0
    ]
    fps = {i: _brute_winnow(t) for i, t in enumerate(texts)}
    # brute pair counts under the same df cap (none hit the cap here)
    expected = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            n = len(fps[a] & fps[b])
            if n >= 3:
                expected[(a, b)] = n
    rows = winnowing_overlap_pairs(
        _docs(spark, texts), min_shared=3
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): r["shared"] for r in rows}
    assert got == expected
    assert (0, 3) in got and (0, 1) in got and (2, 3) not in got


def test_winnowing_df_cap_drops_boilerplate(spark):
    # one fingerprint-rich boilerplate string in EVERY doc: with
    # max_df below the corpus size all its fingerprints are dropped
    boiler = "standard legal boilerplate footer text appended everywhere"
    texts = [f"document body number {i} " + boiler for i in range(6)]
    rows = winnowing_overlap_pairs(
        _docs(spark, texts), max_df=5, min_shared=1
    ).collect()
    # pairs may only arise from fingerprints NOT present in all 6 docs
    for r in rows:
        assert r["shared"] < len(_brute_winnow(boiler))


# ------------------------------------------------------- char entropy
def test_char_entropy_known_values(spark):
    from automated_data_pipeline_spark.suite.round11 import (
        char_entropy_quality,
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [
                (0, "abcdabcdabcdabcd", "en", "s", 16),  # uniform 4 -> 2 bits
                (1, "aaaaaaaa", "en", "s", 8),            # constant -> 0
                (2, "ab", "en", "s", 2),                  # uniform 2 -> 1 bit
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = char_entropy_quality(spark, tmp).collect()
    got = {r["doc_id"]: (r["h_entropy"], r["distinct_chars"]) for r in rows}
    assert got[0] == (2.0, 4)
    assert got[1] == (0.0, 1)
    assert got[2] == (1.0, 2)


# ------------------------------------------------- hard-negative mining
def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )


def _brute_hard_negatives(rows, anchors, k=5):
    import math as _m

    def cos(a, b):
        na = _m.sqrt(sum(x * x for x in a))
        nb = _m.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return 0.0
        return round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6)

    out = {}
    for qid, qe, ql in anchors:
        scored = [
            (cos(e, qe), vid, lab)
            for vid, e, lab in rows
            if vid != qid and lab != ql
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = [(vid, lab, c) for c, vid, lab in scored[:k]]
    return out


def test_hard_negative_matches_brute_force(spark):
    from automated_data_pipeline_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)], i % 3)
        for i in range(30)
    ]
    anchors = [(r[0], r[1], r[2]) for r in rows if r[0] % 10 == 0]
    e = _emb(spark, rows)
    a = spark.createDataFrame(
        anchors, "qid long, qe array<double>, qlabel long"
    )
    got = {}
    for r in hard_negative_topk(e, a, k=4).collect():
        got.setdefault(r["qid"], []).append(
            (r["vec_id"], r["neg_label"], r["cosine"])
        )
    expected = _brute_hard_negatives(rows, anchors, k=4)
    assert got == expected
    # every mined negative's label differs from its anchor's
    albl = {q: l for q, _, l in anchors}
    for q, negs in got.items():
        assert all(lab != albl[q] for _, lab, _ in negs)


def test_hard_negative_all_same_label_is_empty(spark):
    from automated_data_pipeline_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [(i, [1.0, float(i)], 7) for i in range(5)]
    e = _emb(spark, rows)
    a = spark.createDataFrame(
        [(0, [1.0, 0.0], 7)], "qid long, qe array<double>, qlabel long"
    )
    assert hard_negative_topk(e, a, k=3).count() == 0


def test_hard_negative_ivf_recall_vs_brute(spark):
    """The IVF over-fetch variant must recover most of the exact
    hard-negative set on the fixture corpus (recall@5 >= 0.8 with
    nprobe=8/16; ivf_topk with nprobe == n_clusters is exact, so the
    gap here is only missed probes)."""
    from automated_data_pipeline_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_ivf,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    exact = {
        (r["qid"], r["vec_id"])
        for r in hard_negative_topk(e, a, k=5).collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in hard_negative_topk_ivf(
            e, a, k=5, fetch_factor=4, n_clusters=16, nprobe=8
        ).collect()
    }
    assert len(exact) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF hard-negative recall {recall:.2f} < 0.8"


# ---------------------------------------------------- Kneser-Ney LM
def _brute_kn(texts, d=0.75):
    toks = [t.lower().split() for t in texts]
    from collections import Counter

    c12 = Counter()
    for ws in toks:
        for i in range(len(ws) - 1):
            c12[(ws[i], ws[i + 1])] += 1
    c1 = Counter()
    n1p_fwd = Counter()
    n1p_cont = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_fwd[w1] += 1
        n1p_cont[w2] += 1
    n1p_tot = len(c12)
    out = {}
    for doc, ws in enumerate(toks):
        ps = []
        for i in range(len(ws) - 1):
            w1, w2 = ws[i], ws[i + 1]
            p = max(c12[(w1, w2)] - d, 0.0) / c1[w1] + (
                (d * n1p_fwd[w1]) / c1[w1]
            ) * (n1p_cont[w2] / n1p_tot)
            ps.append(round(p, 9))
        if ps:
            out[doc] = (len(ps), round(sum(ps) / len(ps), 6))
    return out


def test_kneser_ney_matches_brute_force(spark):
    from automated_data_pipeline_spark.suite.round11 import (
        kneser_ney_doc_scores,
    )

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog",
        "francisco",  # classic KN example: frequent but low continuation
        "san francisco san francisco",
        "one",  # 1-token doc: no bigrams, excluded
    ]
    rows = kneser_ney_doc_scores(_docs(spark, texts)).collect()
    got = {r["doc_id"]: (r["n_bigrams"], r["mean_kn_prob"]) for r in rows}
    assert got == _brute_kn(texts)


def test_kneser_ney_probs_sum_to_one_per_context(spark):
    """Interpolated KN is a proper conditional distribution over the
    OBSERVED vocabulary contexts: for each w1, sum over observed w2 of
    the discounted term plus the backoff mass times total continuation
    probability equals 1 when every vocab word is some bigram's w2."""
    texts = ["a b a c a b a c a b"]
    toks = texts[0].split()
    from collections import Counter

    c12 = Counter(zip(toks, toks[1:]))
    c1 = Counter()
    n1p_fwd = Counter()
    n1p_cont = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_fwd[w1] += 1
        n1p_cont[w2] += 1
    n1p_tot = len(c12)
    d = 0.75
    for w1 in c1:
        s = sum(
            max(c12[(w1, w2)] - d, 0.0) / c1[w1]
            + ((d * n1p_fwd[w1]) / c1[w1]) * (n1p_cont[w2] / n1p_tot)
            for w2 in n1p_cont
        )
        assert abs(s - 1.0) < 1e-9


# ------------------------------------------------------------ Zipf fit
def test_zipf_fit_matches_numpy_reference(spark):
    import math
    import os
    import tempfile

    from automated_data_pipeline_spark.suite.round11 import zipf_fit_by_lang

    texts = [
        ("en", "a a a a a a b b b c c d"),
        ("en", "a a b b c d d d"),
        ("de", "x y x y x z"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [(i, t, lang, "s", len(t)) for i, (lang, t) in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = zipf_fit_by_lang(spark, tmp).collect()

    def ref(lang):
        from collections import Counter

        freq = Counter()
        for lg, t in texts:
            if lg == lang:
                freq.update(t.split())
        ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        xs = [round(math.log(r + 1), 9) for r in range(len(ranked))]
        ys = [round(math.log(f), 9) for _, f in ranked]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return (
            n,
            round(slope, 4),
            round((sy - slope * sx) / n, 4),
        )

    got = {
        r["lang"]: (r["n_ranks"], r["zipf_slope"], r["zipf_intercept"])
        for r in rows
    }
    for lang in ("en", "de"):
        n, s, i = ref(lang)
        gn, gs, gi = got[lang]
        assert gn == n
        assert abs(gs - s) < 2e-4 and abs(gi - i) < 2e-4, (lang, got[lang], (n, s, i))


def test_zipf_natural_ranking_slope_is_negative(spark):
    import os
    import tempfile

    from automated_data_pipeline_spark.suite.round11 import zipf_fit_by_lang

    # a corpus with a genuinely zipfian profile: token k appears ~N/k times
    toks = []
    for k in range(1, 40):
        toks += [f"w{k:02d}"] * (400 // k)
    text = " ".join(toks)
    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [(0, text, "en", "s", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        row = zipf_fit_by_lang(spark, tmp).collect()[0]
    assert row["zipf_slope"] < -0.9  # ~ -1 for a 1/k law
    assert row["n_ranks"] == 39


def test_zipf_recovered_equals_batch(spark, tmp_path):
    import os

    from automated_data_pipeline_spark.streaming.vocab_stream import (
        VocabCountStore,
        batch_vocab_counts,
        read_vocab_counts,
    )
    from automated_data_pipeline_spark.suite.round11 import (
        zipf_fit_by_lang,
        zipf_fit_from_freq,
    )

    texts = [
        ("en", "a a a b b c " * 5),
        ("en", "a b c d e f g"),
        ("de", "x y x y x z w w w w"),
    ]
    df = spark.createDataFrame(
        [(i, t, lang, "s", len(t)) for i, (lang, t) in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    df.write.parquet(os.path.join(sf, "documents.parquet"))

    store = VocabCountStore(str(tmp_path / "vc"))
    for i in range(3):
        store.fold(
            batch_vocab_counts(df.filter(F.col("doc_id") % 3 == i)), f"b{i}",
            maybe_replay=True,
        )
    freq = read_vocab_counts(spark, store).select(
        "lang", "tok", F.col("cnt").alias("f")
    )
    got = sorted(map(tuple, zipf_fit_from_freq(freq).collect()))
    want = sorted(map(tuple, zipf_fit_by_lang(spark, sf).collect()))
    assert got == want and len(got) == 2


# ----------------------------------------------------------------- MMR
def _brute_mmr(rows, anchors, k=5, shortlist=20, lam=0.7):
    import math as _m

    om = round(1.0 - lam, 12)

    def cos(a, b):
        na = _m.sqrt(sum(x * x for x in a))
        nb = _m.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return 0.0
        return round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6)

    vec = {vid: e for vid, e in rows}
    out = {}
    for qid, qe in anchors:
        rel = sorted(
            ((cos(e, qe), vid) for vid, e in rows if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:shortlist]
        cand = {vid: r for r, vid in rel}
        sel = []
        for pick in range(1, k + 1):
            if pick == 1:
                scored = [(round(lam * r, 7), vid) for vid, r in cand.items()]
            else:
                scored = [
                    (
                        round(
                            lam * r
                            - om * max(cos(vec[vid], vec[s]) for s in sel),
                            7,
                        ),
                        vid,
                    )
                    for vid, r in cand.items()
                ]
            scored.sort(key=lambda t: (-t[0], t[1]))
            mmr, vid = scored[0]
            sel.append(vid)
            del cand[vid]
            out[(qid, pick)] = (vid, mmr)
    return out


def test_mmr_matches_brute_force(spark):
    from automated_data_pipeline_spark.operators.retrieval import mmr_topk

    rows = [
        (i, [float((i * 13 + j * 5) % 17 - 8) / 8.0 for j in range(8)])
        for i in range(40)
    ]
    anchors = [(0, rows[0][1]), (7, rows[7][1])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(anchors, "qid long, qe array<double>")
    got = {
        (r["qid"], r["pick"]): (r["vec_id"], r["mmr"])
        for r in mmr_topk(e, q, k=4, shortlist=10).collect()
    }
    assert got == _brute_mmr(rows, anchors, k=4, shortlist=10)


def test_mmr_diversifies_vs_plain_topk(spark):
    """On the fixture corpus the MMR pick-set's max intra-set cosine
    must not exceed the plain top-k's (the whole point of the
    penalty), and pick 1 must equal the top-1 by relevance."""
    import itertools
    import math as _m

    from automated_data_pipeline_spark.operators.retrieval import mmr_topk
    from automated_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    mmr = mmr_topk(e, q, k=5, shortlist=20)
    top = cosine_topk(e, q, k=5)
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}

    def cos(a, b):
        na = _m.sqrt(sum(x * x for x in a))
        nb = _m.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    def max_intra(ids):
        return max(
            cos(vecs[a], vecs[b]) for a, b in itertools.combinations(ids, 2)
        )

    mmr_rows = mmr.collect()
    top_rows = top.collect()
    for qid in (0, 1):
        m_ids = [r["vec_id"] for r in mmr_rows if r["qid"] == qid]
        t_ids = [r["vec_id"] for r in top_rows if r["qid"] == qid]
        assert len(m_ids) == 5
        assert max_intra(m_ids) <= max_intra(t_ids) + 1e-9
        pick1 = next(
            r["vec_id"] for r in mmr_rows if r["qid"] == qid and r["pick"] == 1
        )
        top1 = next(
            r["vec_id"] for r in top_rows if r["qid"] == qid and r["rank"] == 1
        )
        assert pick1 == top1


# ----------------------------------------------------------------- PMI
def test_pmi_collocations_matches_brute(spark):
    import math
    import os
    import tempfile
    from collections import Counter

    from automated_data_pipeline_spark.suite.round11 import (
        pmi_collocations_topk,
    )

    # "san francisco" always co-occurs; "the x" pairs are diluted
    texts = [
        "san francisco is by the bay and the bay is cold",
        "san francisco has the fog and the fog has moods",
        "the cat and the dog and the bird saw san francisco",
        "san francisco san francisco san francisco",
    ]
    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = pmi_collocations_topk(spark, tmp).collect()

    c12 = Counter()
    for t in texts:
        ws = t.split()
        for i in range(len(ws) - 1):
            c12[(ws[i], ws[i + 1])] += 1
    c1, c2 = Counter(), Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        c2[b] += c
    n = sum(c12.values())
    want = [
        (a, b, c, round(math.log((c * n) / (c1[a] * c2[b])), 6))
        for (a, b), c in c12.items()
        if c >= 5
    ]
    want.sort(key=lambda t: (-t[3], t[0], t[1]))
    got = [(r["w1"], r["w2"], r["pair_count"], r["pmi"]) for r in rows]
    assert got == want[:50]
    assert got[0][:2] == ("san", "francisco")  # the perfect collocation


# ----------------------------------------------------------------- RRF
def test_rrf_fusion_semantics(spark):
    """RRF must (a) only return docs from the BM25 candidate set,
    (b) rank a high-quality lower-relevance candidate above a
    low-quality higher-relevance one when the rank gap is small, and
    (c) produce 5 rows per seed query on the fixture."""
    from automated_data_pipeline_spark.suite.round11 import (
        _BM25_QUERIES,
        rrf_quality_fusion,
    )
    from automated_data_pipeline_spark.operators.retrieval import (
        bm25_top_docs,
    )
    from automated_data_pipeline_spark.suite import load

    sf = "/root/testdata/sf0.001"
    rows = rrf_quality_fusion(spark, sf).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(_BM25_QUERIES)
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert [r["rnk"] for r in sorted(rs, key=lambda r: r["rnk"])] == [1, 2, 3, 4, 5]

    d = load(spark, sf, "documents")
    cand = {
        (r["query_id"], r["doc_id"])
        for r in bm25_top_docs(spark, d, _BM25_QUERIES, k=20).collect()
    }
    for r in rows:
        assert (r["query_id"], r["doc_id"]) in cand


def test_rrf_score_formula(spark):
    """Spot-check the fused score arithmetic against the definition
    on one query's output (r_rel from bm25 ranks, r_q re-derived)."""
    from automated_data_pipeline_spark.suite.round11 import (
        _BM25_QUERIES,
        rrf_quality_fusion,
        char_entropy_quality,
    )
    from automated_data_pipeline_spark.operators.retrieval import (
        bm25_top_docs,
    )
    from automated_data_pipeline_spark.suite import load

    sf = "/root/testdata/sf0.001"
    d = load(spark, sf, "documents")
    bm = {
        (r["query_id"], r["doc_id"]): r["rnk"]
        for r in bm25_top_docs(spark, d, _BM25_QUERIES, k=20).collect()
    }
    ent = {
        r["doc_id"]: r["h_entropy"]
        for r in char_entropy_quality(spark, sf).collect()
    }
    for qid in _BM25_QUERIES:
        cands = sorted(
            (d_ for q, d_ in bm if q == qid),
            key=lambda d_: (-ent[d_], d_),
        )
        r_q = {d_: i + 1 for i, d_ in enumerate(cands)}
        expected = {
            d_: round(1.0 / (60 + bm[(qid, d_)]) + 1.0 / (60 + r_q[d_]), 9)
            for d_ in r_q
        }
        got = {
            r["doc_id"]: r["rrf"]
            for r in rrf_quality_fusion(spark, sf).collect()
            if r["query_id"] == qid
        }
        for d_, v in got.items():
            assert v == expected[d_], (qid, d_, v, expected[d_])


def test_rrf_candidate_collect_is_bounded(spark, monkeypatch):
    """The candidate-id collect is bounded by |q| x 20 by construction;
    a BM25 leg that breaks the bound must raise, not collect."""
    import pytest
    from conftest import SF_SMOKE

    from automated_data_pipeline_spark.operators import retrieval
    from automated_data_pipeline_spark.suite.round11 import (
        _BM25_QUERIES,
        rrf_quality_fusion,
    )

    n = len(_BM25_QUERIES) * 20 + 1
    oversize = spark.createDataFrame(
        [(1, i, 1.0, i + 1) for i in range(n)],
        "query_id int, doc_id long, score double, rnk long",
    )
    monkeypatch.setattr(
        retrieval, "bm25_top_docs_deferred",
        lambda *a, **kw: (oversize, lambda: None),
    )
    with pytest.raises(RuntimeError, match="exceed"):
        rrf_quality_fusion(spark, SF_SMOKE)


def test_recovered_twins_use_per_session_store_roots(spark):
    """The round-10 recovered twins fold into per-application store
    roots, so two concurrent runs on one host cannot clobber each
    other's stores; none writes the old fixed /tmp paths."""
    import os
    import shutil
    import tempfile

    from conftest import SF_SMOKE

    from automated_data_pipeline_spark.suite import round10

    fixed = [
        os.path.join(tempfile.gettempdir(), f"adps_index_{name}_store")
        for name in ("dsir", "novelty", "vocab")
    ]
    for d in fixed:
        shutil.rmtree(d, ignore_errors=True)
    for entry in (
        round10.dsir_weights_recovered,
        round10.trigram_novelty_recovered,
        round10.lang_vocab_overlap_recovered,
    ):
        entry(spark, SF_SMOKE)
    assert [d for d in fixed if os.path.exists(d)] == []


# ------------------------------------------------------- store roots
def test_recovered_store_roots_are_removed_at_exit(tmp_path):
    """Each *_recovered entry folds into a per-application root under
    the temp dir; the root is gone once the interpreter exits, so no
    run leaves its stores behind."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import os, sys, types\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from automated_data_pipeline_spark.suite.round11 import _store_root\n"
        "sc = types.SimpleNamespace(applicationId='local-stub')\n"
        "root = _store_root(types.SimpleNamespace(sparkContext=sc), 'vocab_store')\n"
        "os.makedirs(os.path.join(root, 'part'))\n"
        "print(root)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, check=True, timeout=120,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert root == os.path.join(str(tmp_path), "adps_vocab_store_local-stub")
    assert not os.path.exists(root)
