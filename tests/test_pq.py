"""Product-quantization tests: codebook shape/determinism, distributed
encode parity with the driver-side math, ADC correctness, and the
shortlist+rerank recall the operator docstring claims."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators import similarity
from automated_data_pipeline_spark.suite import load

import os

SF_ORACLE = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_ORACLE, "embeddings")


@pytest.fixture(scope="module")
def exact_top10(emb):
    rows = emb.collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    out = {}
    for qid in range(5):
        qv = X[qid]
        d = sorted(
            (float(np.sum((v - qv) ** 2)), vid)
            for vid, v in X.items()
            if vid != qid
        )
        out[qid] = [vid for _, vid in d[:10]]
    return X, out


def test_pq_train_shapes_and_determinism(emb):
    cb1, df1 = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    cb2, _ = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    assert len(cb1) == 8 and all(len(c) == 16 for c in cb1)
    assert all(len(c[0]) == 8 for c in cb1)
    for a, b in zip(cb1, cb2):
        assert np.allclose(a, b), "training must be deterministic"
    assert df1.count() == 8 * 16


def test_pq_train_rejects_bad_dims(emb):
    with pytest.raises(ValueError):
        similarity.pq_train(emb, dim=64, m=7)


def test_pq_encode_matches_driver_argmin(emb, exact_top10):
    X, _ = exact_top10
    codebooks, _ = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    enc = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode(emb, codebooks)
        .select("vec_id", "pq_codes").collect()
    }
    # spot-check 20 vectors against numpy argmin per subspace
    for vid in list(X)[:20]:
        v = X[vid]
        for j in range(8):
            sub = v[j * 8:(j + 1) * 8]
            d = ((codebooks[j] - sub) ** 2).sum(1)
            assert enc[vid][j] == int(d.argmin())


def test_pq_codes_compress_32x(emb):
    codebooks, _ = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    enc = similarity.pq_encode(emb, codebooks)
    row = enc.select("pq_codes").first()
    assert len(row["pq_codes"]) == 8  # 8 bytes vs 64 float32 = 32x


def test_adc_equals_lut_sum(emb, exact_top10):
    """ADC distance must equal the sum of per-subspace LUT entries for
    the assigned codes (checked against numpy for one query)."""
    X, _ = exact_top10
    codebooks, cb_df = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    enc = similarity.pq_encode(emb, codebooks)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = {
        r["vec_id"]: r["adc_d2"]
        for r in similarity.pq_adc_topk(
            enc, cb_df, q, k=500
        ).collect()
    }
    qv = X[0]
    codes = {
        r["vec_id"]: r["pq_codes"]
        for r in enc.select("vec_id", "pq_codes").collect()
    }
    for vid in list(X)[:20]:
        if vid == 0:
            continue
        want = sum(
            float(((qv[j * 8:(j + 1) * 8] - codebooks[j][codes[vid][j]]) ** 2).sum())
            for j in range(8)
        )
        assert got[vid] == pytest.approx(want, abs=1e-5)


def test_pq_rerank_recall(emb, exact_top10):
    """Shortlist+rerank recall on the hardest case (near-random
    vectors): m=8, 64 codes, oversample 5 -> recall@10 >= 0.8."""
    _, exact = exact_top10
    codebooks, cb_df = similarity.pq_train(emb, dim=64, m=8, n_codes=64)
    enc = similarity.pq_encode(emb, codebooks)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.pq_topk_rerank(enc, cb_df, q, k=10, oversample=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recall = np.mean(
        [len(got[qid] & set(exact[qid])) / 10 for qid in range(5)]
    )
    assert recall >= 0.8
    # rerank scores are EXACT distances: top-1 must match brute force
    first = {
        r["qid"]: r["vec_id"] for r in out.collect() if r["rank"] == 1
    }
    hits = sum(1 for qid in range(5) if first[qid] == exact[qid][0])
    assert hits >= 4  # top-1 can only miss if ADC dropped it from the shortlist


def test_ivfpq_recall_rises_with_nprobe(emb, exact_top10):
    """IVF-PQ (residual product codes): recall must rise with nprobe
    and reach a sane floor at full probe — the coarse-quantizer routing
    must never LOSE candidates that the probe set covers."""
    from pyspark.sql import functions as F

    _, exact = exact_top10
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        emb, dim=64, n_clusters=8, m=8, n_codes=32
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    def recall(nprobe):
        out = similarity.ivfpq_topk(
            enc, cent_df, cb_df, q, k=10, nprobe=nprobe, oversample=5
        )
        got = {}
        for r in out.collect():
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        return np.mean(
            [len(got.get(i, set()) & set(exact[i])) / 10 for i in range(5)]
        )

    r2, r8 = recall(2), recall(8)
    assert r8 >= r2
    assert r8 >= 0.5  # random-vector fixture is PQ's hardest case


def test_ivfpq_codes_and_clusters(emb):
    from pyspark.sql import functions as F

    enc, cent_df, codebooks, _ = similarity.ivfpq_index(
        emb, dim=64, n_clusters=8, m=8, n_codes=32
    )
    assert cent_df.count() == 8
    row = enc.select("ivf_cluster", "pq_codes").first()
    assert 0 <= row["ivf_cluster"] < 8
    assert len(row["pq_codes"]) == 8
    assert all(0 <= c < 32 for c in row["pq_codes"])
    # every corpus row encoded exactly once
    assert enc.count() == emb.count()
    assert enc.select("vec_id").distinct().count() == emb.count()


def test_pq_encode_arrow_parity(emb):
    """The Arrow-batched encode (large-codebook path) must produce
    byte-identical codes to the literal-expression encode."""
    codebooks, _ = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    lit = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode(emb, codebooks)
        .select("vec_id", "pq_codes").collect()
    }
    arrow = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode_pandas(emb, codebooks)
        .select("vec_id", "pq_codes").collect()
    }
    assert lit == arrow


def test_pq_encode_null_vector_parity(spark, emb):
    """A NULL embedding must yield NULL codes (row KEPT) on both encode
    paths — the literal and Arrow variants must agree on degenerate
    input, not just the clean fixture."""
    from pyspark.sql import functions as F

    codebooks, _ = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    with_null = emb.limit(3).select(
        "vec_id",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    lit = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode(with_null, codebooks)
        .select("vec_id", "pq_codes").collect()
    }
    assert set(lit) == {0, 1, 2}
    assert lit[0] is None
    arrow = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode_pandas(with_null, codebooks)
        .select("vec_id", "pq_codes").collect()
    }
    assert arrow[0] is None and arrow == lit


def test_ivfpq_arrow_residual_encode_parity(spark, emb):
    """The in-UDF residual subtract (pq_encode_pandas(centroids=...),
    the r10 build/ingest hot path) must produce codes bit-identical to
    the former zip_with-materialized residual + Arrow encode (the r9
    shape) — numpy float64 subtraction computes the same IEEE-754
    residuals as the zip_with double subtraction. NULL vectors: NULL
    cluster -> NULL codes, row kept by the encoder."""
    base = emb.select(
        "vec_id",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
    resid = assigned.join(F.broadcast(cent_df), "ivf_cluster").withColumn(
        "_resid",
        F.zip_with(
            F.col("embedding"), F.col("centroid"),
            lambda x, c: x.cast("double") - c,
        ),
    ).drop("centroid")
    codebooks, _ = similarity.pq_train(
        resid, dim=64, m=8, n_codes=16, vec_col="_resid"
    )
    old_arrow = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode_pandas(
            resid, codebooks, vec_col="_resid"
        ).select("vec_id", "pq_codes").collect()
    }
    cent = similarity._centroids_from_df(cent_df)
    new = {
        r["vec_id"]: r["pq_codes"]
        for r in similarity.pq_encode_pandas(
            assigned, codebooks, centroids=cent
        ).select("vec_id", "pq_codes").collect()
    }
    # the NULL-vector row (dropped by resid's inner join) is kept by
    # the new path with NULL codes — compare it separately
    assert new.pop(0) is None
    assert new == old_arrow
    assert len(new) == emb.count() - 1


def test_pq_search_ignores_null_code_rows(spark, emb):
    """ADVICE r4: NULL-codes rows (NULL embeddings, kept by the encode
    contract) must never surface in search results — Spark's asc() is
    NULLS FIRST, so without the guard a NULL adc_d2 ranks 1 and
    displaces a real neighbor. Covers pq_adc_topk, the rerank shortlist
    it feeds, and ivfpq_topk; also pins that pq_train tolerates a NULL
    row in the training corpus (ADVICE r4 low: np.array raised)."""
    nulled = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    null_ids = {
        r["vec_id"]
        for r in nulled.filter(F.col("embedding").isNull()).collect()
    }
    assert null_ids, "fixture must contain NULL rows"
    # pq_train on a NULL-bearing corpus must not raise
    codebooks, cb_df = similarity.pq_train(nulled, dim=64, m=8, n_codes=16)
    enc = similarity.pq_encode(nulled, codebooks)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    adc = similarity.pq_adc_topk(enc, cb_df, q, k=10)
    adc_ids = {r["vec_id"] for r in adc.collect()}
    assert not (adc_ids & null_ids), "NULL-codes row surfaced in ADC top-k"
    assert adc.filter(F.col("adc_d2").isNull()).count() == 0
    # every query still gets a full k (NULL rows excluded, not ranked)
    per_q = {r["qid"] for r in adc.filter(F.col("rank") == 10).collect()}
    assert per_q == {0, 1, 2}

    rr = similarity.pq_topk_rerank(enc.withColumn(
        "embedding",
        F.when(F.col("vec_id").isin(list(null_ids)), F.lit(None)).otherwise(
            F.col("embedding")
        ),
    ), cb_df, q, k=5, oversample=3)
    rr_ids = {r["vec_id"] for r in rr.collect()}
    assert not (rr_ids & null_ids)

    enc2, cent_df, _, cb_df2 = similarity.ivfpq_index(
        nulled.filter(F.col("embedding").isNotNull()), dim=64,
        n_clusters=4, m=8, n_codes=16,
    )
    # splice the NULL rows back in with NULL cluster/codes (what a
    # full-corpus encode keeps around)
    null_rows = nulled.filter(F.col("embedding").isNull()).select(
        "vec_id", "embedding",
        F.lit(None).cast("int").alias("ivf_cluster"),
        F.lit(None).cast("array<int>").alias("pq_codes"),
    )
    enc_all = enc2.select(*null_rows.columns).unionByName(null_rows)
    ivf = similarity.ivfpq_topk(enc_all, cent_df, cb_df2, q, k=5, nprobe=4)
    ivf_ids = {r["vec_id"] for r in ivf.collect()}
    assert not (ivf_ids & null_ids)


def test_sq8_rerank_recall_and_shortlist_contract(spark, emb):
    """SQ8 shortlist+rerank: top-1 must match brute-force cosine top-1
    on the fixture (int8 quantization of 64-dim unit-ish vectors loses
    far less than the top-1 margin), every returned row's cosine must
    be the exact full-precision value, and rank must be dense 1..k."""
    from automated_data_pipeline_spark.functions.vectors import (
        cosine_rounded_safe,
    )

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = similarity.sq8_topk_rerank(emb, q, k=5, oversample=4).collect()
    assert len(got) == 15
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    brute = similarity.cosine_topk(emb, q, k=1)
    top1 = {r["qid"]: r["vec_id"] for r in brute.collect()}
    for qid, rows in by_q.items():
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert rows[0]["vec_id"] == top1[qid], qid
        # exact re-rank: cosine values are the true full-float ones
        pair = emb.filter(F.col("vec_id") == rows[0]["vec_id"]).crossJoin(
            q.filter(F.col("qid") == qid)
        ).select(
            cosine_rounded_safe(F.col("embedding"), F.col("qe")).alias("c")
        ).first()
        assert abs(pair["c"] - rows[0]["cosine"]) < 1e-9


def test_sq8_rerank_skips_null_vectors(spark, emb):
    nulled = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = similarity.sq8_topk_rerank(nulled, q, k=5, oversample=4).collect()
    assert got and all(r["vec_id"] % 7 != 0 for r in got)


def test_sq8_rerank_skips_null_query_vectors(spark, emb):
    """A NULL query vector must be skipped like a NULL corpus vector
    (review r8: an unguarded None crashed the int64 Arrow conversion)."""
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"),
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("qe"),
    )
    got = similarity.sq8_topk_rerank(emb, q, k=5, oversample=4).collect()
    assert got and {r["qid"] for r in got} == {1}
