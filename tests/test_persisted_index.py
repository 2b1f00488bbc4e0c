"""Persisted-index twins for PQ and SQ8 (VERDICT r8 item 4): at
100 TB nobody re-trains a codebook or re-encodes the corpus per query
batch — the index is written once and query batches pay only the
query path. These tests pin write -> read -> query round-trip parity
with the in-session pipelines (same answer, same columns), plus the
storage contracts (codes-only tables; re-rank vectors come from the
corpus, not the index).

The IVF counterpart (write_ivf_index / ivf_topk_persisted) predates
this file and is pinned by tests/test_scale_plans.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators import similarity
from automated_data_pipeline_spark.suite import load

SF_ORACLE = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_ORACLE, "embeddings")


@pytest.fixture(scope="module")
def queries3(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sq8_persisted_matches_in_session(spark, emb, queries3, tmp_path):
    path = str(tmp_path / "sq8_idx")
    similarity.write_sq8_index(emb, path)
    in_session = similarity.sq8_topk_rerank(emb, queries3, k=5, oversample=4)
    persisted = similarity.sq8_topk_rerank_persisted(
        spark, path, emb, queries3, k=5, oversample=4
    )
    assert persisted.columns == in_session.columns
    assert _rows(persisted) == _rows(in_session)
    # the index is codes-only: the full-precision vectors are NOT in
    # the artifact (they'd quadruple it and defeat the point)
    stored = spark.read.parquet(f"{path}/codes")
    assert set(stored.columns) == {"vec_id", "sq8_codes"}


def test_pq_persisted_matches_in_session(spark, emb, queries3, tmp_path):
    path = str(tmp_path / "pq_idx")
    codebooks, cb_df = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    enc = similarity.pq_encode_pandas(emb, codebooks)
    similarity.write_pq_index(enc, cb_df, path)
    in_session = similarity.pq_topk_rerank(
        enc, cb_df, queries3, k=5, oversample=4
    )
    persisted = similarity.pq_topk_rerank_persisted(
        spark, path, emb, queries3, k=5, oversample=4
    )
    assert persisted.columns == in_session.columns
    assert _rows(persisted) == _rows(in_session)
    stored = spark.read.parquet(f"{path}/codes")
    assert set(stored.columns) == {"vec_id", "pq_codes"}
    # codebook round-trips exactly (m * n_codes rows)
    cb_back = spark.read.parquet(f"{path}/codebook")
    assert _rows(cb_back) == _rows(cb_df)


def test_pq_persisted_null_vectors_stay_unsearchable(spark, tmp_path):
    # a NULL embedding is a legal corpus row: encoded with NULL codes,
    # excluded from ADC candidates, and absent from any result —
    # persisting must preserve that (parquet round-trips the NULL)
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    codebooks, cb_df = similarity.pq_train(df, dim=2, m=1, n_codes=2)
    enc = similarity.pq_encode_pandas(df, codebooks)
    path = str(tmp_path / "pq_null_idx")
    similarity.write_pq_index(enc, cb_df, path)
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.pq_topk_rerank_persisted(
        spark, path, df, q, k=3, oversample=2
    )
    got_ids = {r["vec_id"] for r in out.collect()}
    assert 2 not in got_ids and 0 not in got_ids
    assert got_ids == {1, 3}


def test_ivfpq_persisted_matches_in_session(spark, emb, queries3, tmp_path):
    path = str(tmp_path / "ivfpq_idx")
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        emb, dim=64, n_clusters=8, m=8, n_codes=16
    )
    enc = enc.localCheckpoint(eager=True)  # one encode for both paths
    similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
    in_session = similarity.ivfpq_topk(
        enc, cent_df, cb_df, queries3, k=5, nprobe=3, oversample=4
    )
    persisted = similarity.ivfpq_topk_persisted(
        spark, path, emb, queries3, k=5, nprobe=3, oversample=4
    )
    assert persisted.columns == in_session.columns
    assert _rows(persisted) == _rows(in_session)
    # the persisted corpus is codes-only and cluster-partitioned
    stored = spark.read.parquet(f"{path}/corpus")
    assert set(stored.columns) == {"vec_id", "pq_codes", "ivf_cluster"}



def test_ivfpq_persisted_reuses_pinned_probes(spark, emb, queries3, tmp_path):
    # the probes are pinned once to collect the probed clusters; the
    # search must run on that pinned frame, not rank the centroids
    # again inside the result's plan
    import re

    path = str(tmp_path / "ivfpq_pinned")
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        emb, dim=64, n_clusters=8, m=8, n_codes=16
    )
    similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
    out = similarity.ivfpq_topk_persisted(
        spark, path, emb, queries3, k=5, nprobe=2, oversample=4
    )

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    centroid_scan = plan(spark.read.parquet(f"{path}/centroids")).strip()
    assert centroid_scan.startswith("Relation [")
    assert centroid_scan not in plan(out)
    assert "qc_d2" not in plan(out)

def test_ivfpq_persisted_codes_scan_is_partition_pruned(
    spark, emb, queries3, tmp_path
):
    path = str(tmp_path / "ivfpq_prune")
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        emb, dim=64, n_clusters=8, m=8, n_codes=16
    )
    similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
    # the codes read ivfpq_topk_persisted builds (cluster isin filter
    # over the partitioned corpus) must prune to the probed
    # ivf_cluster= directories — PartitionFilters in the scan node,
    # and only those partitions' rows arrive
    codes = spark.read.parquet(f"{path}/corpus").filter(
        F.col("ivf_cluster").isin([1, 3])
    )
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan
    want = enc.filter(F.col("ivf_cluster").isin([1, 3])).count()
    assert codes.count() == want > 0
    # and the full persisted query returns k rows per query
    out = similarity.ivfpq_topk_persisted(
        spark, path, emb, queries3, k=5, nprobe=2, oversample=4
    )
    counts = {r["qid"]: r["n"] for r in out.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 5, 1: 5, 2: 5}


def test_ivf_append_assigns_with_frozen_centroids(spark, emb, tmp_path):
    # incremental ingest: append must (a) leave the centroid table
    # byte-identical, (b) give every new row the argmin cluster under
    # those FROZEN centroids, (c) leave the union queryable — and a
    # full-probe query over the grown index equals one over an index
    # built from the union with the same centroids (the seam itself
    # adds/loses/moves nothing)
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
    path = str(tmp_path / "ivf_grow")
    similarity.write_ivf_index(assigned, cent_df, path)
    cent_before = _rows(spark.read.parquet(f"{path}/centroids"))
    similarity.append_to_ivf_index(spark, path, delta)
    assert _rows(spark.read.parquet(f"{path}/centroids")) == cent_before

    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == emb.count()
    # delta rows carry the same cluster direct assignment would give
    cent = [r["centroid"] for r in spark.read.parquet(
        f"{path}/centroids").orderBy("ivf_cluster").collect()]
    want = delta.withColumn(
        "ivf_cluster", similarity._argmin_centroid_udf(cent)(F.col("embedding"))
    ).select("vec_id", "ivf_cluster")
    got = corpus.join(delta.select("vec_id"), "vec_id").select(
        "vec_id", "ivf_cluster"
    )
    assert _rows(got) == _rows(want)

    # query parity: grown index == union index under the same centroids
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    union_path = str(tmp_path / "ivf_union")
    union_assigned = emb.withColumn(
        "ivf_cluster", similarity._argmin_centroid_udf(cent)(F.col("embedding"))
    )
    similarity.write_ivf_index(union_assigned, cent_df, union_path)
    grown = similarity.ivf_topk_persisted(spark, path, q, k=5, nprobe=8)
    union = similarity.ivf_topk_persisted(spark, union_path, q, k=5, nprobe=8)
    assert _rows(grown) == _rows(union)


def test_ivf_append_rejects_noncontiguous_cluster_ids(spark, tmp_path):
    # positional argmin is only sound for 0..n-1 ids — a doctored
    # centroid table must fail loudly, not misassign silently
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    path = str(tmp_path / "ivf_bad")
    cent_df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])],
        "ivf_cluster int, centroid array<double>",
    )
    assigned = df.withColumn("ivf_cluster", F.col("vec_id") * 2)
    similarity.write_ivf_index(assigned, cent_df, path)
    with pytest.raises(AssertionError, match="non-contiguous"):
        similarity.append_to_ivf_index(spark, path, df)


def test_read_probed_rejects_more_clusters_than_centroids(spark, tmp_path):
    # the cluster collect is bounded by the index's centroid count; a
    # probe frame naming more clusters fails instead of collecting them
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    cent_df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "ivf_cluster int, centroid array<double>",
    )
    path = str(tmp_path / "ivf_wide")
    similarity.write_ivf_index(df.withColumn("ivf_cluster", F.col("vec_id")), cent_df, path)
    wide = spark.createDataFrame(
        [(q, [1.0, 0.0], c) for q in range(2) for c in range(3)],
        "qid int, qe array<double>, ivf_cluster int",
    )
    with pytest.raises(ValueError, match="more clusters than the index's 2"):
        similarity._read_probed(spark, path, wide, 2)
    _, rows = similarity._read_probed(
        spark, path, wide.filter(F.col("ivf_cluster") < 2), 2
    )
    assert sorted(r["vec_id"] for r in rows.collect()) == [0, 1]


def test_sq8_append_grown_equals_rebuilt(spark, emb, queries3, tmp_path):
    # SQ8 quantization is per-row (own max-abs scale), so a grown
    # index is BIT-IDENTICAL to one rebuilt over the union — the
    # strongest grown==rebuilt claim of the three append families
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    grown, rebuilt = str(tmp_path / "g"), str(tmp_path / "r")
    similarity.write_sq8_index(base, grown)
    similarity.append_to_sq8_index(spark, grown, delta)
    similarity.write_sq8_index(emb, rebuilt)
    assert _rows(spark.read.parquet(f"{grown}/codes")) == _rows(
        spark.read.parquet(f"{rebuilt}/codes")
    )
    g = similarity.sq8_topk_rerank_persisted(
        spark, grown, emb, queries3, k=5, oversample=4
    )
    r = similarity.sq8_topk_rerank_persisted(
        spark, rebuilt, emb, queries3, k=5, oversample=4
    )
    assert _rows(g) == _rows(r)


def test_pq_append_encodes_with_frozen_codebook(spark, emb, queries3, tmp_path):
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    codebooks, cb_df = similarity.pq_train(base, dim=64, m=8, n_codes=16)
    path = str(tmp_path / "pq_grow")
    similarity.write_pq_index(
        similarity.pq_encode_pandas(base, codebooks), cb_df, path
    )
    cb_before = _rows(spark.read.parquet(f"{path}/codebook"))
    similarity.append_to_pq_index(spark, path, delta)
    # codebook untouched; the reconstruction helper round-trips it
    assert _rows(spark.read.parquet(f"{path}/codebook")) == cb_before
    books = similarity._codebooks_from_df(cb_df)
    import numpy as np
    for got, want in zip(books, codebooks):
        assert np.array_equal(np.asarray(got), np.asarray(want))
    # grown codes == encoding the union with the SAME (frozen) codebook
    want_codes = _rows(
        similarity.pq_encode_pandas(emb, codebooks).select("vec_id", "pq_codes")
    )
    got_codes = _rows(spark.read.parquet(f"{path}/codes"))
    assert got_codes == want_codes
    # and the query path sees the appended rows
    out = similarity.pq_topk_rerank_persisted(
        spark, path, emb, queries3, k=5, oversample=4
    )
    in_session = similarity.pq_topk_rerank(
        similarity.pq_encode_pandas(emb, codebooks), cb_df, queries3,
        k=5, oversample=4,
    )
    assert _rows(out) == _rows(in_session)


def test_ivfpq_append_assign_and_encode_frozen(spark, emb, queries3, tmp_path):
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    enc, cent_df, codebooks, cb_df = similarity.ivfpq_index(
        base, dim=64, n_clusters=8, m=8, n_codes=16
    )
    path = str(tmp_path / "ivfpq_grow")
    similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
    cent_before = _rows(spark.read.parquet(f"{path}/centroids"))
    cb_before = _rows(spark.read.parquet(f"{path}/codebook"))
    similarity.append_to_ivfpq_index(spark, path, delta)
    # both quantizers untouched
    assert _rows(spark.read.parquet(f"{path}/centroids")) == cent_before
    assert _rows(spark.read.parquet(f"{path}/codebook")) == cb_before
    # grown corpus == the assign -> residual -> encode pipeline run
    # over the union with the SAME frozen quantizers
    cent = [r["centroid"] for r in spark.read.parquet(
        f"{path}/centroids").orderBy("ivf_cluster").collect()]
    assigned = emb.withColumn(
        "ivf_cluster", similarity._argmin_centroid_udf(cent)(F.col("embedding"))
    )
    resid = assigned.join(F.broadcast(cent_df), "ivf_cluster").withColumn(
        "_resid",
        F.zip_with(F.col("embedding"), F.col("centroid"),
                   lambda x, c: x.cast("double") - c),
    ).drop("centroid")
    want = _rows(
        similarity.pq_encode_pandas(resid, codebooks, vec_col="_resid")
        .select("vec_id", "ivf_cluster", "pq_codes")
    )
    got = _rows(
        spark.read.parquet(f"{path}/corpus")
        .select("vec_id", "ivf_cluster", "pq_codes")
    )
    assert got == want
    # and the pruned query path sees appended rows (k per query)
    out = similarity.ivfpq_topk_persisted(
        spark, path, emb, queries3, k=5, nprobe=3, oversample=4
    )
    counts = {r["qid"]: r["n"] for r in out.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 5, 1: 5, 2: 5}


def test_grown_index_recall_tracks_rebuilt(spark, emb):
    """The frozen-quantizer trade quantified: appended vectors are
    routed by centroids trained WITHOUT them, so a grown index's
    recall at partial probe may trail an index rebuilt on the union —
    but it must trail by little (the vectors are still resident and
    exactly re-ranked; only routing quality differs). Deterministic
    fixture + seeded k-means -> exact reproducible recalls."""
    import tempfile as _tf

    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    truth = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }

    def recall(path):
        got = {
            (r["qid"], r["vec_id"])
            for r in similarity.ivf_topk_persisted(
                spark, path, q, k=5, nprobe=2
            ).collect()
        }
        return len(got & truth) / len(truth)

    work = _tf.mkdtemp(prefix="recall_grown_")
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8)
    similarity.write_ivf_index(assigned, cent_df, f"{work}/grown")
    similarity.append_to_ivf_index(spark, f"{work}/grown", delta)
    assigned_u, cent_u = similarity.ivf_index(emb, n_clusters=8)
    similarity.write_ivf_index(assigned_u, cent_u, f"{work}/rebuilt")

    r_grown, r_rebuilt = recall(f"{work}/grown"), recall(f"{work}/rebuilt")
    # useful at partial probe, and within a small margin of a rebuild
    assert r_grown >= 0.5, r_grown
    assert r_grown >= r_rebuilt - 0.15, (r_grown, r_rebuilt)


def test_bench_build_memo_is_value_transparent(spark, monkeypatch):
    """r11 (VERDICT r10 item 8): under SPARK_GRAFT_ANN_REUSE_BUILD=1
    (bench-only) a witness query's second call skips the index-build
    lineage and must return EXACTLY the first call's values; without
    the flag no stamp is ever written (gate runs keep full
    independent lineage)."""
    import os

    from automated_data_pipeline_spark.suite import all_specs
    from automated_data_pipeline_spark.suite.round9 import _index_path

    sf = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"
    fn = {s.name: s.fn for s in all_specs()}["ann_ivfpq_append_exact"]
    stamp = os.path.join(_index_path("ivfpq_append"), ".bench_build_stamp")
    if os.path.exists(stamp):
        os.remove(stamp)

    # gate mode: no flag -> no stamp
    monkeypatch.delenv("SPARK_GRAFT_ANN_REUSE_BUILD", raising=False)
    fn(spark, sf).count()
    assert not os.path.exists(stamp)

    monkeypatch.setenv("SPARK_GRAFT_ANN_REUSE_BUILD", "1")
    first = sorted(tuple(r) for r in fn(spark, sf).collect())  # builds+stamps
    assert os.path.exists(stamp)
    again = sorted(tuple(r) for r in fn(spark, sf).collect())  # reuses
    assert again == first
    os.remove(stamp)
