"""ANN index deletion + generation cutover (operators/index_lifecycle.py):
tombstoned vectors vanish from every family's persisted query the
moment the tombstone lands, are physically purged by the unified
compactor (which bounds file counts for all four layouts), and a
generation rebuild retrains fresh quantizers, drops tombstones and
drift history, and cuts over under the two-rename crash discipline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators import similarity
from automated_data_pipeline_spark.operators.index_lifecycle import (
    add_tombstones,
    compact_index,
    read_tombstones,
    rebuild_if_drifted,
    rebuild_index_generation,
)
from automated_data_pipeline_spark.suite import load

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"
DEAD = [3, 13, 23, 33, 43]  # deterministic deletion set


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


@pytest.fixture(scope="module")
def queries3(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )


def _data_files(path, sub):
    out = []
    for root, _d, files in os.walk(f"{path}/{sub}"):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _pairs(df):
    return {(r["qid"], r["vec_id"]) for r in df.collect()}


# ---------------------------------------------------------- deletion


def test_ivf_tombstones_effective_at_query_time(spark, emb, queries3, tmp_path):
    """The core remove_ids contract: after add_tombstones, a full-probe
    persisted query answers EXACTLY brute force over the live set —
    deleted vectors neither surface nor displace anyone."""
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    add_tombstones(spark, path, DEAD)
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    live = emb.filter(~F.col("vec_id").isin(DEAD))
    want = similarity.cosine_topk(live, queries3, k=5)
    assert _pairs(got) == _pairs(want)
    assert not {v for _, v in _pairs(got)} & set(DEAD)


def test_tombstoned_top_neighbor_is_replaced_not_blanked(
    spark, emb, queries3, tmp_path
):
    """Tombstone each query's CURRENT top-1 neighbor: the next query
    must still return k full rows, with the dead id replaced by the
    runner-up — the anti-join runs before the shortlist rank, so a
    dead row cannot burn a slot."""
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    first = similarity.ivf_topk_persisted(spark, path, queries3, k=1, nprobe=8)
    top1 = sorted({r["vec_id"] for r in first.collect()})
    add_tombstones(spark, path, top1)
    after = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    rows = after.collect()
    assert sorted(
        (r["qid"], r["rank"]) for r in rows
    ) == [(q, r) for q in range(3) for r in range(1, 6)]
    assert not {r["vec_id"] for r in rows} & set(top1)


def test_tombstones_apply_to_all_code_families(spark, emb, queries3, tmp_path):
    """sq8 / pq / ivfpq persisted queries all anti-join the store: the
    answer equals the same query over an index whose code table was
    FILTERED to the live rows (same frozen quantizers both sides)."""
    live_pred = ~F.col("vec_id").isin(DEAD)

    # --- sq8
    p = str(tmp_path / "sq8")
    similarity.write_sq8_index(emb, p)
    add_tombstones(spark, p, DEAD)
    got = similarity.sq8_topk_rerank_persisted(
        spark, p, emb, queries3, k=5, oversample=4
    )
    want = similarity.sq8_topk_rerank(
        emb.filter(live_pred), queries3, k=5, oversample=4
    )
    assert _pairs(got) == _pairs(want) and not (
        {v for _, v in _pairs(got)} & set(DEAD)
    )

    # --- pq (codebook trained on the FULL corpus both sides)
    codebooks, cb_df = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    enc = similarity.pq_encode_pandas(emb, codebooks)
    p = str(tmp_path / "pq")
    similarity.write_pq_index(enc, cb_df, p)
    add_tombstones(spark, p, DEAD)
    got = similarity.pq_topk_rerank_persisted(
        spark, p, emb, queries3, k=5, oversample=4
    )
    want = similarity.pq_topk_rerank(
        enc.filter(live_pred), cb_df, queries3, k=5, oversample=4,
        vectors=emb,
    )
    assert _pairs(got) == _pairs(want) and not (
        {v for _, v in _pairs(got)} & set(DEAD)
    )

    # --- ivfpq
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        emb, dim=64, n_clusters=8, m=8, n_codes=16, max_iter=1
    )
    p = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(enc, cent_df, cb_df, p)
    add_tombstones(spark, p, DEAD)
    got = similarity.ivfpq_topk_persisted(
        spark, p, emb, queries3, k=5, nprobe=8, oversample=4
    )
    want = similarity.ivfpq_topk(
        enc.filter(live_pred), cent_df, cb_df, queries3, k=5, nprobe=8,
        oversample=4, vectors=emb,
    )
    assert _pairs(got) == _pairs(want) and not (
        {v for _, v in _pairs(got)} & set(DEAD)
    )


def test_duplicate_tombstones_merge_idempotently(spark, emb, tmp_path):
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    add_tombstones(spark, path, DEAD)
    add_tombstones(spark, path, DEAD)  # replayed batch: harmless
    add_tombstones(spark, path, DEAD[:2])
    tombs = read_tombstones(spark, path)
    assert sorted(r["vec_id"] for r in tombs.collect()) == DEAD


# -------------------------------------------------------- compaction


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "pq", "sq8"])
def test_compact_purges_tombstones_and_bounds_files(
    spark, emb, queries3, family, tmp_path
):
    """The unified compactor, per family: after appends pile up small
    files, compact_index (a) bounds the file count, (b) physically
    removes tombstoned rows, (c) clears the tombstone store, and (d)
    leaves query answers identical to the pre-compact (anti-joined)
    ones."""
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / family)
    if family == "ivf":
        assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
        similarity.write_ivf_index(assigned, cent_df, path)
        sub = "corpus"
    elif family == "ivfpq":
        enc, cent_df, _, cb_df = similarity.ivfpq_index(
            base, dim=64, n_clusters=8, m=8, n_codes=16, max_iter=1
        )
        similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
        sub = "corpus"
    elif family == "pq":
        codebooks, cb_df = similarity.pq_train(base, dim=64, m=8, n_codes=16)
        similarity.write_pq_index(
            similarity.pq_encode_pandas(base, codebooks), cb_df, path
        )
        sub = "codes"
    else:
        similarity.write_sq8_index(base, path)
        sub = "codes"

    appenders = {
        "ivf": lambda d: similarity.append_to_ivf_index(spark, path, d),
        "ivfpq": lambda d: similarity.append_to_ivfpq_index(spark, path, d),
        "pq": lambda d: similarity.append_to_pq_index(spark, path, d),
        "sq8": lambda d: similarity.append_to_sq8_index(spark, path, d),
    }
    for i in range(4):
        appenders[family](delta.filter(F.col("vec_id") % 16 == 4 * i))
    add_tombstones(spark, path, DEAD)

    def query():
        if family == "ivf":
            return similarity.ivf_topk_persisted(
                spark, path, queries3, k=5, nprobe=8
            )
        if family == "ivfpq":
            return similarity.ivfpq_topk_persisted(
                spark, path, emb, queries3, k=5, nprobe=8, oversample=4
            )
        if family == "pq":
            return similarity.pq_topk_rerank_persisted(
                spark, path, emb, queries3, k=5, oversample=4
            )
        return similarity.sq8_topk_rerank_persisted(
            spark, path, emb, queries3, k=5, oversample=4
        )

    before = _pairs(query())
    n_files_before = len(_data_files(path, sub))
    compact_index(spark, path, family, files_per_cluster=1, n_files=2)
    files = _data_files(path, sub)
    assert len(files) < n_files_before
    if sub == "corpus":
        by_dir: dict = {}
        for f in files:
            by_dir.setdefault(os.path.dirname(f), []).append(f)
        assert all(len(v) == 1 for v in by_dir.values())
    else:
        assert len(files) <= 2
    data = spark.read.parquet(f"{path}/{sub}")
    assert data.filter(F.col("vec_id").isin(DEAD)).count() == 0
    assert not os.path.isdir(f"{path}/tombstones")  # store cleared
    assert data.count() == emb.count() - len(DEAD)
    assert _pairs(query()) == before


def test_compact_rejects_unknown_family(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown index family"):
        compact_index(spark, str(tmp_path), "hnsw")


def test_crash_between_swap_and_tombstone_clear_is_harmless(
    spark, emb, queries3, tmp_path
):
    """The one compaction window the two-rename swap does not cover:
    corpus swapped (tombstones already purged from rows) but the store
    not yet cleared. Queries anti-join ids that are already absent —
    answers identical; the NEXT compaction clears the store."""
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    add_tombstones(spark, path, DEAD)
    want = _pairs(
        similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    )
    # run the purge exactly as compact_index does, minus the clear
    live = spark.read.parquet(f"{path}/corpus").join(
        F.broadcast(read_tombstones(spark, path)), "vec_id", "left_anti"
    )
    tmp = f"{path}/corpus.compact"
    live.repartition(F.col("ivf_cluster")).write.mode("overwrite").partitionBy(
        "ivf_cluster"
    ).parquet(tmp)
    os.rename(f"{path}/corpus", f"{path}/corpus.old")
    os.rename(tmp, f"{path}/corpus")
    import shutil

    shutil.rmtree(f"{path}/corpus.old")
    # crash here: store still present, ids already gone from the rows
    assert os.path.isdir(f"{path}/tombstones")
    got = _pairs(
        similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    )
    assert got == want
    compact_index(spark, path, "ivf")  # next maintenance clears it
    assert not os.path.isdir(f"{path}/tombstones")


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "pq", "sq8"])
def test_needs_compaction_trigger(spark, emb, family, tmp_path):
    """The cadence check: a freshly-built index is under the bound; a
    pile of tiny appends crosses it; compaction brings it back under.
    The ivf case is the original test; the other families exercise the
    ivfpq corpus and the flat families' codes directory lookup."""
    from automated_data_pipeline_spark.operators.index_lifecycle import (
        needs_compaction,
    )

    path = str(tmp_path / "idx")
    if family == "ivf":
        assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
        similarity.write_ivf_index(assigned, cent_df, path)
        sub = "corpus"
        append = similarity.append_to_ivf_index
    elif family == "ivfpq":
        enc, cent_df, _, cb_df = similarity.ivfpq_index(
            emb, dim=64, n_clusters=8, m=8, n_codes=16, max_iter=1
        )
        similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
        sub = "corpus"
        append = similarity.append_to_ivfpq_index
    elif family == "pq":
        codebooks, cb_df = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
        similarity.write_pq_index(
            similarity.pq_encode_pandas(emb, codebooks), cb_df, path
        )
        sub = "codes"
        append = similarity.append_to_pq_index
    else:
        similarity.write_sq8_index(emb, path)
        sub = "codes"
        append = similarity.append_to_sq8_index
    base_files = len(_data_files(path, sub))
    for i in range(4):
        delta = emb.filter(F.col("vec_id") % 16 == 4 * i)
        if sub == "codes":  # a flat append lands one file per partition
            delta = delta.repartition(4)
        append(spark, path, delta)
    assert needs_compaction(path, family, max_files=base_files + 8)
    compact_index(spark, path, family)
    assert not needs_compaction(path, family, max_files=base_files + 8)
    with pytest.raises(ValueError, match="unknown index family"):
        needs_compaction(path, "flat")


def test_streaming_tombstone_feed(spark, emb, queries3, tmp_path):
    """Opt-out ids arriving as a stream: after the feed drains, the
    persisted query answers over the live set; a REPLAYED feed file
    (duplicate ids) changes nothing — distinct-is-merge needs no
    ledger."""
    import json as _json

    from automated_data_pipeline_spark.operators.index_lifecycle import (
        start_incremental_tombstones,
    )

    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    src = str(tmp_path / "optout")
    os.makedirs(src, exist_ok=True)
    for i, ids in enumerate([DEAD[:3], DEAD[3:] + DEAD[:1]]):  # overlap
        with open(os.path.join(src, f"f{i}.json"), "w") as f:
            for v in ids:
                f.write(_json.dumps({"vec_id": v}) + "\n")
    q = start_incremental_tombstones(
        spark, src, path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert sorted(
        r["vec_id"] for r in read_tombstones(spark, path).collect()
    ) == DEAD
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    live = emb.filter(~F.col("vec_id").isin(DEAD))
    assert _pairs(got) == _pairs(similarity.cosine_topk(live, queries3, k=5))


def test_trim_keeps_tombstones_not_applied_by_the_rewrite(
    spark, emb, queries3, tmp_path
):
    """The r10 review's race, pinned at the mechanism: the post-swap
    store trim removes ONLY the ids the rewrite actually anti-joined
    (the pinned entry snapshot) — an id that landed during the job
    survives the trim and keeps applying at query time."""
    from automated_data_pipeline_spark.operators.index_lifecycle import (
        _trim_tombstones,
    )

    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    add_tombstones(spark, path, DEAD)
    late = [100, 101]
    add_tombstones(spark, path, late)  # "landed during the rewrite"
    applied = spark.createDataFrame([(int(i),) for i in DEAD], "vec_id bigint")
    _trim_tombstones(spark, path, applied)
    left = sorted(r["vec_id"] for r in read_tombstones(spark, path).collect())
    assert left == late
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    assert not {r["vec_id"] for r in got.collect()} & set(late)
    # and a trim where everything was applied drops the store entirely
    _trim_tombstones(
        spark, path,
        spark.createDataFrame([(int(i),) for i in late], "vec_id bigint"),
    )
    assert not os.path.isdir(f"{path}/tombstones")


def test_rebuild_carries_tombstones_that_land_mid_build(
    spark, emb, queries3, tmp_path, monkeypatch
):
    """The rebuild twin of the trim race: an opt-out arriving while
    the (at scale, hours-long) generation build runs must survive the
    cutover — carried into the new generation's store and applied at
    query time — even though the new corpus was trained before it
    landed."""
    from automated_data_pipeline_spark.operators import index_lifecycle as IL

    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    add_tombstones(spark, path, DEAD)
    late = [7, 11]
    real_ivf_index = similarity.ivf_index

    def slow_build(*a, **kw):
        out = real_ivf_index(*a, **kw)
        add_tombstones(spark, path, late)  # lands mid-build
        return out

    monkeypatch.setattr(IL.similarity, "ivf_index", slow_build)
    rebuild_index_generation(spark, path, emb, "ivf", n_clusters=8, max_iter=1)
    # entry set physically gone AND absent from the carried store
    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.filter(F.col("vec_id").isin(DEAD)).count() == 0
    carried = sorted(r["vec_id"] for r in read_tombstones(spark, path).collect())
    assert carried == late
    # the late ids are still IN the corpus (built before they landed)
    # but the query-time anti-join hides them
    assert corpus.filter(F.col("vec_id").isin(late)).count() == len(late)
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    live = emb.filter(~F.col("vec_id").isin(DEAD + late))
    assert _pairs(got) == _pairs(similarity.cosine_topk(live, queries3, k=5))


def test_rebuild_stamps_build_key_on_flat_families(spark, emb, tmp_path):
    """r10 review: pq/sq8 rebuilds must stamp batch_key='build' like
    ivf/ivfpq do, or a rebuilt base violates the uniform schema the
    streaming replay probe requires."""
    codebooks, cb_df = similarity.pq_train(emb, dim=64, m=8, n_codes=16)
    path = str(tmp_path / "pq")
    similarity.write_pq_index(
        similarity.pq_encode_pandas(emb, codebooks), cb_df, path
    )
    rebuild_index_generation(spark, path, emb, "pq", dim=64, m=8, n_codes=16)
    codes = spark.read.parquet(f"{path}/codes")
    assert set(codes.columns) == {"vec_id", "pq_codes", "batch_key"}
    keys = {r["batch_key"] for r in codes.select("batch_key").distinct().collect()}
    assert keys == {"build"}
    s_path = str(tmp_path / "sq8")
    similarity.write_sq8_index(emb, s_path)
    rebuild_index_generation(spark, s_path, emb, "sq8")
    sc = spark.read.parquet(f"{s_path}/codes")
    assert "batch_key" in sc.columns


def test_maintenance_entry_points_heal_a_parked_index(spark, emb, tmp_path):
    """r10 review: needs_compaction and rebuild_if_drifted must heal a
    crashed generation swap FIRST — a parked index otherwise reads as
    'empty / no drift' forever and the healing call never fires."""
    from automated_data_pipeline_spark.operators.index_lifecycle import (
        needs_compaction,
    )
    from automated_data_pipeline_spark.streaming.ann_ingest import (
        record_drift,
        write_ivf_index_for_ingest,
    )

    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    write_ivf_index_for_ingest(assigned, cent_df, path)
    record_drift(spark, path, emb, "build")
    shifted = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(5.0))
    )
    record_drift(spark, path, shifted, "b1")  # flagged drift
    os.rename(path, path + ".old")  # crashed swap window
    assert needs_compaction(path, "ivf", max_files=0)  # healed + counted
    assert os.path.isdir(path) and not os.path.isdir(path + ".old")
    os.rename(path, path + ".old")
    assert rebuild_if_drifted(
        spark, path, emb, "ivf", n_clusters=8, max_iter=1
    ) is True  # healed, saw the flag, rebuilt
    assert os.path.isdir(path)


# ------------------------------------------------- generation rebuild


def test_rebuild_generation_retrains_purges_and_resets(
    spark, emb, queries3, tmp_path
):
    """Full cutover: fresh quantizers over corpus-minus-tombstones,
    every row re-stamped 'build', tombstone store and drift history
    gone, fresh drift baseline recorded, answers exact over the live
    set."""
    from automated_data_pipeline_spark.streaming.ann_ingest import (
        drift_report,
        record_drift,
        write_ivf_index_for_ingest,
    )

    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    write_ivf_index_for_ingest(assigned, cent_df, path)
    record_drift(spark, path, base, "build")
    similarity.append_to_ivf_index(
        spark, path, delta.withColumn("batch_key", F.lit("b0"))
    )
    record_drift(spark, path, delta, "b0")
    add_tombstones(spark, path, DEAD)

    rebuild_index_generation(
        spark, path, emb, "ivf", n_clusters=8, max_iter=1
    )
    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == emb.count() - len(DEAD)
    assert corpus.filter(F.col("vec_id").isin(DEAD)).count() == 0
    keys = {r["batch_key"] for r in corpus.select("batch_key").distinct().collect()}
    assert keys == {"build"}
    assert not os.path.isdir(f"{path}/tombstones")
    # drift history reset to the new generation's baseline only
    rep = drift_report(spark, path).collect()
    assert [r["batch_key"] for r in rep] == ["build"]
    assert rep[0]["drift_flag"] is False and rep[0]["build_p90_d2"] is not None
    # and the new generation answers exactly over the live set
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    live = emb.filter(~F.col("vec_id").isin(DEAD))
    assert _pairs(got) == _pairs(similarity.cosine_topk(live, queries3, k=5))


def test_rebuild_ivfpq_generation(spark, emb, queries3, tmp_path):
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        emb.filter(F.col("vec_id") % 4 != 0), dim=64, n_clusters=8, m=8,
        n_codes=16, max_iter=1,
    )
    path = str(tmp_path / "idx")
    similarity.write_ivfpq_index(enc, cent_df, cb_df, path)
    add_tombstones(spark, path, DEAD)
    rebuild_index_generation(
        spark, path, emb, "ivfpq", dim=64, n_clusters=8, m=8, n_codes=16,
        max_iter=1,
    )
    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == emb.count() - len(DEAD)
    assert set(corpus.columns) == {
        "vec_id", "pq_codes", "batch_key", "ivf_cluster"
    }
    # exact full-probe answer over the live set (shortlist covers all)
    n_live = emb.count() - len(DEAD)
    out = similarity.ivfpq_topk_persisted(
        spark, path, emb, queries3, k=5, nprobe=8,
        oversample=-(-n_live // 5),
    )
    import numpy as np

    X = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    for qid in range(3):
        want = sorted(
            (float(((v - X[qid]) ** 2).sum()), vid)
            for vid, v in X.items() if vid != qid and vid not in DEAD
        )[:5]
        got = sorted(
            (r["rank"], r["vec_id"]) for r in out.collect() if r["qid"] == qid
        )
        assert [v for _, v in got] == [vid for _, vid in want]


def test_rebuild_requires_dim_for_pq_families(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="dim is required"):
        rebuild_index_generation(spark, str(tmp_path), emb, "ivfpq")
    with pytest.raises(ValueError, match="unknown index family"):
        rebuild_index_generation(spark, str(tmp_path), emb, "flat")


def test_rebuild_swap_crash_window_recovers_everywhere(
    spark, emb, queries3, tmp_path
):
    """Worst swap window: the live index renamed to '.old', the new
    generation never moved in. Every maintenance entry point must heal
    (rename '.old' back) before operating — here via compact_index and
    via a fresh ingest append."""
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    want = _pairs(
        similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    )
    os.rename(path, path + ".old")
    compact_index(spark, path, "ivf")
    assert os.path.isdir(path) and not os.path.isdir(path + ".old")
    assert _pairs(
        similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    ) == want
    # stale half-built generation debris is discarded too
    os.makedirs(path + ".compact/corpus", exist_ok=True)
    compact_index(spark, path, "ivf")
    assert not os.path.isdir(path + ".compact")


def test_rebuild_if_drifted_consumes_the_flag(spark, emb, tmp_path):
    """The retrain signal's consumer: flagged drift -> rebuild happens
    (and resets the drift table), clean drift -> index untouched."""
    from automated_data_pipeline_spark.streaming.ann_ingest import (
        record_drift,
        write_ivf_index_for_ingest,
    )

    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    write_ivf_index_for_ingest(assigned, cent_df, path)
    record_drift(spark, path, base, "build")
    record_drift(spark, path, delta, "b0")  # same distribution
    assert rebuild_if_drifted(
        spark, path, emb, "ivf", n_clusters=8, max_iter=1
    ) is False
    before = os.path.getmtime(f"{path}/centroids")
    shifted = delta.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(5.0))
    )
    record_drift(spark, path, shifted, "b1")  # distribution shift
    assert rebuild_if_drifted(
        spark, path, emb, "ivf", n_clusters=8, max_iter=1
    ) is True
    assert os.path.getmtime(f"{path}/centroids") != before
    # post-rebuild the table holds only the fresh baseline -> False
    assert rebuild_if_drifted(
        spark, path, emb, "ivf", n_clusters=8, max_iter=1
    ) is False


# ------------------------------------------- r11 advisor findings


def test_compact_all_tombstoned_leaves_readable_empty_index(
    spark, emb, queries3, tmp_path
):
    """r11 advisor: compacting an index whose EVERY row is tombstoned
    used to swap in a dataless directory (partitionBy of an empty
    frame writes only _SUCCESS), and the next persisted query died on
    schema inference. The compactor now swaps in a schema-carrying
    empty marker: queries answer EMPTY, not AnalysisException."""
    all_ids = [r["vec_id"] for r in emb.select("vec_id").collect()]

    # partitioned family (the originally-broken layout)
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    p = str(tmp_path / "ivf")
    similarity.write_ivf_index(assigned, cent_df, p)
    add_tombstones(spark, p, all_ids)
    compact_index(spark, p, "ivf")
    got = similarity.ivf_topk_persisted(spark, p, queries3, k=5, nprobe=8)
    assert got.count() == 0
    # schema survived (incl. the former partition column as a column)
    cols = set(spark.read.parquet(f"{p}/corpus").columns)
    assert {"vec_id", "ivf_cluster"} <= cols
    # tombstone store fully applied -> dropped
    assert read_tombstones(spark, p).count() == 0

    # flat family
    p2 = str(tmp_path / "sq8")
    similarity.write_sq8_index(emb, p2)
    add_tombstones(spark, p2, all_ids)
    compact_index(spark, p2, "sq8")
    got2 = similarity.sq8_topk_rerank_persisted(
        spark, p2, emb, queries3, k=5, oversample=4
    )
    assert got2.count() == 0


def test_query_side_tombstone_heal_is_read_only(spark, emb, queries3, tmp_path):
    """r11 advisor: queries serve WHILE maintenance trims the store,
    so the query path must not rmtree/rename ('_recover_compact') —
    it now reads the live dir, falling back to the '.old' backup
    mid-swap, and leaves BOTH untouched."""
    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(assigned, cent_df, path)
    add_tombstones(spark, path, DEAD)
    tomb = f"{path}/tombstones"

    # mid-swap window: live dir renamed away, backup IS the store
    os.rename(tomb, tomb + ".old")
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    assert not {r["vec_id"] for r in got.collect()} & set(DEAD)
    # the query healed nothing: window state exactly as it found it
    assert os.path.isdir(tomb + ".old") and not os.path.isdir(tomb)
    os.rename(tomb + ".old", tomb)

    # stale '.compact' debris must also survive a query untouched
    os.makedirs(tomb + ".compact", exist_ok=True)
    with open(os.path.join(tomb + ".compact", "part-0.parquet"), "wb") as f:
        f.write(b"in-flight trim output")
    got = similarity.ivf_topk_persisted(spark, path, queries3, k=5, nprobe=8)
    assert not {r["vec_id"] for r in got.collect()} & set(DEAD)
    assert os.path.isfile(os.path.join(tomb + ".compact", "part-0.parquet"))


def test_compact_records_purged_batch_keys_in_ledger(spark, emb, tmp_path):
    """The ledger fold that makes purges replay-safe: compacting away
    a tombstoned ingest batch records its batch_key as applied."""
    from automated_data_pipeline_spark.operators.index_lifecycle import (
        applied_batch_keys,
    )
    from automated_data_pipeline_spark.streaming.ann_ingest import (
        write_ivf_index_for_ingest,
    )

    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    write_ivf_index_for_ingest(assigned, cent_df, path)
    similarity.append_to_ivf_index(
        spark, path, delta.withColumn("batch_key", F.lit("ck#0"))
    )
    add_tombstones(spark, path, [r["vec_id"] for r in delta.collect()])
    compact_index(spark, path, "ivf")
    keys = {r["batch_key"] for r in applied_batch_keys(spark, path).collect()}
    assert "ck#0" in keys and "build" not in keys
    # the purge really removed the rows (stamp probe alone would miss)
    assert spark.read.parquet(f"{path}/corpus").filter(
        F.col("batch_key") == "ck#0"
    ).count() == 0


def test_rebuild_carries_applied_batch_ledger(spark, emb, tmp_path):
    """Generation rebuild restamps every row 'build', erasing ingest
    stamps — the applied-batch ledger (old ledger + old corpus stamps)
    must ride into the new generation so a restart replay can't
    re-append (or resurrect) the last uncommitted batch."""
    from automated_data_pipeline_spark.operators.index_lifecycle import (
        applied_batch_keys,
        record_applied_batch_keys,
    )
    from automated_data_pipeline_spark.streaming.ann_ingest import (
        write_ivf_index_for_ingest,
    )

    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    assigned, cent_df = similarity.ivf_index(base, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    write_ivf_index_for_ingest(assigned, cent_df, path)
    similarity.append_to_ivf_index(
        spark, path, delta.withColumn("batch_key", F.lit("ck#0"))
    )
    record_applied_batch_keys(spark, path, ["ck#0"])
    rebuild_index_generation(spark, path, emb, "ivf", n_clusters=8, max_iter=1)
    keys = {r["batch_key"] for r in applied_batch_keys(spark, path).collect()}
    assert "ck#0" in keys
    # rebuilt corpus carries only 'build' stamps — the ledger is the
    # only remaining witness that ck#0 was applied
    stamps = {
        r["batch_key"] for r in spark.read.parquet(f"{path}/corpus")
        .select("batch_key").distinct().collect()
    }
    assert stamps == {"build"}


def test_compact_consolidates_ledger_files(spark, emb, tmp_path):
    """Compaction housekeeping: the one-file-per-batch ledger pile is
    rewritten to a single file with the key SET unchanged."""
    from automated_data_pipeline_spark.operators.index_lifecycle import (
        applied_batch_key_set,
        record_applied_batch_keys,
    )
    from automated_data_pipeline_spark.streaming.ann_ingest import (
        write_ivf_index_for_ingest,
    )

    assigned, cent_df = similarity.ivf_index(emb, n_clusters=8, max_iter=1)
    path = str(tmp_path / "idx")
    write_ivf_index_for_ingest(assigned, cent_df, path)
    for i in range(5):
        record_applied_batch_keys(spark, path, [f"ck#{i}"])
    ledger = f"{path}/ingest_ledger"
    assert len([f for f in os.listdir(ledger) if f.endswith(".keys")]) == 5
    before = applied_batch_key_set(path)
    compact_index(spark, path, "ivf")
    assert applied_batch_key_set(path) == before
    assert len([f for f in os.listdir(ledger) if f.endswith(".keys")]) == 1
