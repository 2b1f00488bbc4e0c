"""Streaming near-dup dedup vs the persistent LSH store: batch-level
semantics, cross-batch near-dup rejection, replay idempotency, and the
file-source stream wiring end-to-end."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.streaming.incremental_lsh import (
    LshStore,
    near_dedup_batch_against_store,
    start_incremental_lsh_dedup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a sunny windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("sunny", "warm")  # one-token edit -> near-dup
FAR = (
    "completely different content about distributed query engines and "
    "shuffle partitioning strategies for large scale analytics systems"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture()
def store(tmp_path):
    return LshStore(str(tmp_path / "lsh_store"))


def test_within_batch_and_cross_batch_near_dups(spark, store):
    # batch 1: BASE survives; its near-dup (higher id) is dropped
    b1 = _df(spark, [(1, BASE), (2, NEAR), (3, FAR)])
    out1 = near_dedup_batch_against_store(
        spark, b1, store, batch_key="b1"
    )
    assert {r["doc_id"] for r in out1.collect()} == {1, 3}

    # batch 2: another near-dup of BASE must be rejected by the STORE
    # (cross-batch), a fresh doc accepted
    b2 = _df(spark, [(10, BASE.replace("garden", "meadow")), (11, FAR + " with extra novel words appended here")])
    out2 = near_dedup_batch_against_store(
        spark, b2, store, batch_key="b2", maybe_replay=False
    )
    got = {r["doc_id"] for r in out2.collect()}
    assert 10 not in got and 11 in got

    # store now holds exactly the survivors
    stored = {r["doc_id"] for r in store.docs(spark).collect()}
    assert stored == {1, 3, 11}


def test_replay_rederives_survivors_without_double_append(spark, store):
    b1 = _df(spark, [(1, BASE), (2, NEAR)])
    first = near_dedup_batch_against_store(spark, b1, store, batch_key="k")
    n_docs = store.docs(spark).count()
    replay = near_dedup_batch_against_store(spark, b1, store, batch_key="k")
    assert {r["doc_id"] for r in replay.collect()} == {
        r["doc_id"] for r in first.collect()
    }
    assert store.docs(spark).count() == n_docs  # no duplicate append


def test_stream_end_to_end(spark, store, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "shard1.json"), "w") as f:
        for i, t in [(1, BASE), (2, FAR)]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    with open(os.path.join(src, "shard2.json"), "w") as f:
        for i, t in [(20, NEAR), (21, "yet another entirely unrelated document about cooking pasta at home tonight")]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    q = start_incremental_lsh_dedup(spark, src, store, out, ckpt)
    q.awaitTermination(180)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 20 near-duplicates 1 (one-token edit) and must be dropped,
    # whichever shard order the stream picked
    assert 20 not in kept or 1 not in kept
    assert {2, 21} <= kept
    assert len(kept) == 3


def test_short_docs_pass_through_and_survive_replay(spark, store):
    """Docs with < 2 tokens can't shingle — they are NOT near-dups and
    must pass through as novel, and a replay must re-derive them."""
    b = _df(spark, [(1, BASE), (2, "hi"), (3, "")])
    out = near_dedup_batch_against_store(spark, b, store, batch_key="s1")
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3}
    replay = near_dedup_batch_against_store(spark, b, store, batch_key="s1")
    assert {r["doc_id"] for r in replay.collect()} == {1, 2, 3}
    # only the shingleable doc got bucket index rows
    assert {r["doc_id"] for r in store.buckets(spark).collect()} == {1}
    assert {r["doc_id"] for r in store.docs(spark).collect()} == {1, 2, 3}


def test_store_compaction_preserves_content_and_dedup(spark, store, tmp_path):
    """Compaction rewrites many small batch files into few large ones
    without changing store content or subsequent dedup decisions."""
    import glob

    for i, (did, txt) in enumerate([(1, BASE), (2, FAR), (3, FAR + " more words here now")]):
        near_dedup_batch_against_store(
            spark, _df(spark, [(did, txt)]), store,
            batch_key=f"c{i}", maybe_replay=False,
        )
    before_docs = {r["doc_id"] for r in store.docs(spark).collect()}
    before_buckets = {
        (r["band"], r["bucket"], r["doc_id"])
        for r in store.buckets(spark).collect()
    }
    n_files_before = len(glob.glob(f"{store.docs_dir}/*.parquet"))
    store.compact(spark, files_per_store=1)
    assert len(glob.glob(f"{store.docs_dir}/*.parquet")) == 1 < n_files_before
    assert {r["doc_id"] for r in store.docs(spark).collect()} == before_docs
    assert {
        (r["band"], r["bucket"], r["doc_id"])
        for r in store.buckets(spark).collect()
    } == before_buckets
    # dedup decisions unchanged post-compaction
    out = near_dedup_batch_against_store(
        spark, _df(spark, [(9, NEAR)]), store, batch_key="c9", maybe_replay=False
    )
    assert out.count() == 0  # NEAR still rejected against compacted store


def test_crashed_last_batch_replay_does_not_duplicate_output(
    spark, store, tmp_path
):
    """Simulate the crash window the checkpoint protocol exposes: the
    out_dir append landed but the streaming commit did not. On restart
    Spark redelivers the last batch; the out_dir probe must detect the
    landed write and append nothing."""
    import shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "shard1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": BASE}) + "\n")
    with open(os.path.join(src, "shard2.json"), "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": FAR}) + "\n")

    q = start_incremental_lsh_dedup(spark, src, store, out, ckpt)
    q.awaitTermination(180)
    before = spark.read.parquet(out).count()
    assert before == 2

    # delete the LAST streaming commit: the output + store writes for
    # that batch are durable, but the checkpoint says it never finished
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar must go too
        os.remove(crc)

    q2 = start_incremental_lsh_dedup(spark, src, store, out, ckpt)
    q2.awaitTermination(180)
    after = spark.read.parquet(out)
    assert after.count() == before  # no duplicated survivors
    assert after.select("doc_id").distinct().count() == before
    shutil.rmtree(ckpt, ignore_errors=True)


def test_compact_crash_recovery(spark, store, tmp_path):
    """The two-rename compact swap's crash windows self-heal: a store
    left at '.old' (crash between renames) is moved back on next read;
    stale '.old'/'.compact' debris (crash after swap) is dropped."""
    import shutil

    from automated_data_pipeline_spark.streaming.incremental_dedup import (
        FingerprintStore,
    )

    fp = FingerprintStore(str(tmp_path / "fp"))
    fp.append(
        spark.createDataFrame(
            [("f1", 1, "k1"), ("f2", 2, "k1")],
            "fingerprint string, doc_id bigint, batch_key string",
        )
    )
    assert fp.read(spark).count() == 2

    # crash between the renames: live dir gone, backup at .old
    os.rename(fp.path, fp.path + ".old")
    assert fp.read(spark).count() == 2  # self-healed
    assert os.path.isdir(fp.path) and not os.path.isdir(fp.path + ".old")

    # crash after the swap: stale .old and .compact debris
    shutil.copytree(fp.path, fp.path + ".old")
    os.makedirs(fp.path + ".compact", exist_ok=True)
    fp.compact(spark, n_files=1)
    assert fp.read(spark).count() == 2
    assert not os.path.isdir(fp.path + ".old")
    assert not os.path.isdir(fp.path + ".compact")


def test_retired_bucket_gc_on_compact(spark, store):
    """Orphan bucket rows — keys whose doc payload never landed (crash
    between the bucket and doc appends, batch never replayed) — are
    GC'd by compact; live keys survive and decisions are unchanged."""
    near_dedup_batch_against_store(
        spark, _df(spark, [(1, BASE), (2, FAR)]), store, batch_key="g1"
    )
    live = {
        (r["band"], r["bucket"], r["doc_id"])
        for r in store.buckets(spark).collect()
    }
    # simulate the crash debris: bucket rows for doc_id 99 with no
    # docs-side payload
    orphan = spark.createDataFrame(
        [(0, "deadbeef", 99), (1, "cafebabe", 99)],
        "band int, bucket string, doc_id bigint",
    )
    orphan.write.mode("append").parquet(store.buckets_dir)
    assert {r["doc_id"] for r in store.buckets(spark).collect()} == {1, 2, 99}
    store.compact(spark, files_per_store=1)
    assert {
        (r["band"], r["bucket"], r["doc_id"])
        for r in store.buckets(spark).collect()
    } == live
    out = near_dedup_batch_against_store(
        spark, _df(spark, [(9, NEAR)]), store, batch_key="g9", maybe_replay=False
    )
    assert out.count() == 0  # NEAR still rejected post-GC


def test_stream_size_triggered_compaction_identical_decisions(
    spark, store, tmp_path
):
    """An N-batch ingest with size-triggered compaction keeps the store
    file count bounded AND makes byte-identical dedup decisions to an
    uncompacted ingest of the same shards."""
    import json as _json

    shards = [
        [(1, BASE), (2, FAR)],
        [(20, NEAR), (21, "totally new words about sailing across the ocean at dawn")],
        [(30, BASE.replace("birds", "crickets")), (31, FAR + " plus a tail of extra tokens")],
        [(40, "hi"), (41, NEAR.replace("cat", "dog"))],
    ]

    def ingest(root, compact_max_files):
        st = LshStore(str(root / "st"))
        src = str(root / "src")
        os.makedirs(src)
        for i, rows in enumerate(shards):
            p = os.path.join(src, f"s{i}.json")
            with open(p, "w") as f:
                for did, t in rows:
                    f.write(_json.dumps({"doc_id": did, "text": t}) + "\n")
            # the file source orders ties arbitrarily; distinct mtimes
            # pin shard order so both ingests see identical batches
            os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        q = start_incremental_lsh_dedup(
            spark, src, st, str(root / "out"), str(root / "ckpt"),
            compact_max_files=compact_max_files,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)
        kept = {
            r["doc_id"] for r in spark.read.parquet(str(root / "out")).collect()
        }
        return st, kept

    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir(); b.mkdir()
    st_compact, kept_compact = ingest(a, compact_max_files=2)
    st_plain, kept_plain = ingest(b, compact_max_files=None)
    assert kept_compact == kept_plain
    assert st_compact.file_count() < st_plain.file_count()
    assert {r["doc_id"] for r in st_compact.docs(spark).collect()} == {
        r["doc_id"] for r in st_plain.docs(spark).collect()
    }


def test_format_version_stamp(spark, tmp_path):
    """VERDICT r13 item 6: the docs/ payload format is stamped; a
    non-empty store with a missing or different stamp must raise
    instead of silently mixing payload formats."""
    from automated_data_pipeline_spark.streaming.incremental_lsh import (
        LSH_STORE_FORMAT_VERSION,
        near_dedup_batch_against_store,
    )

    root = str(tmp_path / "stamped")
    store = LshStore(root)
    marker = os.path.join(root, "_format_version")
    assert os.path.exists(marker)
    with open(marker) as f:
        assert f.read().strip() == str(LSH_STORE_FORMAT_VERSION)
    # same-version reopen is fine
    LshStore(root)
    # a different stamped version refuses to open
    with open(marker, "w") as f:
        f.write("999")
    with pytest.raises(ValueError, match="format v999"):
        LshStore(root)
    # a NON-EMPTY store with no stamp at all = pre-stamp (v1) layout
    with open(marker, "w") as f:
        f.write(str(LSH_STORE_FORMAT_VERSION))
    store = LshStore(root)
    near_dedup_batch_against_store(
        spark, _df(spark, [(1, BASE)]), store, batch_key="b0"
    )
    os.remove(marker)
    with pytest.raises(ValueError, match="format v1"):
        LshStore(root)


def test_format_version_marker_written_atomically(tmp_path):
    """The marker goes through storefs ``write_text_atomic`` (a
    dot-prefixed temp file + rename): a crash mid-write leaves only a
    partial temp, which neither a valid store's reopen nor a fresh
    store's first open trips over."""
    from automated_data_pipeline_spark.streaming.incremental_lsh import (
        LSH_STORE_FORMAT_VERSION,
    )

    root = str(tmp_path / "stamped")
    LshStore(root)
    marker = os.path.join(root, "_format_version")
    assert [f for f in os.listdir(root) if f.startswith(".")] == []
    # a crashed later write left a partial temp marker beside the valid one
    with open(os.path.join(root, ".tmp-_format_version"), "w") as f:
        f.write("9")
    LshStore(root)
    with open(marker) as f:
        assert f.read().strip() == str(LSH_STORE_FORMAT_VERSION)
    # a crash before the first rename: only the partial temp exists
    fresh = str(tmp_path / "fresh")
    os.makedirs(fresh)
    with open(os.path.join(fresh, ".tmp-_format_version"), "w") as f:
        f.write("")
    LshStore(fresh)
    with open(os.path.join(fresh, "_format_version")) as f:
        assert f.read().strip() == str(LSH_STORE_FORMAT_VERSION)
