"""The fold-stream skeleton (streaming/fold.py) across its keyed streams:

- one crash-point matrix: every stream that writes an output or
  metrics path is drained over 3 shards, the last batch's durable
  state is rolled back to each point a crash can leave it at, and the
  restarted stream must converge on the uncrashed run's output and
  store;
- the Spark job counts of a dedup drain, a vocabulary-store drain and
  one recovered suite entry's split fold, pinned, so the shared
  wiring cannot grow a job per batch unnoticed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.operators import similarity
from automated_data_pipeline_spark.operators.index_lifecycle import (
    applied_batch_key_set,
)
from automated_data_pipeline_spark.streaming.ann_ingest import (
    start_incremental_ann_ingest,
    write_ivf_index_for_ingest,
)
from automated_data_pipeline_spark.streaming.incremental_dedup import (
    FingerprintStore,
    start_incremental_dedup,
)
from automated_data_pipeline_spark.streaming.incremental_lsh import (
    LshStore,
    start_incremental_lsh_dedup,
)
from automated_data_pipeline_spark.streaming.incremental_segments import (
    SegmentHashStore,
    start_incremental_segment_dedup,
)
from automated_data_pipeline_spark.streaming.quality_scorer import (
    start_quality_score_stream,
)
from automated_data_pipeline_spark.streaming.vocab_stream import (
    VocabCountStore,
    read_vocab_counts,
    start_incremental_vocab,
)
from automated_data_pipeline_spark.suite.round7 import _QLR
from conftest import SF_SMOKE

# Jobs of the pinned drain (test_dedup_drain_job_count_is_pinned):
# 3 batches of the dedup fold plus the replay probes of the first.
DRAIN_JOBS = 19
# Jobs of the pinned vocabulary-store drain: 3 batches of the count
# fold, the first with its replay probe.
VOCAB_DRAIN_JOBS = 9
# Jobs of building suite.round10.lang_vocab_overlap_recovered at sf0.001:
# the 3-split fold into a fresh store (no probes) plus the recovery's
# eager top-list checkpoint.
VOCAB_RECOVERED_JOBS = 14

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


def _text(i: int) -> str:
    # 12-word docs from a doc-specific rotation; docs i and i + 50
    # are identical, so later shards carry exact and segment dups
    k = i % 50
    return " ".join(WORDS[(k * 7 + j * (k % 5 + 1)) % len(WORDS)] for j in range(12))


def _doc_shards():
    # 3 shards; the last mixes new docs with repeats of earlier ones
    return [
        [{"doc_id": i, "text": _text(i)} for i in range(0, 12)],
        [{"doc_id": i, "text": _text(i)} for i in range(12, 24)],
        [{"doc_id": i, "text": _text(i)} for i in (*range(24, 34), 50, 63)],
    ]


def _vec(i: int) -> list[float]:
    return [math.sin(i), math.cos(i), (i % 7) / 7.0, 1.0]


def _write_shards(src: str, shards) -> None:
    os.makedirs(src, exist_ok=True)
    for k, rows in enumerate(shards):
        with open(os.path.join(src, f"s{k}.json"), "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in rows))


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path)


def _drop_files(spark, path: str, cond) -> None:
    """Delete the parquet part files under ``path`` holding rows that
    match ``cond`` (each micro-batch append writes its own files)."""
    files = {
        r["f"] for r in spark.read.parquet(path).filter(cond)
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    for f in map(_local, files):
        os.remove(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def _drop_last_commit(ckpt: str) -> None:
    commits = os.path.join(ckpt, "commits")
    last = sorted(
        (c for c in os.listdir(commits) if not c.startswith(".")), key=int
    )[-1]
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar must go too
        os.remove(crc)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


class _Stream:
    """One keyed fold stream under ``root``: how to start it, its
    durable writes in write order (each a rollback of the last batch
    key's rows), and the output/store state to compare."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root
        self.src = f"{root}/src"
        self.out = f"{root}/out"
        self.ckpt = f"{root}/ckpt"

    def key(self) -> str:
        return f"{self.ckpt}#2"

    def drop_out(self) -> None:
        _drop_files(self.spark, self.out, F.col("batch_key") == self.key())

    def out_rows(self):
        return _rows(self.spark.read.parquet(self.out))


class _Dedup(_Stream):
    def setup(self):
        _write_shards(self.src, _doc_shards())
        self.store_path = f"{self.root}/store"

    def start(self):
        return start_incremental_dedup(
            self.spark, self.src, FingerprintStore(self.store_path),
            self.out, self.ckpt,
        )

    def writes(self):
        return [self.drop_store, self.drop_out]

    def drop_store(self):
        _drop_files(self.spark, self.store_path, F.col("batch_key") == self.key())

    def store_rows(self):
        return _rows(FingerprintStore(self.store_path).read(self.spark))


class _Segments(_Dedup):
    def start(self):
        return start_incremental_segment_dedup(
            self.spark, self.src, SegmentHashStore(self.store_path),
            self.out, self.ckpt, seg_words=3,
        )

    def store_rows(self):
        return _rows(SegmentHashStore(self.store_path).read(self.spark))


class _Lsh(_Dedup):
    def start(self):
        return start_incremental_lsh_dedup(
            self.spark, self.src, LshStore(self.store_path),
            self.out, self.ckpt, max_files_per_trigger=1,
        )

    def drop_store(self):
        store = LshStore(self.store_path)
        mine = [
            r["doc_id"] for r in store.docs(self.spark)
            .filter(F.col("batch_key") == self.key()).collect()
        ]
        _drop_files(self.spark, store.buckets_dir, F.col("doc_id").isin(mine))
        _drop_files(self.spark, store.docs_dir, F.col("batch_key") == self.key())

    def store_rows(self):
        store = LshStore(self.store_path)
        return _rows(store.buckets(self.spark)) + _rows(store.docs(self.spark))


class _Ann(_Stream):
    def setup(self):
        base = self.spark.createDataFrame(
            [(i, _vec(i)) for i in range(30)],
            "vec_id bigint, embedding array<double>",
        )
        assigned, cent = similarity.ivf_index(base, n_clusters=4, max_iter=1)
        self.index = f"{self.root}/idx"
        write_ivf_index_for_ingest(assigned, cent, self.index)
        self.out = f"{self.index}/corpus"
        _write_shards(self.src, [
            [{"vec_id": i, "embedding": _vec(i)} for i in range(lo, lo + 10)]
            for lo in (30, 40, 50)
        ])

    def start(self):
        return start_incremental_ann_ingest(
            self.spark, self.src, self.index, self.ckpt
        )

    def writes(self):
        # corpus first, ledger after it (ann_ingest's write order)
        return [self.drop_out, self.drop_ledger]

    def drop_ledger(self):
        ledger = f"{self.index}/ingest_ledger"
        for name in os.listdir(ledger):
            path = os.path.join(ledger, name)
            with open(path) as f:
                if self.key() in f.read().split():
                    os.remove(path)

    def out_rows(self):
        return _rows(
            self.spark.read.parquet(self.out).select("vec_id", "batch_key")
        )

    def store_rows(self):
        return sorted(applied_batch_key_set(self.index))


class _QualityScore(_Stream):
    def setup(self):
        _write_shards(self.src, _doc_shards())

    def start(self):
        coefs = [_QLR[k] for k in ("f_logtok", "f_wlen", "f_punct", "f_stop", "f_ttr")]
        return start_quality_score_stream(
            self.spark, self.src, self.out, _QLR["bias"], coefs, self.ckpt
        )

    def writes(self):
        return [self.drop_out]

    def out_rows(self):
        # scored_at is the wall clock of the attempt that wrote the row
        return _rows(self.spark.read.parquet(self.out).drop("scored_at"))

    def store_rows(self):
        return []


STREAMS = {
    "incremental_dedup": _Dedup,
    "incremental_segments": _Segments,
    "incremental_lsh": _Lsh,
    "ann_ingest": _Ann,
    "quality_score": _QualityScore,
}

# Where a crash can leave the last batch's durable state: (a) before
# any of its writes, (b) before its last write, (c) after every write
# but before the checkpoint commit. Each maps a stream's ordered
# writes to the ones rolled back (the commit always goes too).
CRASH_POINTS = {
    "a_before_writes": lambda writes: writes,
    "b_before_last_write": lambda writes: writes[-1:],
    "c_before_commit": lambda writes: [],
}


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    """Each stream drained once over its 3 shards; the uncrashed
    output/store and a byte copy of its directory to restore from."""
    cache = {}

    def get(name):
        if name not in cache:
            root = str(tmp_path_factory.mktemp(name) / "live")
            s = STREAMS[name](spark, root)
            s.setup()
            q = s.start()
            q.awaitTermination(300)
            assert q.exception() is None
            assert len(q.recentProgress) == 3
            snap = root + ".snap"
            shutil.copytree(root, snap)
            cache[name] = (s, snap, s.out_rows(), s.store_rows())
        return cache[name]

    return get


@pytest.mark.parametrize("crash", sorted(CRASH_POINTS))
@pytest.mark.parametrize("stream", sorted(STREAMS))
def test_restart_after_crash_converges(drained, stream, crash):
    s, snap, want_out, want_store = drained(stream)
    shutil.rmtree(s.root)
    shutil.copytree(snap, s.root)
    for rollback in CRASH_POINTS[crash](s.writes()):
        rollback()
    _drop_last_commit(s.ckpt)

    q = s.start()
    q.awaitTermination(300)
    assert q.exception() is None
    assert [p["batchId"] for p in q.recentProgress] == [2]
    assert s.out_rows() == want_out
    assert s.store_rows() == want_store


def _marker_job(spark, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def test_dedup_drain_job_count_is_pinned(spark, tmp_path):
    """An availableNow drain of 3 shards, the last a replay of the
    first: 3 micro-batches and a fixed number of Spark jobs (the first
    batch pays both replay probes on a fresh store and output, later
    batches pay none). A new per-batch job fails here."""
    shards = _doc_shards()
    src = str(tmp_path / "src")
    _write_shards(src, [shards[0], shards[1], shards[0]])
    out = str(tmp_path / "out")
    store = FingerprintStore(str(tmp_path / "store"))

    before = _marker_job(spark, "fold-drain-before")
    q = start_incremental_dedup(spark, src, store, out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    after = _marker_job(spark, "fold-drain-after")

    assert q.exception() is None
    assert len(q.recentProgress) == 3
    assert after - before - 1 == DRAIN_JOBS
    assert spark.read.parquet(out).count() == len(
        {d["text"] for d in shards[0] + shards[1]}
    )


def test_vocab_drain_job_count_is_pinned(spark, tmp_path):
    """An availableNow drain of 3 shards into a vocabulary count store,
    the last shard a replay of the first: 3 micro-batches, a fixed
    number of Spark jobs (only the first batch pays the replay probe),
    and the counts of shards 0, 1 and 0 again."""
    shards = [
        [dict(d, lang="en" if d["doc_id"] % 2 else "de") for d in shard]
        for shard in _doc_shards()
    ]
    src = str(tmp_path / "src")
    _write_shards(src, [shards[0], shards[1], shards[0]])
    store = VocabCountStore(str(tmp_path / "store"))

    before = _marker_job(spark, "vocab-drain-before")
    q = start_incremental_vocab(spark, src, store, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    after = _marker_job(spark, "vocab-drain-after")

    assert q.exception() is None
    assert len(q.recentProgress) == 3
    assert after - before - 1 == VOCAB_DRAIN_JOBS
    n_tokens = sum(len(d["text"].split()) for d in shards[0] * 2 + shards[1])
    assert read_vocab_counts(spark, store).agg(F.sum("cnt")).first()[0] == n_tokens


def test_recovered_split_fold_job_count_is_pinned(spark):
    """Building one recovered suite entry runs its 3-split store fold
    (fresh store: no replay probes) and the recovery's eager jobs; a
    per-split job added to the shared split loop fails here."""
    from automated_data_pipeline_spark.suite.round10 import (
        lang_vocab_overlap_recovered,
    )

    before = _marker_job(spark, "vocab-recovered-before")
    out = lang_vocab_overlap_recovered(spark, SF_SMOKE)
    after = _marker_job(spark, "vocab-recovered-after")

    assert after - before - 1 == VOCAB_RECOVERED_JOBS
    assert out.count() > 0
