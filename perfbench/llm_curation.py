"""Workload ``llm_curation``: LLM-curation operators, batch and stream.

A pass first runs the batch suite queries, each built with
``fn(spark, sf_dir)`` and forced with ``count()`` inside a job group the
benchmark sets (``text_stats`` is the no-barrier control), then drains
each stream backlog with ``availableNow`` through the public
``streaming`` start functions, on fresh stores and checkpoints. The ETL
and control layers stay idle.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import inputs
from harness import ROOT, Stopwatch, Workload, calibrate, dir_bytes, host_cpus
from result import Result

BATCH_QUERIES = [
    "text_stats",
    "dedup_minhash_lsh",
    "bm25_top_docs",
    "ann_ivf_topk",
]
STREAMS = [
    "incremental_dedup",
]


def _load_oracle_compare():
    """``compare`` from tools/check_oracles.py (the strict comparator
    the oracle gate uses)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class LlmCuration(Workload):
    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.fixture = None
        self.expected: dict[str, float] = {}
        self.counts: dict[str, int] = {}
        self.n_pass = 0

    # -- set-up -----------------------------------------------------------
    def setup(self, i: int) -> Stopwatch:
        """Split the sf0.1 documents into the seeded stream shards."""
        d = os.path.join(self.work, f"fixture{i}")
        with Stopwatch() as took:
            self._write_shards(d, inputs.read_documents())
        if self.fixture is not None:
            shutil.rmtree(self.fixture, ignore_errors=True)
        self.fixture = d
        return took

    def _write_shards(self, d: str, rows: list[dict]) -> None:
        seed = self.seed
        docs = {r["doc_id"]: r for r in rows}
        ids = sorted(docs)
        # fingerprint stream: 2 shards + a full replay of shard 0
        src = os.path.join(d, "src", "incremental_dedup")
        os.makedirs(src)
        a, b = inputs.split_shards(seed, ids, 2, "incremental_dedup")
        for k, sh in enumerate((a, b, a)):
            inputs.write_json_lines([docs[x] for x in sh], f"{src}/b{k}.json")

    sf_dir = inputs.SF_DIR

    def _src(self, s: str) -> str:
        return os.path.join(self.fixture, "src", s)

    def prepare(self) -> None:
        pass

    # -- warm pass and checks ---------------------------------------------
    def warm(self) -> Result:
        """Untimed JIT/codegen warm-up that also sets up the checks: the
        batch operator's distinct fingerprint count for the dedup
        stream, then, at the same time, one pass of the streams and each
        batch query against its DuckDB oracle with the strict comparator
        of tools/check_oracles.py. The cold pass is mostly driver-side
        code generation and JIT, which overlap; a pool of nproc threads
        runs it. The measured passes run one operation at a time."""
        from pyspark.sql import functions as F

        from automated_data_pipeline_spark.functions import text as TX

        docs = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        self.expected["incremental_dedup"] = (
            docs.select(TX.fingerprint(F.col("text")).alias("f")).distinct().count()
        )
        res, streams = Result(), Result()
        with ThreadPoolExecutor(max_workers=host_cpus()) as pool:
            drained = pool.submit(self.run_pass, streams, None, False)
            self._oracle_checks(res, pool)
            drained.result()
        res.merge(streams)
        calibrate(self.spark)  # untimed: its codegen and Python worker
        return res

    def before_spark(self) -> None:
        """Evaluate the DuckDB oracles on a thread while the JVM starts
        (both untimed); ``_oracle_checks`` waits for it."""
        self.oracles: dict = {}
        self.oracle_error: BaseException | None = None
        self.oracle_thread = threading.Thread(target=self._run_oracles, daemon=True)
        self.oracle_thread.start()

    def _run_oracles(self) -> None:
        import duckdb

        from automated_data_pipeline_spark import suite

        specs = {s.name: s for s in suite.all_specs()}
        con = duckdb.connect()
        try:
            con.execute("SET memory_limit='1GB'")
            con.execute("SET threads=2")
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for q in BATCH_QUERIES:
                if specs[q].oracle is not None:
                    self.oracles[q] = con.execute(specs[q].oracle).df()
        except BaseException as exc:  # noqa: BLE001 — reported as a failed check
            self.oracle_error = exc
        finally:
            con.close()

    def _oracle_checks(self, res: Result, pool: ThreadPoolExecutor) -> None:
        from automated_data_pipeline_spark import suite

        compare = _load_oracle_compare()
        specs = {s.name: s for s in suite.all_specs()}
        self.oracle_thread.join(timeout=600)
        if self.oracle_error is not None or self.oracle_thread.is_alive():
            res.fail("oracles", self.oracle_error or TimeoutError("DuckDB oracles still running"))
        frames = dict(zip(BATCH_QUERIES, pool.map(
            lambda q: specs[q].fn(self.spark, self.sf_dir).toPandas(), BATCH_QUERIES)))
        for q in BATCH_QUERIES:
            spdf = frames[q]
            self.counts[q] = len(spdf)
            if specs[q].oracle is None:  # rows-only query
                res.check(f"rows {q}", len(spdf) > 0, "no rows")
            elif q in self.oracles:
                problems = compare(q, spdf, self.oracles[q], strict=True)
                res.check(f"oracle {q}", not problems, "; ".join(problems))

    # -- one pass ---------------------------------------------------------
    def measure(self, seconds: float, tracer=None) -> Result:
        res = Result()
        self.calibrating = True
        t0 = time.perf_counter()
        while not res.passes or time.perf_counter() - t0 < seconds:
            self.run_pass(res, tracer)
        # the calibration after the last op
        res.calibration(calibrate(self.spark))
        self.calibrating = False
        return res

    def run_pass(self, res: Result, tracer=None, queries: bool = True) -> None:
        from automated_data_pipeline_spark import suite

        self.n_pass += 1
        specs = {s.name: s for s in suite.all_specs()}
        batch_s = stream_s = 0.0
        for q in BATCH_QUERIES if queries else ():
            try:
                batch_s += self._query(res, specs[q], tracer)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                res.fail(q, exc)
        for s in STREAMS:
            run = os.path.join(self.work, f"stream-{self.n_pass}-{s}")
            os.makedirs(run)
            self.before_op(res)
            try:
                with _op(tracer, f"{self.n_pass}-{s}", s), Stopwatch() as watch:
                    drained, store = getattr(self, f"_drain_{s}")(run)
                res.op(s, watch)
                stream_s += watch.wall
                self._check_stream(res, s, run)
                if tracer:
                    _stream_layer(res, s, watch.wall, drained, store)
            except Exception as exc:  # noqa: BLE001
                res.fail(s, exc)
            finally:
                shutil.rmtree(run, ignore_errors=True)
        res.name("curation_batch_s", batch_s)
        res.name("stream_drain_s", stream_s)
        res.pass_done(batch_s + stream_s)

    def _query(self, res: Result, spec, tracer) -> float:
        """Build and count one query; returns its wall time."""
        q = spec.name
        sc = self.spark.sparkContext
        group = f"perfbench-{self.n_pass}-{q}"
        self.before_op(res)
        sc.setJobGroup(group, q)
        try:
            with _op(tracer, group, q), Stopwatch() as watch:
                t0 = time.perf_counter()
                # suite.all_specs() holds the query functions from before
                # the tracer was installed, so the span is opened here
                df = (tracer.call(f"suite.{q}", "suite", spec.fn, self.spark, self.sf_dir)
                      if tracer else spec.fn(self.spark, self.sf_dir))
                t1 = time.perf_counter()
                jobs_before = len(self.jobs.group(group)) if tracer else 0
                n = df.count()
                t2 = time.perf_counter()
        finally:
            sc.setJobGroup("", "")
        res.op(q, watch)
        res.check(f"count {q}", n == self.counts[q], f"{n} rows, warm pass had {self.counts[q]}")
        if tracer:
            res.layer(f"curation.{q}.build_s", t1 - t0)
            res.layer(f"curation.{q}.action_s", t2 - t1)
            res.layer(f"curation.{q}.jobs", len(self.jobs.group(group)))
            res.layer(f"curation.{q}.jobs_before_action", jobs_before)
        return watch.wall

    def _drain_incremental_dedup(self, run):
        from automated_data_pipeline_spark.streaming.incremental_dedup import (
            FingerprintStore, start_incremental_dedup,
        )

        store = os.path.join(run, "store")
        q = start_incremental_dedup(
            self.spark, self._src("incremental_dedup"), FingerprintStore(store),
            os.path.join(run, "out"), os.path.join(run, "ckpt"), available_now=True,
        )
        q.awaitTermination()
        return [q], store

    def _check_stream(self, res: Result, s: str, run: str) -> None:
        """Stream total equals the batch total; the replay shard adds
        nothing."""
        n = self.spark.read.parquet(os.path.join(run, "out")).count()
        res.check(s, n == self.expected[s], f"{n} kept, batch distinct {self.expected[s]}")

    def named_metrics(self, res: Result) -> dict:
        return res.named_medians()

    def span_metrics(self, spans: list[dict]) -> dict:
        return {}


def _op(tracer, op_id, name):
    return tracer.op(op_id, name) if tracer else nullcontext()


def _stream_layer(res: Result, s: str, took: float, queries, store: str) -> None:
    progress = [p for q in queries for p in q.recentProgress]

    def dur(k):
        return sum(p.get("durationMs", {}).get(k, 0) for p in progress)

    res.layer(f"streaming.{s}.drain_s", took)
    res.layer(f"streaming.{s}.batches", len(progress))
    res.layer(f"streaming.{s}.add_batch_ms", dur("addBatch"))
    res.layer(f"streaming.{s}.planning_ms", dur("queryPlanning"))
    res.layer(f"streaming.{s}.commit_ms", dur("walCommit") + dur("commitOffsets"))
    res.layer(f"streaming.{s}.store_bytes", dir_bytes(store))
