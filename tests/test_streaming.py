"""Structured Streaming surface tests: file-drop trigger end-to-end and
windowed aggregations driven to completion with availableNow/memory
sinks."""

from __future__ import annotations

import logging
import os
import textwrap
import time

from pyspark.sql import functions as F

from automated_data_pipeline_spark.runner import PipelineRunner
from automated_data_pipeline_spark.streaming.file_trigger import start_file_trigger
from automated_data_pipeline_spark.streaming import windows as SW
from automated_data_pipeline_spark.suite import load

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"


def test_file_trigger_runs_pipeline(spark, tmp_path, workdir):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "drop1.csv"), "w") as f:
        f.write(
            textwrap.dedent(
                """\
                OrderId,CustomerId,Amount,OrderDate
                ORD-S1,C1,25.00,2024-01-02
                ORD-S2,C2,250.00,2024-01-03
                """
            )
        )
    runner = PipelineRunner(spark, workdir)
    q = start_file_trigger(spark, runner, landing)
    q.awaitTermination(120)

    target = {r["order_id"]: r for r in runner.target.read(spark).collect()}
    assert set(target) == {"ORD-S1", "ORD-S2"}
    assert target["ORD-S1"]["amount_category"] == "Low"
    assert target["ORD-S2"]["amount_category"] == "High"
    runs = runner.control.runs(spark).collect()
    assert len(runs) == 1 and runs[0]["status"] == "Success"

    # second drop -> second run, upserted target
    with open(os.path.join(landing, "drop2.csv"), "w") as f:
        f.write("OrderId,CustomerId,Amount,OrderDate\nORD-S1,C9,75.00,2024-02-01\n")
    q2 = start_file_trigger(spark, runner, landing)
    q2.awaitTermination(120)
    target = {r["order_id"]: r for r in runner.target.read(spark).collect()}
    assert len(target) == 2  # upsert, not append
    assert target["ORD-S1"]["customer_id"] == "C9"
    assert target["ORD-S1"]["amount_category"] == "Medium"


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_windows_match_batch(spark, tmp_path):
    # batch events -> re-materialized as a file stream. Append mode only
    # emits a window once the watermark passes its end, so the trailing
    # window would stay in state forever; a sentinel event 2h past the max
    # event time pushes the watermark beyond every real window.
    events = load(spark, SF, "events")
    sentinel = (
        events.limit(1)
        .withColumn("ts", F.lit(events.agg(F.max("ts")).first()[0]) + F.expr("INTERVAL 2 HOURS"))
        .withColumn("event_type", F.lit("_sentinel"))
    )
    src = str(tmp_path / "events_stream")
    events.unionByName(sentinel).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    out = _run_stream(spark, SW.tumbling_counts(stream), "tumbling_out")
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in out.collect()
        if r["event_type"] != "_sentinel"
    }
    want = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want  # every real window finalized; watermark drops nothing


def test_streaming_session_window(spark, tmp_path):
    events = load(spark, SF, "events")
    src = str(tmp_path / "events_sess")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = _run_stream(spark, SW.session_counts(stream), "session_out")
    assert out.count() > 0
    # sessions are per-user and non-overlapping
    row = out.orderBy("user_id", "session_start").first()
    assert row["session_end"] >= row["session_start"]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    events = load(spark, SF, "events").limit(200)
    dup = events.union(events)  # every event twice
    src = str(tmp_path / "events_dup")
    dup.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = _run_stream(spark, SW.dedup_within_watermark(stream), "dedup_out")
    assert out.count() == 200


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    import os as _os
    import time as _time
    from pyspark.sql import Row
    from automated_data_pipeline_spark.streaming.stateful import stateful_sessionize

    events = load(spark, SF, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "events_stateful")
    events.coalesce(1).write.parquet(src)
    max_ts = events.agg(F.max("ts")).first()[0]

    # two sentinel batches push the watermark past every real session's
    # timeout (the last data batch is the only chance for timeouts to fire)
    from datetime import timedelta
    for i, delta_h in enumerate([2, 4]):
        s = spark.createDataFrame(
            [Row(user_id=-1, ts=max_ts + timedelta(hours=delta_h), value=0.0)]
        )
        _time.sleep(1.1)
        s.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = stateful_sessionize(stream, gap="30 minutes", watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stateful_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("SELECT * FROM stateful_sessions")
        .filter(F.col("user_id") >= 0)
        .collect()
    )
    got_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got
    }

    # batch oracle: lag+cumsum sessionization (same strict >30min gap)
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.when(
        F.col("ts").cast("double") - F.lag("ts").over(w).cast("double") > 1800, 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch = (
        events.withColumn("new_session", gap)
        .withColumn("sid", F.sum("new_session").over(run))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    want_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got_set == want_set


def test_watermark_drops_late_data(spark, tmp_path):
    """A row arriving in a later micro-batch, with event time older than
    the advanced watermark, is dropped from the aggregation."""
    import time as _time
    from datetime import datetime, timedelta
    from pyspark.sql import Row

    base = datetime(2024, 6, 1, 12, 0, 0)
    schema_src = load(spark, SF, "events").select("user_id", "ts", "event_type", "value")
    src = str(tmp_path / "late_events")

    def write_batch(rows):
        spark.createDataFrame([Row(**r) for r in rows], schema_src.schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        _time.sleep(1.1)

    # Late-drop guarantee: once a window is emitted+evicted (watermark
    # passed its end in an earlier batch), later rows for it are dropped
    # — Spark's late filter uses the PREVIOUS batch's watermark, so the
    # late row must arrive at least one batch after the advance.
    write_batch([dict(user_id=1, ts=base, event_type="click", value=1.0)])
    # advance the watermark past the base-hour window's end...
    write_batch(
        [dict(user_id=1, ts=base + timedelta(hours=3), event_type="click", value=1.0)]
    )
    # ...so this batch EVICTS and emits the base-hour window (n=1)...
    write_batch(
        [dict(user_id=1, ts=base + timedelta(hours=4), event_type="click", value=1.0)]
    )
    # ...and the late row, arriving after eviction, is dropped
    write_batch(
        [
            dict(user_id=1, ts=base + timedelta(minutes=1), event_type="click", value=1.0),
            dict(user_id=1, ts=base + timedelta(hours=6), event_type="click", value=1.0),
        ]
    )
    stream = (
        spark.readStream.schema(schema_src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_stream(spark, SW.tumbling_counts(stream), "late_drop_out")
    counts = {r["window_start"]: r["n"] for r in out.collect()}
    # the base-hour window closed with ONE event: the late row was dropped
    assert counts[base.replace(minute=0)] == 1


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with event-time bounds equals the batch
    range join on the same data."""
    events = load(spark, SF, "events")
    src = str(tmp_path / "ss_events")
    events.write.parquet(src)

    def mk_stream():
        return spark.readStream.schema(events.schema).parquet(src)

    purchases = mk_stream().filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = mk_stream().filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = _run_stream(
        spark,
        SW.stream_stream_join(purchases, clicks, on="user_id", within="1 hour"),
        "ss_join_out",
    )
    got = {(r["l_purchase_id"], r["r_click_id"]) for r in out.collect()}

    bp = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("purchase_id")
    )
    bc = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuid"), F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    want_df = bp.join(
        bc,
        (bp.user_id == bc.cuid)
        & (bc.cts >= bp.pts - F.expr("INTERVAL 1 HOUR"))
        & (bc.cts <= bp.pts),
    )
    want = {(r["purchase_id"], r["click_id"]) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_batch_replay_is_idempotent(spark, workdir):
    """A replayed foreachBatch delivery (same batch_id) maps to the same
    run_id and is skipped once recorded Success."""
    from automated_data_pipeline_spark.runner import PipelineRunner
    from automated_data_pipeline_spark.streaming.file_trigger import (
        batch_run_id,
        run_batch_idempotent,
    )
    from automated_data_pipeline_spark.sources.generators import generate_orders

    runner = PipelineRunner(spark, workdir)
    df = generate_orders(spark, 10)
    rid1 = run_batch_idempotent(runner, df, 7, "ckpt-A", "Stream-CSV", "P")
    rid2 = run_batch_idempotent(runner, df, 7, "ckpt-A", "Stream-CSV", "P")  # replay
    assert rid1 == batch_run_id("ckpt-A", 7)
    assert rid2 is None  # skipped
    assert runner.control.runs(spark).count() == 1
    assert runner.target.read(spark).count() == 10
    # a different batch id is a new run
    rid3 = run_batch_idempotent(runner, df, 8, "ckpt-A", "Stream-CSV", "P")
    assert rid3 and rid3 != rid1
    assert runner.control.runs(spark).count() == 2


def test_incremental_dedup_batches_and_replay(spark, tmp_path):
    """Three micro-batches through the fingerprint store: within-batch
    dups collapse, cross-batch dups are anti-joined away, and a
    replayed batch_key is a no-op (exactly-once append)."""
    from automated_data_pipeline_spark.streaming.incremental_dedup import (
        FingerprintStore,
        dedup_batch_against_store,
    )

    store = FingerprintStore(str(tmp_path / "fp_store"))
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "Alpha  BETA!")],
        "doc_id bigint, text string",
    )
    n1 = dedup_batch_against_store(spark, b1, store, batch_key="k1")
    # doc 3 normalizes to doc 1's fingerprint -> within-batch dup
    assert sorted(r["doc_id"] for r in n1.collect()) == [1, 2]

    b2 = spark.createDataFrame(
        [(4, "alpha beta"), (5, "epsilon zeta")], "doc_id bigint, text string"
    )
    n2 = dedup_batch_against_store(spark, b2, store, batch_key="k2")
    # doc 4 duplicates the stored corpus -> only 5 is novel
    assert [r["doc_id"] for r in n2.collect()] == [5]

    # Replay re-derives the SAME survivors from the store (so a caller
    # whose downstream corpus write crashed can retry it) but appends
    # nothing new to the store.
    replay = dedup_batch_against_store(spark, b2, store, batch_key="k2")
    assert [r["doc_id"] for r in replay.collect()] == [5]
    assert store.read(spark).count() == 3  # 1, 2, 5 — replay appended nothing


def test_incremental_dedup_stream_end_to_end(spark, tmp_path):
    """File-source stream -> fingerprint anti-join -> curated output:
    only first-seen texts reach out_dir, across separate files."""
    import json
    import os

    from automated_data_pipeline_spark.streaming.incremental_dedup import (
        FingerprintStore,
        start_incremental_dedup,
    )

    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    rows1 = [{"doc_id": 1, "text": "one fish"}, {"doc_id": 2, "text": "two fish"}]
    rows2 = [{"doc_id": 3, "text": "one fish"}, {"doc_id": 4, "text": "red fish"}]
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows1))
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows2))

    store = FingerprintStore(str(tmp_path / "fp"))
    out = str(tmp_path / "curated")
    q = start_incremental_dedup(
        spark, src, store, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 4]  # doc 3 is a cross-file duplicate


def test_stream_progress_tracker_cumulative_and_logged(spark, tmp_path, workdir):
    """Per-micro-batch progress (StepProgress.java parity at Spark's
    native granularity): cumulative row totals per query + control-log
    rows visible through the normal monitoring surface."""
    from automated_data_pipeline_spark.control import ControlStore
    from automated_data_pipeline_spark.streaming.progress import (
        StreamProgressTracker,
    )

    control = ControlStore(workdir)
    tracker = StreamProgressTracker(control, pipeline_name="ProgressTest")
    spark.streams.addListener(tracker)
    try:
        src = str(tmp_path / "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.csv"), "w") as f:
            f.write("\n".join(str(i) for i in range(30)) + "\n")
        stream = (
            spark.readStream.schema("v int")
            .option("maxFilesPerTrigger", 1)
            .csv(src)
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("prog_test")
            .option(
                "checkpointLocation", str(tmp_path / "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async — poll briefly
        deadline = time.time() + 30
        totals = {}
        while time.time() < deadline:
            totals = tracker.snapshot()
            if any(v["rows"] >= 30 for v in totals.values()):
                break
            time.sleep(0.5)
        mine = [v for v in totals.values() if v["name"] == "prog_test"]
        assert mine and mine[0]["rows"] == 30 and mine[0]["batches"] >= 1
        logs = (
            control.logs(spark)
            .filter("step_name = 'StreamProgress'")
            .collect()
        )
        assert logs and any("30 total" in r["message"] for r in logs)
    finally:
        spark.streams.removeListener(tracker)


def test_stream_progress_tracker_warns_on_failed_control_write(spark, caplog):
    """Progress stays best effort — a control store whose ``log``
    raises never fails the stream — but the failure is logged with the
    query and batch id instead of being swallowed."""
    from types import SimpleNamespace

    from automated_data_pipeline_spark.streaming.progress import (
        StreamProgressTracker,
    )

    class DownControl:
        def log(self, **_kw):
            raise OSError("control store down")

    tracker = StreamProgressTracker(DownControl(), pipeline_name="ProgressTest")
    event = SimpleNamespace(progress=SimpleNamespace(
        id="q-1", name="prog", numInputRows=5, batchId=3,
    ))
    with caplog.at_level(logging.WARNING):
        tracker.onQueryProgress(event)
    assert tracker.snapshot()["q-1"]["rows"] == 5
    warned = [r.getMessage() for r in caplog.records
              if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert "q-1" in warned[0] and "batch 3" in warned[0]
    assert "control store down" in warned[0]


def test_fingerprint_store_compaction(spark, tmp_path):
    import glob

    from automated_data_pipeline_spark.streaming.incremental_dedup import (
        FingerprintStore,
        dedup_batch_against_store,
    )

    store = FingerprintStore(str(tmp_path / "fpc"))
    for i in range(3):
        batch = spark.createDataFrame(
            [(i * 10 + j, f"doc number {i} {j} content") for j in range(3)],
            "doc_id bigint, text string",
        )
        dedup_batch_against_store(
            spark, batch, store, batch_key=f"b{i}", maybe_replay=False
        )
    before = {
        (r["fingerprint"], r["doc_id"]) for r in store.read(spark).collect()
    }
    n_before = len(glob.glob(f"{store.path}/*.parquet"))
    store.compact(spark, n_files=1)
    assert len(glob.glob(f"{store.path}/*.parquet")) == 1 < n_before
    after = {
        (r["fingerprint"], r["doc_id"]) for r in store.read(spark).collect()
    }
    assert after == before
    # exact dup of a stored doc still rejected post-compaction
    dup = spark.createDataFrame(
        [(99, "doc number 0 0 content")], "doc_id bigint, text string"
    )
    out = dedup_batch_against_store(
        spark, dup, store, batch_key="b9", maybe_replay=False
    )
    assert out.count() == 0


def test_sessionize_user_state_merge_edges():
    """The vectorized _sessionize_user must preserve the loop semantics
    on carried-state edges: (a) events at/below state's `last` always
    merge; (b) an immediate gap closes the carried session; (c) a
    continuing chunk extends it; (d) multiple segments split correctly."""
    import pandas as pd

    from automated_data_pipeline_spark.streaming.stateful import _sessionize_user

    GAP = 10_000_000  # 10s in us

    class FakeState:
        def __init__(self, value=None):
            self._v = value
            self.hasTimedOut = False
            self.updated = None
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def remove(self):
            self._v = None

    def run(state_val, ts_us, values):
        st = FakeState(state_val)
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime([t * 1000 for t in ts_us]), "value": values}
        )
        out = list(_sessionize_user((7,), iter([pdf]), st, GAP))
        closed = []
        if out:
            for _, r in out[0].iterrows():
                closed.append(
                    (r["session_start"].value // 1000,
                     r["session_end"].value // 1000,
                     int(r["n_events"]), float(r["total_value"]))
                )
        return closed, st.updated

    S = 1_000_000  # 1s
    # (a) late-but-above-watermark events (t <= last) merge, never close
    closed, updated = run((0, 20 * S, 2, 5.0), [5 * S, 10 * S], [1.0, 2.0])
    assert closed == []
    assert updated == (0, 20 * S, 4, 8.0)

    # (b) immediate gap: carried session closes, fresh one opens
    closed, updated = run((0, 5 * S, 1, 1.0), [100 * S], [3.0])
    assert closed == [(0, 5 * S, 1, 1.0)]
    assert updated == (100 * S, 100 * S, 1, 3.0)

    # (c) continuing chunk extends the carried session, later gap splits
    closed, updated = run(
        (0, 5 * S, 1, 1.0), [8 * S, 12 * S, 100 * S, 103 * S], [1.0, 1.0, 5.0, 5.0]
    )
    assert closed == [(0, 12 * S, 3, 3.0)]
    assert updated == (100 * S, 103 * S, 2, 10.0)

    # (d) no state: multiple segments, last stays open
    closed, updated = run(None, [0, S, 50 * S, 51 * S, 200 * S], [1.0] * 5)
    assert closed == [(0, S, 2, 2.0), (50 * S, 51 * S, 2, 2.0)]
    assert updated == (200 * S, 200 * S, 1, 1.0)

    # (a)+(b) combined: merge late events THEN close on gap
    closed, updated = run(
        (0, 20 * S, 2, 5.0), [5 * S, 100 * S], [1.0, 7.0]
    )
    assert closed == [(0, 20 * S, 3, 6.0)]
    assert updated == (100 * S, 100 * S, 1, 7.0)


def test_stream_stream_left_join_emits_delayed_nulls(spark, tmp_path):
    """Left-outer stream-stream join: matched rows emit like the inner
    join; an unmatched left row emits with NULL right columns once the
    watermark passes its join window (never before — Spark must rule
    out a late match)."""
    import time as _time
    from datetime import datetime, timedelta
    from pyspark.sql import Row

    base = datetime(2024, 6, 1, 12, 0, 0)
    pdir = str(tmp_path / "purchases")
    cdir = str(tmp_path / "clicks")
    schema = "user_id bigint, ts timestamp, eid string"

    def write(d, rows):
        spark.createDataFrame([Row(**r) for r in rows], schema).coalesce(
            1
        ).write.mode("append").parquet(d)
        _time.sleep(1.1)

    # clicks first so the matching right row is in state before its
    # purchase arrives
    write(cdir, [dict(user_id=1, ts=base, eid="c1")])
    write(pdir, [dict(user_id=1, ts=base + timedelta(minutes=30), eid="p1")])
    write(pdir, [dict(user_id=2, ts=base + timedelta(minutes=5), eid="p2")])  # no click
    # sentinels on BOTH inputs (the join watermark is the minimum over
    # all inputs): first advance pushes it far past every join window,
    # the following batch triggers eviction/null-emission of expired
    # left state
    write(cdir, [dict(user_id=-2, ts=base + timedelta(hours=5), eid="cs")])
    write(pdir, [dict(user_id=-1, ts=base + timedelta(hours=5), eid="s1")])
    write(pdir, [dict(user_id=-1, ts=base + timedelta(hours=6), eid="s2")])

    purchases = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    )
    clicks = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(cdir)
    )
    out = _run_stream(
        spark,
        SW.stream_stream_left_join(
            purchases.withColumnRenamed("eid", "purchase_id"),
            clicks.withColumnRenamed("eid", "click_id"),
            on="user_id",
            within="1 hour",
        ),
        "ss_left_join_out",
    )
    rows = {
        r["l_purchase_id"]: r["r_click_id"]
        for r in out.collect()
        if not r["l_purchase_id"].startswith("s")
    }
    assert rows == {"p1": "c1", "p2": None}


def test_file_trigger_survives_a_failing_upload(spark, tmp_path, workdir):
    """A deterministically-failing upload must not wedge the stream:
    the other file in the same drop still processes and a later drop
    still triggers. (Before the fix, the re-raise failed the
    micro-batch before its checkpoint commit — the bad file replayed
    on every restart and starved all later uploads.)"""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for name, oid in [("aaa_bad.csv", "ORD-B1"), ("good.csv", "ORD-G1")]:
        with open(os.path.join(landing, name), "w") as f:
            f.write(
                "OrderId,CustomerId,Amount,OrderDate\n"
                f"{oid},C1,25.00,2024-01-02\n"
            )
    runner = PipelineRunner(spark, workdir)
    orig_run = runner.run

    def flaky_run(source_path=None, **kw):
        if "aaa_bad" in (source_path or ""):
            raise RuntimeError("boom: corrupt upload")
        return orig_run(source_path=source_path, **kw)

    runner.run = flaky_run
    q = start_file_trigger(spark, runner, landing)
    q.awaitTermination(120)
    assert q.exception() is None, f"stream died: {q.exception()}"
    target = {r["order_id"] for r in runner.target.read(spark).collect()}
    assert target == {"ORD-G1"}

    # the stream keeps serving: a later drop processes normally
    with open(os.path.join(landing, "later.csv"), "w") as f:
        f.write(
            "OrderId,CustomerId,Amount,OrderDate\n"
            "ORD-L1,C3,300.00,2024-02-01\n"
        )
    q2 = start_file_trigger(spark, runner, landing)
    q2.awaitTermination(120)
    assert q2.exception() is None
    target = {r["order_id"] for r in runner.target.read(spark).collect()}
    assert target == {"ORD-G1", "ORD-L1"}
