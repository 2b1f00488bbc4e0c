"""Monitoring API, scrape source, cancellation, and timeout-sweep tests
(SURVEY.md §2.2 P3-P6, §2.5 J1-J2, §2.6 O1-O2, §2.8 ST5-ST6, §2.1 S8)."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark import api
from automated_data_pipeline_spark.control import utcnow
from automated_data_pipeline_spark.runner import (
    TIMEOUT_STATUS,
    PipelineCancelledError,
    PipelineRunner,
)
from automated_data_pipeline_spark.sources.generators import generate_orders
from automated_data_pipeline_spark.sources.scrape import scrape_to_df


def _run_once(spark, workdir, name="P1", n=20):
    runner = PipelineRunner(spark, workdir)
    df = generate_orders(spark, n)
    runner.run(source_df=df, source_type="Generated", pipeline_name=name)
    return runner


def test_monitoring_api_roundtrip(spark, workdir):
    runner = _run_once(spark, workdir, name="Alpha")
    _run_once(spark, workdir, name="Beta", n=10)

    runs = runner.control.runs(spark)
    listed = api.list_runs(runs).collect()
    assert len(listed) == 2
    assert listed[0]["created_at"] >= listed[1]["created_at"]  # newest first
    only_alpha = api.list_runs(runs, pipeline="Alpha").collect()
    assert [r["pipeline_name"] for r in only_alpha] == ["Alpha"]
    assert api.list_runs(runs, status="Failed").count() == 0

    rid = only_alpha[0]["run_id"]
    detail = api.run_detail(runs, runner.control.steps(spark), rid).first()
    steps = detail["steps"]
    assert [s["step_number"] for s in steps] == [1, 2, 3, 4]
    assert all(s["status"] == "Success" for s in steps)

    logs = runner.control.logs(spark)
    chron = api.run_logs(logs, rid).collect()
    assert len(chron) >= 10  # start + 2/step + finish
    assert chron == sorted(chron, key=lambda r: (r["log_at"], r["log_id"]))
    assert api.list_logs(logs, level="Info", limit=5).count() == 5
    assert api.list_logs(logs, limit=99999).count() <= api.MAX_LOG_LIMIT


def test_cancellation_cooperative(spark, workdir):
    runner = PipelineRunner(spark, workdir)
    rid = "pre-cancelled-run"
    runner.cancel(rid)
    runner.run(
        source_df=generate_orders(spark, 5),
        source_type="Generated",
        run_id=rid,
    )
    run = runner.control.runs(spark).filter(F.col("run_id") == rid).first()
    assert run["status"] == "Cancelled"
    step1 = (
        runner.control.steps(spark)
        .filter((F.col("run_id") == rid) & (F.col("step_number") == 1))
        .first()
    )
    assert step1["status"] == "Failed" and step1["error_message"] == "Cancelled"


def test_timeout_sweep(spark, workdir):
    runner = _run_once(spark, workdir)
    # a run left Running for >6h gets swept; a fresh Running run doesn't
    stale = runner.control.start_run(pipeline_name="Stuck")
    fresh = runner.control.start_run(pipeline_name="FreshRunning")
    sc = spark.sparkContext
    sc.setJobGroup("timeout-sweep", "sweep")
    try:
        n = len(runner.sweep_timeouts(now=utcnow() + timedelta(hours=7)))
        # both are older than 7h-6h=1h? no: stale+fresh started 'now', cutoff
        # = now+7h-6h = start+1h -> both swept. Re-check with a tight now:
        assert n == 2
        n2 = len(runner.sweep_timeouts(now=utcnow()))
        assert n2 == 0  # nothing Running anymore
    finally:
        sc.setJobGroup("", "")
    # the sweep reads the control store's Arrow tables: no Spark job, so
    # it never waits for task slots a hung run holds
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("timeout-sweep") == []
    statuses = {
        r["run_id"]: r["status"] for r in runner.control.runs(spark).collect()
    }
    assert statuses[stale] == TIMEOUT_STATUS and statuses[fresh] == TIMEOUT_STATUS


def test_failed_job_group_cancel_is_logged(workdir, caplog):
    """cancelJobGroup is best effort in cancel() and the sweep, but a
    failure is logged with the run id instead of vanishing."""
    from types import SimpleNamespace

    def refuse(group):
        raise RuntimeError("context stopped")

    fake = SimpleNamespace(sparkContext=SimpleNamespace(cancelJobGroup=refuse))
    runner = PipelineRunner(fake, workdir, progress_interval=None, target_format="parquet")
    with caplog.at_level("WARNING", logger="automated_data_pipeline_spark.runner"):
        runner.cancel("run-x")
        stale = runner.control.start_run(pipeline_name="Stuck")
        assert runner.sweep_timeouts(now=utcnow() + timedelta(hours=7)) == [stale]
    with pytest.raises(PipelineCancelledError):
        runner._check_cancelled("run-x")
    logged = [r.getMessage() for r in caplog.records]
    assert any("run-x" in m and "context stopped" in m for m in logged), logged
    assert any(stale in m for m in logged), logged


def test_scrape_to_df_normalization(spark):
    def fake_fetcher(url, selectors, click_selector=None):
        assert click_selector == "#more"
        return {"title": "Hello", "items": ["a", "b", "c"], "missing": None}

    df = scrape_to_df(
        spark,
        "https://example.com",
        {"title": "h1", "items": ".item", "missing": ".nope"},
        click_selector="#more",
        fetcher=fake_fetcher,
    )
    got = {r["selector"]: r["values"] for r in df.collect()}
    assert got == {"title": ["Hello"], "items": ["a", "b", "c"], "missing": None}
    assert dict(df.dtypes)["values"] == "array<string>"


def test_scrape_playwright_gated(spark):
    with pytest.raises(NotImplementedError):
        scrape_to_df(spark, "https://example.com", {"t": "h1"})


def test_cross_instance_update_preserves_state(spark, workdir):
    """A second ControlStore over the same workdir (another process in
    production) must not wipe run state to NULLs when updating, and must
    not reuse run numbers."""
    from automated_data_pipeline_spark.control import ControlStore

    a = ControlStore(workdir)
    rid = a.start_run(pipeline_name="CrossProc")

    b = ControlStore(workdir)  # fresh instance, empty cache
    b.update_run(rid, status="Failed-TimeOut-6Hours", finished_at=utcnow())
    run = a.runs(spark).filter(F.col("run_id") == rid).first()
    assert run["status"] == "Failed-TimeOut-6Hours"
    assert run["pipeline_name"] == "CrossProc"  # preserved, not NULLed
    assert run["run_number"] == 1 and run["created_at"] is not None

    b.update_step(rid, 2, status="Failed", error_message="swept")
    st = (
        a.steps(spark)
        .filter((F.col("run_id") == rid) & (F.col("step_number") == 2))
        .first()
    )
    assert st["step_name"] == "Extract"  # preserved from the start row

    assert b.next_run_number() == 2  # sees A's run on disk
    rid2 = b.start_run(pipeline_name="CrossProc2")
    assert a.next_run_number() == 3  # and vice versa


def _event_file(directory, name, **row):
    """Write one run event file by hand (name order under test control)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from automated_data_pipeline_spark.control import _RUN_FIELDS

    schema = pa.schema(_RUN_FIELDS)
    table = pa.Table.from_pylist([row], schema=schema)
    pq.write_table(table, os.path.join(directory, name))
    return os.path.join(directory, name)


def test_read_cache_sees_later_writes_of_another_store(spark, workdir):
    """Store B's decode-once cache is warm before store A writes; B's
    views and point lookups must still see A's later events, including
    a newer state of a run B already decoded."""
    from automated_data_pipeline_spark.control import ControlStore

    a, b = ControlStore(workdir), ControlStore(workdir)
    r1 = a.start_run(pipeline_name="A1")
    assert b.latest_run_state(r1)["status"] == "Running"
    assert [r["run_id"] for r in b.runs(spark).collect()] == [r1]
    assert b.logs(spark).count() == 0

    a.update_run(r1, status="Success", finished_at=utcnow())
    a.update_step(r1, 1, status="Success")
    r2 = a.start_run(pipeline_name="A2")
    a.log(r2, "Info", "hello")

    state = b.latest_run_state(r1)
    assert state["status"] == "Success" and state["pipeline_name"] == "A1"
    assert "event_seq" not in state
    got = {r["run_id"]: r["status"] for r in b.runs(spark).collect()}
    assert got == {r1: "Success", r2: "Running"}
    steps = {
        (s["run_id"], s["step_number"]): s["status"]
        for s in b.steps(spark).collect()
    }
    assert len(steps) == 8 and steps[(r1, 1)] == "Success"
    assert steps[(r1, 2)] == steps[(r2, 1)] == "Pending"
    assert [r["message"] for r in b.logs(spark).collect()] == ["hello"]
    assert b.next_run_number() == 3


def test_read_cache_tie_delete_and_hidden_files(spark, workdir):
    """Equal event_seq: the earliest file in name order wins, in the
    runs view and the point lookup alike, warm or cold. A deleted event
    file leaves the view; '.tmp-*' and '_claim_*' entries never enter."""
    import os

    from automated_data_pipeline_spark.control import ControlStore

    store = ControlStore(workdir)
    d = store.runs_dir
    # written in reverse name order, so write order is not the tiebreak
    _event_file(d, "00000000000000000002-b.parquet", run_id="r", run_number=1,
                status="LaterName", event_seq=5)
    first = _event_file(d, "00000000000000000001-a.parquet", run_id="r",
                        run_number=1, status="EarlierName", event_seq=5)
    other = _event_file(d, "00000000000000000003-c.parquet", run_id="s",
                        run_number=2, status="Running", event_seq=1)
    for st in (store, ControlStore(workdir)):
        assert st.latest_run_state("r")["status"] == "EarlierName"
        view = {x["run_id"]: x["status"] for x in st.runs(spark).collect()}
        assert view == {"r": "EarlierName", "s": "Running"}
    # a newer event_seq beats file order
    _event_file(d, "00000000000000000000-z.parquet", run_id="r", run_number=1,
                status="Newest", event_seq=6)
    assert store.latest_run_state("r")["status"] == "Newest"

    # deletion drops the event from the warm cache's view
    os.remove(other)
    assert store.latest_run_state("s") is None
    assert [x["run_id"] for x in store.runs(spark).collect()] == ["r"]
    assert store.next_run_number() == 2

    # crashed temp writes and run-number claims are not events
    with open(os.path.join(d, ".tmp-00000000000000000009-x.parquet"), "wb") as f:
        f.write(b"torn")
    with open(os.path.join(d, "_claim_run_000000042"), "wb"):
        pass
    with open(os.path.join(store.logs_dir, ".tmp-torn.parquet"), "wb") as f:
        f.write(b"torn")
    for st in (store, ControlStore(workdir)):
        assert [x["run_id"] for x in st.runs(spark).collect()] == ["r"]
        assert st.logs(spark).count() == 0
        assert st.next_run_number() == 2
    os.remove(first)
    assert store.latest_run_state("r")["status"] == "Newest"


def test_run_number_fallback_oldest_is_one(spark, workdir):
    runner = _run_once(spark, workdir, name="First")
    _run_once(spark, workdir, name="Second")
    runs = runner.control.runs(spark).withColumn(
        "run_number", F.lit(None).cast("long")
    )
    out = {r["pipeline_name"]: r["run_number"] for r in api.with_run_number_fallback(runs).collect()}
    assert out == {"First": 1, "Second": 2}


def test_cancelled_run_id_can_be_retried(spark, workdir):
    from automated_data_pipeline_spark.runner import PipelineRunner
    from automated_data_pipeline_spark.sources.generators import generate_orders

    runner = PipelineRunner(spark, workdir)
    rid = "retry-me"
    runner.cancel(rid)
    runner.run(source_df=generate_orders(spark, 5), source_type="G", run_id=rid)
    assert (
        runner.control.runs(spark).filter(F.col("run_id") == rid).first()["status"]
        == "Cancelled"
    )
    # the flag was cleared: the same run_id retries successfully
    runner.run(source_df=generate_orders(spark, 5), source_type="G", run_id=rid)
    assert (
        runner.control.runs(spark).filter(F.col("run_id") == rid).first()["status"]
        == "Success"
    )


def test_validate_upload_whitelist_and_cap():
    import pytest

    from automated_data_pipeline_spark import api

    api.validate_upload("orders.csv", 1024)
    api.validate_upload("orders.JSON", 1024)  # case-insensitive like the reference
    with pytest.raises(ValueError, match="only CSV and JSON"):
        api.validate_upload("orders.xlsx", 10)
    with pytest.raises(ValueError, match="only CSV and JSON"):
        api.validate_upload("orders", 10)
    with pytest.raises(ValueError, match="too large"):
        api.validate_upload("orders.csv", api.UPLOAD_MAX_BYTES + 1)
    # Java servlet's larger cap is a parameter, not a fork
    api.validate_upload("orders.csv", 50 * 1024 * 1024, max_bytes=100 * 1024 * 1024)


def test_failed_run_retry_does_not_duplicate_stage_rows(spark, workdir):
    """Retrying a failed run with the SAME run_id (the documented
    recovery path) must replace the failed attempt's stage rows, not
    append a second copy."""
    from automated_data_pipeline_spark.runner import PipelineRunner
    from automated_data_pipeline_spark.sources.generators import generate_orders

    runner = PipelineRunner(spark, workdir)
    bad = generate_orders(spark, 20).withColumn(
        "Amount", F.when(F.col("OrderId") == "ORD-000001", -1.0).otherwise(F.col("Amount"))
    )
    rid = "retry-me"
    with pytest.raises(Exception):
        runner.run(source_df=bad, source_type="Generated", run_id=rid,
                   fail_on_negative=True)
    # retry with clean data under the same run_id
    runner.run(
        source_df=generate_orders(spark, 20), source_type="Generated", run_id=rid
    )
    landing = spark.read.parquet(f"{workdir}/stages/landing").filter(
        F.col("run_id") == rid
    )
    assert landing.count() == 20  # not 40
    run = runner.control.runs(spark).filter(F.col("run_id") == rid).first()
    assert run["status"] == "Success"
    steps = runner.control.steps(spark).filter(F.col("run_id") == rid).collect()
    assert all(s["status"] == "Success" for s in steps)


def test_concurrent_start_runs_get_distinct_run_numbers(spark, workdir):
    """Two threads starting runs on one ControlStore must not hand out
    duplicate run numbers (the MAX+1 TOCTOU) or corrupt the cache."""
    import threading

    from automated_data_pipeline_spark.control import ControlStore

    ctl = ControlStore(workdir)
    ids = [[] for _ in range(4)]

    def worker(slot):
        for _ in range(5):
            ids[slot].append(ctl.start_run(pipeline_name=f"P{slot}"))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    nums = [
        r["run_number"]
        for r in ctl.runs(spark).select("run_number").collect()
    ]
    assert len(nums) == 20
    assert len(set(nums)) == 20, f"duplicate run numbers: {sorted(nums)}"


def test_run_number_claims_are_removed_and_stale_views_advance(spark, workdir):
    """Two stores on one workdir: the claim marker goes once the
    Running row is listed, and a store whose MAX read predates another
    store's row (a stale view) still gets a distinct number — its
    claim of the taken number is dropped on the post-claim re-read."""
    import os

    from automated_data_pipeline_spark.control import ControlStore

    a, b = ControlStore(workdir), ControlStore(workdir)
    ra = a.start_run(pipeline_name="A")
    # b read MAX=0 before a's row landed; a's marker is already gone
    b.next_run_number = lambda: 1
    rb = b.start_run(pipeline_name="B")
    rc = a.start_run(pipeline_name="C")
    nums = {
        r["run_id"]: r["run_number"]
        for r in ControlStore(workdir).runs(spark).collect()
    }
    assert sorted(nums.values()) == [1, 2, 3], nums
    assert nums[ra] == 1 and nums[rb] == 2 and nums[rc] == 3
    assert not [f for f in os.listdir(a.runs_dir) if f.startswith("_claim_run_")]


def test_two_stores_many_threads_get_distinct_run_numbers(workdir):
    """Stress: two stores on one workdir, more threads than cores,
    a short switch interval. Every run gets its own number and no
    claim marker outlives its run."""
    import os
    import sys
    import threading

    from automated_data_pipeline_spark.control import ControlStore

    stores = [ControlStore(workdir), ControlStore(workdir)]
    n_threads = 2 * (os.cpu_count() or 2) + 2
    errors = []

    def worker(store):
        try:
            for _ in range(3):
                store.start_run(pipeline_name="P")
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [
        threading.Thread(target=worker, args=(stores[i % 2],))
        for i in range(n_threads)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    nums = ControlStore(workdir).runs_table()["run_number"].to_pylist()
    assert sorted(nums) == list(range(1, 3 * n_threads + 1))
    assert not [
        f for f in os.listdir(stores[0].runs_dir) if f.startswith("_claim_run_")
    ]


def test_scheduler_survives_fire_failures(spark):
    """A failing fire() records the error and advances next_run_at —
    it must not kill the poll loop or hot-loop the broken schedule."""
    from datetime import datetime, timedelta

    from automated_data_pipeline_spark.scheduler import ScheduleRunner

    clock = {"now": datetime(2024, 6, 1, 9, 0, 0)}
    fired = []

    def fire(s):
        fired.append(s["schedule_id"])
        if s["schedule_id"] == "bad":
            raise RuntimeError("boom")

    sr = ScheduleRunner(fire=fire, now_fn=lambda: clock["now"])
    sr.add({"schedule_id": "bad", "schedule_type": "daily",
            "run_at_time": "08:00", "enabled": True,
            "next_run_at": datetime(2024, 6, 1, 8, 0)})
    sr.add({"schedule_id": "good", "schedule_type": "daily",
            "run_at_time": "08:30", "enabled": True,
            "next_run_at": datetime(2024, 6, 1, 8, 30)})
    ok = sr.run_due()
    assert ok == ["good"]                      # bad fired but errored
    assert fired == ["bad", "good"]            # poller kept going
    assert sr.errors and sr.errors[0][0] == "bad"
    # both schedules advanced to tomorrow — no hot-loop on the bad one
    assert sr.run_due() == []
    clock["now"] += timedelta(days=1)
    assert set(sr.run_due()) == {"good"}  # bad errors again, good fires
    assert fired.count("bad") == 2 and fired.count("good") == 2


# ---- snapshot compaction of the control tables ------------------------
# Each case compares a compacting store with an uncompacted copy of the
# same event files: every table's events (in file-name order) and both
# latest-wins views must be identical.

NO_COMPACTION = 10**9


def _write_run(store, rid, pipeline="P"):
    """The control calls of one successful PipelineRunner.run, with a
    mid-step progress row per step (24 events)."""
    store.start_run(pipeline_name=pipeline, run_id=rid)
    store.log(rid, "Info", "Pipeline started", pipeline_name=pipeline)
    for i in range(1, 5):
        store.update_step(rid, i, status="Running", started_at=utcnow(),
                          rows_processed=3, rows_total=9)
        store.log(rid, "Info", f"Step started: {i}", pipeline_name=pipeline,
                  step_number=i)
        store.update_step(rid, i, status="Success", finished_at=utcnow(),
                          rows_affected=9, rows_processed=9, rows_total=9)
        store.log(rid, "Info", f"Step finished: {i}", pipeline_name=pipeline,
                  step_number=i)
    store.update_run(rid, status="Success", finished_at=utcnow())
    store.log(rid, "Info", "Pipeline finished", pipeline_name=pipeline)


def _tables(store):
    return (store._run_events, store._step_events, store._log_events)


def _views(store):
    return [t.events() for t in _tables(store)] + [
        store._run_events.latest(), store._step_events.latest()
    ]


def _assert_same_views(a, b):
    for x, y in zip(_views(a), _views(b), strict=True):
        assert x.equals(y)


def _listing(d):
    import os

    names = sorted(os.listdir(d))
    return ([f for f in names if f.endswith(".parquet") and f[0] not in "._"],
            [f for f in names if f.startswith("_snapshot-")])


@pytest.fixture()
def history_pair(tmp_path, monkeypatch):
    """(reference store, store over a copy) on 3 runs of uncompacted
    event files; ``mirror(fn)`` runs ``fn`` on the reference store and
    copies the files it wrote into the copy."""
    import os
    import shutil

    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    monkeypatch.setattr(control, "COMPACT_AT", NO_COMPACTION)
    ref_dir, cmp_dir = str(tmp_path / "ref"), str(tmp_path / "cmp")
    ref = ControlStore(ref_dir)
    for k in range(3):
        _write_run(ref, f"run-{k}", pipeline=f"P{k % 2}")
    shutil.copytree(ref_dir, cmp_dir)

    def mirror(fn):
        dirs = [t.directory for t in _tables(ref)]
        before = {d: set(os.listdir(d)) for d in dirs}
        fn(ref)
        for d in dirs:
            for f in set(os.listdir(d)) - before[d]:
                shutil.copy2(os.path.join(d, f), d.replace(ref_dir, cmp_dir, 1))

    return ref, ControlStore(cmp_dir), mirror


def _compact_all(store, monkeypatch, at=4):
    from automated_data_pipeline_spark import control

    monkeypatch.setattr(control, "COMPACT_AT", at)
    try:
        for t in _tables(store):
            t.compact()
    finally:
        monkeypatch.setattr(control, "COMPACT_AT", NO_COMPACTION)


def test_compacted_view_matches_uncompacted(history_pair, monkeypatch):
    """A compacted table is one snapshot and no event files; warm and
    cold stores over it read what the raw files read, and so do stores
    after more events land on top of the snapshot."""
    from automated_data_pipeline_spark.control import ControlStore

    ref, cmp, mirror = history_pair
    _compact_all(cmp, monkeypatch)
    for t in _tables(cmp):
        events, snaps = _listing(t.directory)
        assert events == [] and len(snaps) == 1
    _assert_same_views(ref, cmp)
    _assert_same_views(ref, ControlStore(cmp.workdir))

    mirror(lambda s: _write_run(s, "run-3"))
    _assert_same_views(ref, cmp)
    _compact_all(cmp, monkeypatch)
    _assert_same_views(ref, ControlStore(cmp.workdir))
    assert all(len(_listing(t.directory)[1]) == 1 for t in _tables(cmp))


def test_own_appends_compact_every_compact_at_events(tmp_path):
    """Writing the default way compacts on its own: after 2 runs the
    step table (24 events) is one snapshot plus 8 files, and a cold
    store reads all 24 events, the mid-step progress rows included."""
    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    assert control.COMPACT_AT == 16
    store = ControlStore(str(tmp_path))
    for k in range(2):
        _write_run(store, f"r{k}")
    events, snaps = _listing(store.steps_dir)
    assert len(events) == 8 and len(snaps) == 1
    cold = ControlStore(str(tmp_path))
    steps = cold._step_events.events()
    assert steps.num_rows == 24
    assert sum(s == "Running" for s in steps["status"].to_pylist()) == 8
    _assert_same_views(store, cold)


def test_torn_snapshot_temp_is_ignored_and_removed(history_pair, monkeypatch):
    """A compactor that fails writing its snapshot leaves a torn
    '.tmp-' file: no reader sees it, the claim is released, and the
    next compaction removes the temp file."""
    import os

    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    ref, cmp, _ = history_pair
    runs = cmp._run_events  # the first table compacted

    def torn(path, table):
        with open(path, "wb") as f:
            f.write(b"ARROW1 torn")
        raise OSError("disk full")

    real_write = control._write_snapshot
    monkeypatch.setattr(control, "_write_snapshot", torn)
    with pytest.raises(OSError, match="disk full"):
        _compact_all(cmp, monkeypatch)
    monkeypatch.setattr(control, "_write_snapshot", real_write)
    leftovers = [f for f in os.listdir(runs.directory) if f.startswith(".tmp-")]
    assert len(leftovers) == 1
    assert not os.path.exists(os.path.join(runs.directory, "_compact"))
    _assert_same_views(ref, cmp)
    _assert_same_views(ref, ControlStore(cmp.workdir))

    _compact_all(cmp, monkeypatch)
    assert not [f for f in os.listdir(runs.directory) if f.startswith(".tmp-")]
    _assert_same_views(ref, ControlStore(cmp.workdir))


def test_failed_compaction_in_append_is_a_warning(tmp_path, monkeypatch, caplog):
    """A compaction that fails inside append (here: the snapshot write)
    does not fail the append: its event is already in place."""
    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    def full(path, table):
        raise OSError("disk full")

    monkeypatch.setattr(control, "_write_snapshot", full)
    store = ControlStore(str(tmp_path))
    with caplog.at_level("WARNING", logger="automated_data_pipeline_spark.control"):
        for i in range(control.COMPACT_AT):
            store.log("r", "Info", f"m{i}")
    assert "compaction of" in caplog.text and "disk full" in caplog.text
    assert ControlStore(str(tmp_path)).logs_table().num_rows == control.COMPACT_AT


class _Crash(Exception):
    pass


@pytest.mark.parametrize("deleted_before_crash", [0, 5])
def test_crash_during_snapshot_cleanup(history_pair, monkeypatch,
                                       deleted_before_crash):
    """A crash after the snapshot's os.replace, before or partway
    through deleting what it covers: the covered files still listed are
    not counted twice, the older snapshot is ignored, and the next
    compaction carries the leftovers forward and deletes them."""
    import os

    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    ref, cmp, mirror = history_pair
    _compact_all(cmp, monkeypatch)  # a first snapshot to supersede
    mirror(lambda s: _write_run(s, "run-3"))
    real_remove, removed = control._remove, []

    def crashing_remove(path):
        if os.path.basename(path) != "_compact":
            if len(removed) == deleted_before_crash:
                raise _Crash(path)
            removed.append(path)
        real_remove(path)

    monkeypatch.setattr(control, "_remove", crashing_remove)
    with pytest.raises(_Crash):
        _compact_all(cmp, monkeypatch)
    monkeypatch.setattr(control, "_remove", real_remove)
    steps_dir = cmp._step_events.directory
    events, snaps = _listing(steps_dir)
    # the older snapshot goes first, then the covered files
    assert len(snaps) == (1 if deleted_before_crash else 2)
    assert len(events) == 12 - max(0, deleted_before_crash - 1)
    _assert_same_views(ref, cmp)
    _assert_same_views(ref, ControlStore(cmp.workdir))

    mirror(lambda s: _write_run(s, "run-4"))
    _assert_same_views(ref, ControlStore(cmp.workdir))
    _compact_all(cmp, monkeypatch)
    events, newest = _listing(steps_dir)
    assert events == [] and len(newest) == 1 and newest[0] > snaps[-1]
    _assert_same_views(ref, ControlStore(cmp.workdir))


def test_late_append_inside_covered_range_stays_in_view(history_pair,
                                                        monkeypatch):
    """A writer names its file before its os.replace, so an event can
    land after the compactor's listing with a name inside the covered
    range. It is not covered: it stays on disk and in the view, in
    file-name order, where it wins an equal-event_seq tie against a
    later-named covered event."""
    import os

    import pyarrow.compute as pc

    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    ref, cmp, mirror = history_pair
    runs_dir = cmp._run_events.directory
    first, *_ = _listing(runs_dir)[0]
    winner = ref._run_events.latest_row({"run_id": "run-0"})
    seq = ref._run_events.events().filter(
        pc.equal(ref._run_events.events()["run_id"], "run-0")
    )["event_seq"]
    late = first.replace(".parquet", "z.parquet")  # sorts right after
    row = dict(winner, status="LateTie", event_seq=pc.max(seq).as_py())
    real_write = control._write_snapshot

    def land_late(path, table):
        real_write(path, table)
        for d in (ref._run_events.directory, runs_dir):
            _event_file(d, late, **row)

    monkeypatch.setattr(control, "_write_snapshot", land_late)
    _compact_all(cmp, monkeypatch)
    monkeypatch.setattr(control, "_write_snapshot", real_write)
    assert _listing(runs_dir)[0] == [late]
    assert os.path.exists(os.path.join(runs_dir, late))
    # it ties run-0's final event and is named earlier, so it wins
    assert ref.latest_run_state("run-0")["status"] == "LateTie"
    _assert_same_views(ref, cmp)
    _assert_same_views(ref, ControlStore(cmp.workdir))
    # the next snapshot absorbs it (one needs a newer last name)
    mirror(lambda s: s.update_run("run-1", status="Again"))
    _compact_all(cmp, monkeypatch, at=2)
    assert _listing(runs_dir)[0] == []
    _assert_same_views(ref, ControlStore(cmp.workdir))


def test_reader_lists_again_when_a_listed_file_vanishes(history_pair,
                                                        monkeypatch):
    """A reader lists event files, then a compactor deletes them before
    the reader decodes them: the reader lists again instead of
    failing, and reads the compactor's snapshot."""
    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    ref, cmp, mirror = history_pair
    reader = ControlStore(cmp.workdir)
    _views(reader)  # warm
    mirror(lambda s: _write_run(s, "run-3"))
    compactor = ControlStore(cmp.workdir)
    real_decode, fired = control._decode, []

    def compact_first(path):
        if not fired and path.endswith(".parquet"):
            fired.append(path)
            _compact_all(compactor, monkeypatch)
        return real_decode(path)

    monkeypatch.setattr(control, "_decode", compact_first)
    _assert_same_views(ref, reader)
    assert fired and reader._run_events._snap_name is not None


def test_two_stores_compact_one_table_at_once(tmp_path, monkeypatch):
    """Stores on one directory append and compact from many threads at
    once; the claim lets one compactor in at a time, so no event is
    lost or counted twice. A claim another store holds makes a
    compaction skip, not wait."""
    import os
    import sys
    import threading

    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    monkeypatch.setattr(control, "COMPACT_AT", 4)
    workdir, n_threads, n_logs = str(tmp_path), 6, 40
    errors = []

    def worker(k):
        store = ControlStore(workdir)
        try:
            for i in range(n_logs):
                store.log(f"r{k}", "Info", f"{k}:{i}")
                store._log_events.events()
        except Exception as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    logs = ControlStore(workdir).logs_table()["message"].to_pylist()
    assert sorted(logs) == sorted(f"{k}:{i}" for k in range(n_threads) for i in range(n_logs))
    d = os.path.join(workdir, "control", "pipeline_logs")
    assert len(_listing(d)[1]) == 1 and not os.path.exists(os.path.join(d, "_compact"))

    # a held claim: the other store's compaction is skipped
    store = ControlStore(workdir)
    open(os.path.join(d, "_compact"), "w").close()
    for i in range(8):
        store.log("held", "Info", f"held:{i}")
    assert len(_listing(d)[0]) >= 8
    assert ControlStore(workdir).logs_table().num_rows == n_threads * n_logs + 8


def test_stale_compactor_claim_is_broken(history_pair, monkeypatch):
    """A claim a dead compactor left behind blocks compaction for
    STALE_CLAIM_S only; then the next compactor breaks it."""
    import os
    import time

    from automated_data_pipeline_spark import control

    ref, cmp, _ = history_pair
    claim = os.path.join(cmp.steps_dir, "_compact")
    with open(claim, "w") as f:
        f.write("dead compactor")
    _compact_all(cmp, monkeypatch)
    assert _listing(cmp.steps_dir)[1] == []  # fresh claim: skipped
    old = time.time() - control.STALE_CLAIM_S - 1
    os.utime(claim, (old, old))
    _compact_all(cmp, monkeypatch)
    assert len(_listing(cmp.steps_dir)[1]) == 1
    assert not os.path.exists(claim)
    _assert_same_views(ref, cmp)


def test_refresh_after_one_event_decodes_one_file(tmp_path, monkeypatch):
    """At 300 runs each table is one snapshot plus fewer than
    COMPACT_AT event files; a cold store decodes just those, and a
    refresh after one new event decodes exactly that one file."""
    from automated_data_pipeline_spark import control
    from automated_data_pipeline_spark.control import ControlStore

    writer = ControlStore(str(tmp_path))
    for k in range(300):
        _write_run(writer, f"run-{k:03d}", pipeline=f"P{k % 3}")
    for t in _tables(writer):
        events, snaps = _listing(t.directory)
        assert len(snaps) == 1 and len(events) < control.COMPACT_AT

    real_decode, decoded = control._decode, []

    def counting(path):
        decoded.append(path)
        return real_decode(path)

    monkeypatch.setattr(control, "_decode", counting)
    reader = ControlStore(str(tmp_path))
    assert reader.runs_table().num_rows == 300
    assert reader.steps_table().num_rows == 1200
    assert reader.logs_table().num_rows == 3000
    assert len(decoded) == sum(
        1 + len(_listing(t.directory)[0]) for t in _tables(reader)
    )
    for table in ("runs_table", "steps_table", "logs_table"):
        decoded.clear()
        getattr(reader, table)()
        assert decoded == []  # unchanged listing: nothing decoded
    writer.log("run-000", "Info", "one more")
    decoded.clear()
    assert reader.logs_table().num_rows == 3001
    assert len(decoded) == 1 and decoded[0].endswith(".parquet")


def test_event_row_build_matches_per_column_arrays():
    """append builds its row with one from_pylist; it equals the table
    the per-column pa.array build gave, nulls and tz-aware timestamps
    (converted to UTC) included."""
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa

    from automated_data_pipeline_spark.control import _STEP_FIELDS

    schema = pa.schema(_STEP_FIELDS)
    st_johns = timezone(timedelta(hours=-3, minutes=-30))
    row = {
        "run_id": "r", "step_number": 2, "step_name": "Extract",
        "started_at": datetime(2024, 3, 10, 1, 2, 3, 456789, tzinfo=st_johns),
        "finished_at": None, "status": "Running", "rows_affected": None,
        "rows_processed": 5, "rows_total": None, "error_message": None,
        "created_at": datetime(2024, 3, 10, 4, 0, tzinfo=timezone.utc),
        "updated_at": datetime.now(timezone.utc), "event_seq": 7,
    }
    per_column = pa.Table.from_arrays(
        [pa.array([row.get(f.name)], type=f.type) for f in schema], schema=schema
    )
    assert pa.Table.from_pylist([row], schema=schema).equals(per_column)
    partial = {"run_id": "r", "step_number": 1}
    assert pa.Table.from_pylist([partial], schema=schema).equals(
        pa.Table.from_arrays(
            [pa.array([partial.get(f.name)], type=f.type) for f in schema],
            schema=schema,
        )
    )
