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
