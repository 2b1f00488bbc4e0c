"""HTTP read-API round-trip: every endpoint's JSON must equal its
DataFrame twin (api.py), and POST /pipeline/trigger must validate
uploads and drive a real pipeline run (server.js:42-169 parity)."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

import pytest

from automated_data_pipeline_spark import api
from automated_data_pipeline_spark.control import ControlStore, utcnow
from automated_data_pipeline_spark.http_api import (
    PipelineApiServer,
    rows_to_jsonable,
)
from automated_data_pipeline_spark.runner import PipelineRunner
from automated_data_pipeline_spark.sources.generators import generate_orders


def _get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(port, path, data, content_type):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=data,
        headers={"Content-Type": content_type},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def served(spark, workdir):
    runner = PipelineRunner(spark, workdir)
    runner.run(
        source_df=generate_orders(spark, 25),
        source_type="Generated",
        pipeline_name="Alpha",
    )
    runner.run(
        source_df=generate_orders(spark, 10),
        source_type="Generated",
        pipeline_name="Beta",
    )
    srv = PipelineApiServer(
        spark,
        runner.control,
        runner=runner,
        landing_dir=f"{workdir}/landing",
    ).start()
    yield srv, runner
    srv.stop()


def _runs_df(srv):
    """The runs view the DataFrame twins query."""
    return api.with_run_number_fallback(srv.control.runs(srv.spark))


def _twin_bodies(srv, run_ids):
    """Each GET path with the JSON its DataFrame twin (api.py over the
    Spark views) serializes to: filters, limits past both clamps, and
    every run's detail and logs."""
    spark = srv.spark
    runs, steps, logs = _runs_df(srv), srv.control.steps(spark), srv.control.logs(spark)
    twins = {
        "/runs": api.list_runs(runs),
        "/runs?pipeline=Alpha": api.list_runs(runs, pipeline="Alpha"),
        "/runs?status=Running": api.list_runs(runs, status="Running"),
        "/runs?pipeline=Beta&status=Success": api.list_runs(
            runs, pipeline="Beta", status="Success"
        ),
        "/logs": api.list_logs(logs),
        "/logs?level=Info&limit=5": api.list_logs(logs, level="Info", limit=5),
        "/logs?limit=-1": api.list_logs(logs, limit=-1),
        "/logs?limit=99999": api.list_logs(logs, limit=99999),
        "/logs?pipeline=Alpha&level=Info": api.list_logs(
            logs, pipeline="Alpha", level="Info"
        ),
    }
    for rid in run_ids:
        twins[f"/runs/{rid}/logs"] = api.run_logs(logs, rid)
        twins[f"/logs?runId={rid}&limit=3"] = api.list_logs(logs, run_id=rid, limit=3)
    bodies = {path: rows_to_jsonable(df) for path, df in twins.items()}
    for rid in run_ids:
        detail = rows_to_jsonable(api.run_detail(runs, steps, rid))[0]
        bodies[f"/runs/{rid}"] = {**detail, "steps": detail["steps"] or []}
    return bodies


def _unnumbered_store(workdir):
    """A store whose runs carry no stored run_number (written by
    update_run alone), so both twins synthesize the numbers."""
    store = ControlStore(workdir)
    for k, pipeline in enumerate(["Alpha", "Beta", "Alpha"]):
        rid = f"unnumbered-{k}"
        store.update_run(rid, pipeline_name=pipeline, status="Success",
                         created_at=utcnow(), started_at=utcnow())
        store.update_step(rid, 1, step_name="Data Pull", status="Success")
        store.log(rid, "Info", f"run {k}", pipeline_name=pipeline)
    return store


def test_get_endpoints_match_dataframe_twins(spark, served, workdir):
    """The endpoints answer from the Arrow twins; each response must
    equal its DataFrame twin byte for byte, on a store with a live run
    (Pending steps with null timestamps) and on one with no stored run
    numbers, in UTC and in a non-UTC process timezone (Spark's collect
    renders local time)."""
    srv, runner = served
    runner.control.start_run(pipeline_name="Alpha", run_id="live-run")
    unnumbered = PipelineApiServer(spark, _unnumbered_store(workdir + "-u")).start()
    tz_before = os.environ.get("TZ")
    try:
        for tz in (None, "America/St_Johns"):
            if tz:
                os.environ["TZ"] = tz
                time.tzset()
            for server in (srv, unnumbered):
                run_ids = [r["run_id"] for r in _get(server.port, "/runs")[1]]
                assert len(run_ids) == 3
                for path, want in _twin_bodies(server, run_ids).items():
                    status, body = _get(server.port, path)
                    assert status == 200, path
                    assert body == want, (tz, path)
        numbers = {
            r["run_id"]: r["run_number"] for r in _get(unnumbered.port, "/runs")[1]
        }
        assert numbers == {"unnumbered-0": 1, "unnumbered-1": 2, "unnumbered-2": 3}
    finally:
        unnumbered.stop()
        if tz_before is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = tz_before
        time.tzset()

    status, alpha = _get(srv.port, "/runs?pipeline=Alpha&status=Success")
    assert [r["pipeline_name"] for r in alpha] == ["Alpha"]
    rid = alpha[0]["run_id"]
    status, detail = _get(srv.port, f"/runs/{rid}")
    assert [s["step_number"] for s in detail["steps"]] == [1, 2, 3, 4]
    assert all(s["status"] == "Success" for s in detail["steps"])
    live = _get(srv.port, "/runs/live-run")[1]
    assert [s["started_at"] for s in live["steps"]] == [None] * 4
    assert len(_get(srv.port, f"/runs/{rid}/logs")[1]) >= 10
    assert len(_get(srv.port, "/logs?level=Info&limit=5")[1]) == 5
    assert _get(srv.port, "/logs?limit=-1")[1] == []

    assert _get(srv.port, "/runs/nope")[0] == 404
    assert _get(srv.port, "/runs/nope/logs")[0] == 404
    assert _get(srv.port, "/bogus")[0] == 404


def _raw_get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _tied_store(workdir):
    """Finished runs, a live run, and two run events with one
    event_seq: the earlier-named one must win."""
    store = ControlStore(workdir)
    for k, pipeline in enumerate(["Alpha", "Beta", "Alpha"]):
        rid = f"run-{k}"
        store.start_run(pipeline_name=pipeline, run_id=rid)
        store.log(rid, "Info", "started", pipeline_name=pipeline)
        for i in range(1, 5):
            store.update_step(rid, i, status="Running", started_at=utcnow())
            store.log(rid, "Info", f"step {i}", pipeline_name=pipeline,
                      step_number=i)
            store.update_step(rid, i, status="Success", finished_at=utcnow(),
                              rows_affected=10 * k + i)
        store.update_run(rid, status="Success", finished_at=utcnow())
    store.start_run(pipeline_name="Beta", run_id="live-run")
    tie = dict(store._run_events.latest_row({"run_id": "run-1"}),
               event_seq=time.time_ns(), updated_at=utcnow())
    store._run_events.append(dict(tie, status="TieFirst"))
    store._run_events.append(dict(tie, status="TieSecond"))
    return store


def test_get_endpoints_byte_identical_with_compaction(spark, tmp_path, monkeypatch):
    """The 4 JSON endpoints and the 3 HTML pages answer the same bytes
    from compacted tables as from the raw event files they replace, on
    a store with an equal-event_seq tie and on one whose run numbers
    are synthesized."""
    import shutil

    from automated_data_pipeline_spark import control

    for build in (_tied_store, _unnumbered_store):
        monkeypatch.setattr(control, "COMPACT_AT", 10**9)
        raw_dir = str(tmp_path / build.__name__)
        build(raw_dir)
        snap_dir = raw_dir + "-compacted"
        shutil.copytree(raw_dir, snap_dir)
        compacted = ControlStore(snap_dir)
        monkeypatch.setattr(control, "COMPACT_AT", 2)
        for t in (compacted._run_events, compacted._step_events, compacted._log_events):
            t.compact()
            assert [f for f in os.listdir(t.directory) if f.endswith(".parquet")] == []
        raw = PipelineApiServer(spark, ControlStore(raw_dir)).start()
        snap = PipelineApiServer(spark, ControlStore(snap_dir)).start()
        try:
            run_ids = [r["run_id"] for r in _get(raw.port, "/runs")[1]]
            assert len(run_ids) >= 3
            paths = ["/runs", "/runs?pipeline=Alpha", "/logs", "/logs?limit=3",
                     "/", "/ui/logs", "/ui/logs?level=Info&limit=5"]
            for rid in run_ids:
                paths += [f"/runs/{rid}", f"/runs/{rid}/logs",
                          f"/logs?runId={rid}&limit=3", f"/ui/runs/{rid}"]
            for path in paths:
                want = _raw_get(raw.port, path)
                assert want[0] == 200, path
                assert _raw_get(snap.port, path) == want, (build.__name__, path)
            if build is _tied_store:
                assert _get(snap.port, "/runs/run-1")[1]["status"] == "TieFirst"
        finally:
            raw.stop()
            snap.stop()


def test_gui_requests_job_budget_and_local_views(spark, served):
    """GUI requests are answered from the control store's Arrow tables
    on the driver: zero Spark jobs per request, so a Spark job sneaking
    back into an endpoint fails here instead of hiding in host noise.
    The DataFrame views stay local relations: no parquet scan, schema
    inference or window shuffle."""
    srv, runner = served
    rid = srv.list_runs(None, None)[0]["run_id"]
    requests = {
        "runs": lambda: srv.list_runs(None, None),
        "run_detail": lambda: srv.run_detail(rid),
        "run_logs": lambda: srv.run_logs(rid),
        "logs": lambda: srv.list_logs(None, None, None, 500),
    }
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()
    for name, request in requests.items():
        group = f"gui-budget-{name}"
        sc.setJobGroup(group, name)
        try:
            assert request()
        finally:
            sc.setJobGroup("", "")
        listener_bus.waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 0, f"{name}: {len(jobs)} Spark jobs"

    for view in ("runs", "steps", "logs"):
        qe = getattr(runner.control, view)(spark)._jdf.queryExecution()
        plan = qe.optimizedPlan().toString()
        assert "LocalRelation" in plan, plan
        assert "Window" not in plan, plan
        assert "Relation" not in plan.replace("LocalRelation", ""), plan
        assert "FileScan" not in qe.executedPlan().toString()


def test_read_endpoints_answer_while_task_slots_are_busy(spark, served):
    """While a Spark job holds every task slot (a pipeline run in
    flight), GET /runs and GET /runs/{id} still answer within 1 s: they
    run no Spark job, so they do not queue for a slot."""
    srv, _ = served
    rid = srv.list_runs(None, None)[0]["run_id"]
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    group = "hold-every-slot"
    outcome = []

    def hold_slots():
        sc.setJobGroup(group, "hold every task slot", interruptOnCancel=True)
        try:
            sc.parallelize(range(slots), slots).foreach(lambda _: time.sleep(60))
            outcome.append("finished")
        except Exception as exc:  # the cancel below ends the job
            outcome.append(exc)

    holder = threading.Thread(target=hold_slots, daemon=True)
    holder.start()
    try:
        tracker = sc.statusTracker()
        deadline = time.time() + 60
        busy = 0
        while busy < slots and time.time() < deadline:
            time.sleep(0.1)
            stages = [tracker.getStageInfo(s) for s in tracker.getActiveStageIds()]
            busy = sum(st.numActiveTasks for st in stages if st is not None)
        assert busy >= slots, f"only {busy}/{slots} slots held"
        for path in ("/runs", f"/runs/{rid}"):
            t0 = time.perf_counter()
            status, _ = _get(srv.port, path)
            took = time.perf_counter() - t0
            assert status == 200 and took < 1.0, f"{path}: {took:.2f} s"
    finally:
        sc.cancelJobGroup(group)
        holder.join(timeout=60)
    assert not holder.is_alive()
    assert outcome and outcome[0] != "finished"


def test_trigger_upload_runs_pipeline(spark, served):
    srv, runner = served
    csv = b"OrderId,CustomerName,Amount,OrderDate\nORD-000001,Ada,12.5,2024-01-01\n"

    # raw-body + filename variant
    status, out = _post(
        srv.port, "/pipeline/trigger?filename=batch.csv", csv, "text/csv"
    )
    assert status == 201 and out["runId"]

    # multipart variant (the reference's form field "file")
    boundary = "bnd123"
    mp = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; filename="m.csv"\r\n'
        "Content-Type: text/csv\r\n\r\n"
    ).encode() + csv + f"\r\n--{boundary}--\r\n".encode()
    status, out2 = _post(
        srv.port, "/pipeline/trigger", mp,
        f"multipart/form-data; boundary={boundary}",
    )
    assert status == 201 and out2["runId"] != out["runId"]

    # both triggered runs complete (background threads)
    deadline = time.time() + 60
    done = {}
    while time.time() < deadline and len(done) < 2:
        for rid in (out["runId"], out2["runId"]):
            st, detail = _get(srv.port, f"/runs/{rid}")
            if st == 200 and detail["status"] in ("Success", "Failed"):
                done[rid] = detail["status"]
        time.sleep(0.5)
    assert done == {out["runId"]: "Success", out2["runId"]: "Success"}

    # upload validation: bad extension and no file -> 400, no run created
    n_before = len(_get(srv.port, "/runs")[1])
    status, err = _post(
        srv.port, "/pipeline/trigger?filename=evil.exe", b"x", "text/plain"
    )
    assert status == 400 and "allowed" in err["error"]
    status, err = _post(srv.port, "/pipeline/trigger", b"", "text/csv")
    assert status == 400
    assert len(_get(srv.port, "/runs")[1]) == n_before


def test_oversize_upload_rejected_from_header(served):
    """The body must be refused via Content-Length before buffering
    (multer fileSize-limit parity) — and no run is created."""
    srv, _ = served
    n_before = len(_get(srv.port, "/runs")[1])
    big = b"x" * (api.UPLOAD_MAX_BYTES + 8192)
    status, err = _post(
        srv.port, "/pipeline/trigger?filename=big.csv", big, "text/csv"
    )
    assert status == 400 and "too large" in err["error"]
    assert len(_get(srv.port, "/runs")[1]) == n_before


def test_trigger_creates_control_row_before_201(spark, served):
    """The 201 response must be pollable immediately: the Running
    control row is written synchronously before the reply (reference
    parity: server.js:180 inserts rows, then spawns the worker)."""
    srv, runner = served
    body = b"OrderId,CustomerId,Amount,OrderDate\nORD-P1,C-1,10.0,2024-01-01\n"
    status, resp = _post(
        srv.port, "/pipeline/trigger?filename=poll.csv", body,
        "application/octet-stream",
    )
    assert status == 201
    rid = resp["runId"]
    # no sleep: the row must already exist
    status, got = _get(srv.port, f"/runs/{rid}")
    assert status == 200
    assert got["run_id"] == rid
    # let the background run finish before the fixture tears down
    for _ in range(120):
        status, got = _get(srv.port, f"/runs/{rid}")
        if got.get("status") in ("Success", "Failed"):
            break
        time.sleep(0.5)
    assert got["status"] == "Success"


def _get_html(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.headers.get("Content-Type", ""), r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type", ""), e.read().decode()


def test_gui_run_list_renders_dataframe_rows(spark, served):
    """GET / is the browser twin of GET /runs (RunList.jsx:48-59): every
    run row the DataFrame query returns must appear in the HTML, with
    its id linked to the detail page."""
    srv, _ = served
    status, ctype, page = _get_html(srv.port, "/")
    assert status == 200 and ctype.startswith("text/html")
    runs = rows_to_jsonable(api.list_runs(_runs_df(srv)))
    assert len(runs) == 2
    for r in runs:
        assert f'href="/ui/runs/{r["run_id"]}"' in page
        assert r["pipeline_name"] in page
        assert r["status"] in page
        assert r["created_at"] in page
    # filters pass through to the same DataFrame query
    _, _, alpha_page = _get_html(srv.port, "/?pipeline=Alpha")
    assert "Alpha" in alpha_page and "Beta" not in alpha_page


def test_gui_run_detail_renders_steps_and_logs_link(spark, served):
    """GET /ui/runs/{id} mirrors RunDetail.jsx:67-96 /
    run-detail.jsp:119-158: run fields + all 4 step rows with status
    and rows-affected; a FINISHED run must NOT carry the 2 s
    auto-refresh meta tag (the JSP only refreshes while live)."""
    srv, runner = served
    rid = rows_to_jsonable(api.list_runs(_runs_df(srv)))[0]["run_id"]
    status, ctype, page = _get_html(srv.port, f"/ui/runs/{rid}")
    assert status == 200 and ctype.startswith("text/html")
    detail = srv.run_detail(rid)
    assert rid in page
    for s in detail["steps"]:
        assert s["step_name"] in page
        assert str(s["rows_affected"]) in page
    assert page.count("status-Success") >= 5  # run + 4 steps
    assert f'href="/ui/logs?runId={rid}"' in page
    assert 'http-equiv="refresh"' not in page  # finished run is quiet
    # duration renders as whole seconds (RunDetail.jsx:26-29)
    assert "<dt>Duration</dt>" in page

    status, _, missing = _get_html(srv.port, "/ui/runs/nope")
    assert status == 404 and "not found" in missing


def test_gui_running_detail_auto_refreshes():
    """The 2 s meta-refresh is emitted exactly while the run is live
    (run-detail.jsp auto-refresh; RunDetail.jsx:67-81 polls at 2 s) —
    pure-render check, no race against a real background run."""
    from automated_data_pipeline_spark import web

    base = {"run_id": "r-1", "run_number": 1, "pipeline_name": "P",
            "started_at": "2024-01-01 00:00:00", "finished_at": None,
            "steps": []}
    live = web.render_run_detail({**base, "status": "Running"})
    assert '<meta http-equiv="refresh" content="2">' in live
    done = web.render_run_detail(
        {**base, "status": "Success",
         "finished_at": "2024-01-01 00:00:07"}
    )
    assert 'http-equiv="refresh"' not in done
    assert "<dd>7s</dd>" in done  # duration from ISO strings


def test_gui_logs_page_matches_dataframe_twin(spark, served):
    srv, runner = served
    status, ctype, page = _get_html(srv.port, "/ui/logs?level=Info&limit=5")
    assert status == 200 and ctype.startswith("text/html")
    logs = rows_to_jsonable(
        api.list_logs(runner.control.logs(spark), level="Info", limit=5)
    )
    assert len(logs) == 5
    for entry in logs:
        assert entry["message"] in page
        assert entry["log_at"] in page
    assert "level=Info" in page  # filter echoed in the heading


def test_gui_run_link_roundtrips_reserved_char_ids(spark, served):
    """A run id containing reserved URL characters must be reachable
    from its own rendered link: web.py encodes with safe='' (so '/'
    escapes too) and the /ui/runs route decodes the path segment."""
    import urllib.parse

    srv, runner = served
    rid = "run with:odd/chars"
    runner.control.start_run(pipeline_name="Odd", run_id=rid)
    _, _, listing = _get_html(srv.port, "/")
    enc = urllib.parse.quote(rid, safe="")
    assert f'href="/ui/runs/{enc}"' in listing
    status, _, page = _get_html(srv.port, f"/ui/runs/{enc}")
    assert status == 200
    assert "run with:odd/chars" in page


def test_json_run_routes_decode_reserved_char_ids(served):
    """Run ids are caller-chosen (PipelineRunner.run(run_id=...)) and
    web.py percent-encodes them; the JSON routes decode the path
    segment like /ui/runs does, or an id with a space or '/' 404s."""
    srv, runner = served
    rid = "batch 1/a"
    runner.control.start_run(pipeline_name="Odd", run_id=rid)
    runner.control.log(rid, "Info", "odd id", pipeline_name="Odd")
    code, detail = _get(srv.port, "/runs/batch%201%2Fa")
    assert code == 200 and detail["run_id"] == rid
    code, logs = _get(srv.port, "/runs/batch%201%2Fa/logs")
    assert code == 200 and [e["message"] for e in logs] == ["odd id"]


def test_gui_escapes_html_in_messages():
    """A log message (or error) containing markup must render inert —
    server-rendered pages over user-supplied file contents are an XSS
    surface the JSON API never had."""
    from automated_data_pipeline_spark import web

    page = web.render_logs(
        [{"log_at": "t", "run_id": "r<1>", "step_name": None,
          "level": "Error", "message": "<script>alert(1)</script>"}]
    )
    assert "<script>alert(1)</script>" not in page
    assert "&lt;script&gt;" in page


def test_invalid_content_length_is_client_error(served):
    """Negative Content-Length must not reach rfile.read(-N) (which
    blocks to EOF and hangs the handler thread); non-numeric is a 400,
    not a 500."""
    import http.client

    srv, _ = served
    for bad in ("-5", "abc"):
        conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
        conn.putrequest("POST", "/pipeline/trigger?filename=x.csv")
        conn.putheader("Content-Type", "application/octet-stream")
        conn.putheader("Content-Length", bad)
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 400, bad
        conn.close()


# ---------------------------------------------------------------------
# Schedules / admin / cancel / upload (ApiServlet.java:60-175 parity)
# ---------------------------------------------------------------------
def _req(port, path, method, data=None, content_type="application/json"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=data,
        headers={"Content-Type": content_type} if data is not None else {},
        method=method,
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def served_full(spark, workdir):
    """Server wired with runner AND scheduler (fire recorded, not
    executed — schedule CRUD is the surface under test)."""
    from automated_data_pipeline_spark.scheduler import ScheduleRunner

    runner = PipelineRunner(spark, workdir)
    fired = []
    sched = ScheduleRunner(fire=fired.append, poll_seconds=3600)
    srv = PipelineApiServer(
        spark,
        runner.control,
        runner=runner,
        landing_dir=f"{workdir}/landing",
        scheduler=sched,
    ).start()
    yield srv, runner, sched, fired
    srv.stop()


def test_schedule_crud_roundtrip(served_full):
    srv, _runner, sched, _fired = served_full
    code, created = _req(
        srv.port, "/schedules", "POST",
        json.dumps({
            "name": "Daily sync", "scheduleType": "daily",
            "runAtTime": "09:30", "sourcePath": "/tmp/x.csv",
        }).encode(),
    )
    assert code == 201
    sid = created["schedule_id"]
    assert created["enabled"] is True
    assert created["next_run_at"]  # validated + computed at add time

    code, lst = _req(srv.port, "/schedules", "GET")
    assert code == 200 and [s["schedule_id"] for s in lst] == [sid]

    code, one = _req(srv.port, f"/schedules/{sid}", "GET")
    assert code == 200 and one["run_at_time"] == "09:30"

    # PUT: disable + retime; next_run_at recomputes for the new time
    code, body = _req(
        srv.port, f"/schedules/{sid}", "PUT",
        json.dumps({"enabled": False, "runAtTime": "23:45"}).encode(),
    )
    assert code == 200 and body == {"ok": True}
    code, one = _req(srv.port, f"/schedules/{sid}", "GET")
    assert one["enabled"] is False and one["run_at_time"] == "23:45"
    assert "23:45" in one["next_run_at"]

    code, _ = _req(srv.port, f"/schedules/{sid}", "DELETE")
    assert code == 200
    code, _ = _req(srv.port, f"/schedules/{sid}", "GET")
    assert code == 404
    code, _ = _req(srv.port, f"/schedules/{sid}", "DELETE")
    assert code == 404


def test_schedule_multipart_create_saves_source_file(served_full):
    srv, _runner, sched, _fired = served_full
    boundary = "XBOUNDX"
    parts = []
    for name, val in [
        ("name", "Weekly load"), ("scheduleType", "weekly"),
        ("runAtTime", "08:15"), ("dayOfWeek", "2"),
    ]:
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="{name}"\r\n\r\n{val}\r\n'
        )
    parts.append(
        f'--{boundary}\r\nContent-Disposition: form-data; name="file"; '
        f'filename="orders.csv"\r\n\r\nOrderId,Amount\nA,1\n\r\n'
    )
    body = ("".join(parts) + f"--{boundary}--\r\n").encode()
    code, created = _req(
        srv.port, "/schedules", "POST", body,
        content_type=f"multipart/form-data; boundary={boundary}",
    )
    assert code == 201, created
    assert created["schedule_type"] == "weekly"
    assert created["day_of_week"] == 2
    import os

    assert os.path.exists(created["source_path"])
    with open(created["source_path"]) as f:
        assert "OrderId" in f.read()


def test_schedule_malformed_is_400(served_full):
    srv, *_ = served_full
    code, body = _req(
        srv.port, "/schedules", "POST",
        json.dumps({"name": "bad", "runAtTime": "99:99"}).encode(),
    )
    assert code == 400 and "error" in body
    code, lst = _req(srv.port, "/schedules", "GET")
    assert lst == []


def test_schedule_upload_without_landing_dir_is_not_configured(spark, workdir):
    """A multipart schedule on a server without a landing dir answers
    like /pipeline/upload ("upload not configured"), not with a
    TypeError from os.makedirs(None); a JSON source_path still works."""
    from automated_data_pipeline_spark.scheduler import ScheduleRunner

    sched = ScheduleRunner(fire=lambda s: None, poll_seconds=3600)
    srv = PipelineApiServer(spark, ControlStore(workdir), scheduler=sched).start()
    try:
        boundary = "XBOUNDX"
        body = (
            f'--{boundary}\r\nContent-Disposition: form-data; name="file"; '
            f'filename="orders.csv"\r\n\r\nOrderId,Amount\nA,1\n\r\n'
            f"--{boundary}--\r\n"
        ).encode()
        code, out = _req(
            srv.port, "/schedules", "POST", body,
            content_type=f"multipart/form-data; boundary={boundary}",
        )
        assert code == 500 and out == {"error": "upload not configured"}
        assert "TypeError" not in json.dumps(out)
        code, created = _req(
            srv.port, "/schedules", "POST",
            json.dumps({"name": "json", "sourcePath": "/tmp/x.csv"}).encode(),
        )
        assert code == 201 and created["source_path"] == "/tmp/x.csv"
    finally:
        srv.stop()


def test_admin_check_running_status_marks_stale_runs(spark, served_full):
    from datetime import timedelta

    from automated_data_pipeline_spark.control import utcnow

    srv, runner, *_ = served_full
    stale = runner.control.start_run(pipeline_name="Stuck")
    runner.control.update_run(
        stale, started_at=utcnow() - timedelta(hours=7)
    )
    fresh = runner.control.start_run(pipeline_name="Fresh")

    code, body = _req(srv.port, "/admin/check-running-status", "POST", b"")
    assert code == 200
    assert body["runningChecked"] is True
    assert body["markedTimeout"] == 1
    assert body["runIdsMarked"] == [stale]
    statuses = {
        r["run_id"]: r["status"]
        for r in runner.control.runs(spark).collect()
    }
    assert statuses[stale] == "Failed-TimeOut-6Hours"
    assert statuses[fresh] == "Running"
    # GET works too (admin.jsp loads it on click via GET or POST)
    code, body = _req(srv.port, "/admin/check-running-status", "GET")
    assert code == 200 and body["markedTimeout"] == 0


def test_cancel_endpoint_contract(spark, served_full):
    from automated_data_pipeline_spark.runner import PipelineCancelledError

    srv, runner, *_ = served_full
    code, body = _req(srv.port, "/runs/nope/cancel", "POST", b"")
    assert code == 404

    done = runner.run(
        source_df=generate_orders(spark, 5),
        source_type="Generated",
        pipeline_name="Done",
    )
    code, body = _req(srv.port, f"/runs/{done}/cancel", "POST", b"")
    assert code == 400 and "not running" in body["error"].lower()

    running = runner.control.start_run(pipeline_name="Hanging")
    code, body = _req(srv.port, f"/runs/{running}/cancel", "POST", b"")
    assert code == 200 and body["ok"] is True
    with pytest.raises(PipelineCancelledError):
        runner._check_cancelled(running)


def test_upload_endpoint_saves_without_running(served_full):
    import os

    srv, runner, *_ = served_full
    code, body = _req(
        srv.port, "/pipeline/upload?filename=orders.csv", "POST",
        b"OrderId,Amount\nA,1\n", content_type="text/csv",
    )
    assert code == 200 and os.path.exists(body["path"])
    # upload alone must NOT start a run (that's /pipeline/trigger)
    assert runner.control.runs(srv.spark).count() == 0
    code, body = _req(
        srv.port, "/pipeline/upload?filename=evil.exe", "POST",
        b"MZ", content_type="application/octet-stream",
    )
    assert code == 400


def test_gui_admin_schedules_manualrun_pages(served_full):
    srv, *_ = served_full
    _req(
        srv.port, "/schedules", "POST",
        json.dumps({
            "name": "Nightly <sync>", "scheduleType": "daily",
            "runAtTime": "01:00", "sourcePath": "/tmp/x.csv",
        }).encode(),
    )
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/ui/manual-run"
    ) as r:
        page = r.read().decode()
    assert 'action="/pipeline/trigger"' in page and 'type="file"' in page
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/ui/schedules"
    ) as r:
        page = r.read().decode()
    assert "Nightly &lt;sync&gt;" in page  # escaped
    assert "toggleSchedule" in page and "deleteSchedule" in page
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/ui/admin"
    ) as r:
        page = r.read().decode()
    assert "check-running-status" in page


def test_http_created_schedule_fires_the_pipeline(spark, workdir):
    """End-to-end schedule wiring: a schedule created over HTTP (with
    its source file) actually drives the 4-stage pipeline when due —
    the reference's runDueSchedules -> startPipelineRun(sourcePath)
    loop (ScheduleRunner.java:36-58)."""
    from datetime import datetime, timedelta

    from automated_data_pipeline_spark.scheduler import (
        ScheduleRunner,
        pipeline_fire,
    )

    clock = {"now": datetime(2026, 3, 1, 8, 0)}
    runner = PipelineRunner(spark, workdir)
    sched = ScheduleRunner(
        fire=pipeline_fire(runner),
        now_fn=lambda: clock["now"],
        poll_seconds=3600,
    )
    srv = PipelineApiServer(
        spark, runner.control, runner=runner,
        landing_dir=f"{workdir}/landing", scheduler=sched,
    ).start()
    try:
        boundary = "XBOUNDX"
        csv = "OrderId,OrderDate,CustomerName,Amount,Status\n" + "".join(
            f"S-{i:03d},2026-03-01,Cust {i},{10 * (i + 1)}.00,Completed\n"
            for i in range(8)
        )
        body = (
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="name"\r\n\r\nMorning load\r\n'
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="scheduleType"\r\n\r\ndaily\r\n'
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="runAtTime"\r\n\r\n09:00\r\n'
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="file"; filename="sched.csv"\r\n\r\n{csv}\r\n'
            f"--{boundary}--\r\n"
        ).encode()
        code, created = _req(
            srv.port, "/schedules", "POST", body,
            content_type=f"multipart/form-data; boundary={boundary}",
        )
        assert code == 201, created

        assert sched.run_due() == []  # 08:00 — not due yet
        clock["now"] = datetime(2026, 3, 1, 9, 1)
        assert sched.run_due() == [created["schedule_id"]]

        runs = runner.control.runs(spark).collect()
        assert len(runs) == 1
        assert runs[0]["pipeline_name"] == "ScheduledPipeline:Morning load"
        assert runs[0]["status"] == "Success"
        assert runner.target.read(spark).count() == 8
        # next occurrence claimed: tomorrow 09:00
        code, one = _req(
            srv.port, f"/schedules/{created['schedule_id']}", "GET"
        )
        assert one["next_run_at"].startswith("2026-03-02 09:00")
    finally:
        srv.stop()


def test_schedule_malformed_json_and_bad_dow_are_400(served_full):
    srv, *_ = served_full
    code, body = _req(srv.port, "/schedules", "POST", b"not json at all")
    assert code == 400 and "error" in body
    code, body = _req(
        srv.port, "/schedules", "POST",
        json.dumps({"name": "w", "scheduleType": "weekly",
                    "runAtTime": "09:00", "dayOfWeek": 8,
                    "sourcePath": "/tmp/x.csv"}).encode(),
    )
    assert code == 400 and "1=Mon..7=Sun" in body["error"]
    # PUT with malformed JSON on an existing schedule is also 400
    code, created = _req(
        srv.port, "/schedules", "POST",
        json.dumps({"name": "ok", "scheduleType": "daily",
                    "runAtTime": "09:00", "sourcePath": "/tmp/x.csv"}).encode(),
    )
    assert code == 201
    code, body = _req(
        srv.port, f"/schedules/{created['schedule_id']}", "PUT", b"{broken",
    )
    assert code == 400


def test_concurrent_schedule_updates_do_not_lose_fields(served_full):
    """Two racing PUTs touching DIFFERENT fields must both land (the
    merge happens under the scheduler lock, not read-merge-write with
    the lock released)."""
    import threading

    srv, _runner, sched, _fired = served_full
    _code, created = _req(
        srv.port, "/schedules", "POST",
        json.dumps({"name": "base", "scheduleType": "daily",
                    "runAtTime": "09:00", "sourcePath": "/tmp/x.csv"}).encode(),
    )
    sid = created["schedule_id"]

    def put(payload):
        for _ in range(25):
            _req(srv.port, f"/schedules/{sid}", "PUT",
                 json.dumps(payload).encode())

    t1 = threading.Thread(target=put, args=({"enabled": False},))
    t2 = threading.Thread(target=put, args=({"name": "renamed"},))
    t1.start(); t2.start(); t1.join(); t2.join()
    _code, one = _req(srv.port, f"/schedules/{sid}", "GET")
    assert one["enabled"] is False and one["name"] == "renamed"


class _BrokenControl:
    def runs_table(self):
        raise OSError("control store unreadable")


def test_catch_all_500_is_logged_with_method_and_path(caplog):
    """A failing endpoint answers the same 500 body as before and now
    leaves a server-side record naming the request."""
    import logging

    srv = PipelineApiServer(None, _BrokenControl()).start()
    try:
        with caplog.at_level(
            logging.ERROR, logger="automated_data_pipeline_spark.http_api"
        ):
            code, body = _get(srv.port, "/runs")
    finally:
        srv.stop()
    assert code == 500
    assert body == {"error": "control store unreadable"}
    recs = [r for r in caplog.records if "/runs" in r.getMessage()]
    assert recs and "GET" in recs[0].getMessage() and recs[0].exc_info
