"""Thin HTTP read API over the monitoring queries (api.py), mirroring
the reference's Express server route-for-route
(python_code/api/server.js:42-169; ApiServlet.java:435-593):

- GET  /runs                 — ?pipeline=&status=, newest-first, top 100
- GET  /runs/{id}            — run row + steps[] ordered by step_number
- GET  /runs/{id}/logs       — chronological logs for one run (404 if
                               the run doesn't exist)
- GET  /logs                 — ?runId=&pipeline=&level=&limit= (default
                               500, clamped to 2000), newest-first
- POST /pipeline/trigger     — upload a CSV/JSON (multipart form field
                               "file" or raw body + ?filename=), save to
                               the landing dir, start the pipeline in a
                               background thread, 201 {runId, ...}
- POST /pipeline/upload      — save to the landing dir WITHOUT running,
                               200 {path} (ApiServlet.java:283-326)
- POST /runs/{id}/cancel     — cooperative cancel: 404 unknown, 400 not
                               Running, 200 {ok} and the worker stamps
                               Cancelled (ApiServlet.java:509-539)
- GET/POST/PUT/DELETE /schedules[/{id}] — schedule CRUD over an
                               attached ScheduleRunner: multipart add
                               (fields + source file saved to landing)
                               or JSON with sourcePath; PUT merges and
                               revalidates/recomputes next_run_at;
                               (ApiServlet.java:197-365)
- GET/POST /admin/check-running-status — run the 6 h timeout sweep now,
                               {runningChecked, markedTimeout,
                               runIdsMarked} (ApiServlet.java:404-434)

Browser GUI (web.py renders, this module routes — the counterpart of
the reference's React pages / JSPs: RunList.jsx, RunDetail.jsx,
Logs.jsx, run-detail.jsp with its 2 s auto-refresh):

- GET  /                     — HTML runs table (?pipeline=&status=)
- GET  /ui/runs/{id}         — HTML run detail + steps (+ meta-refresh
                               2 s while Running), 404 page if missing
- GET  /ui/logs              — HTML logs table (?runId=&level=&limit=)
- GET  /ui/manual-run        — manual-run.jsp counterpart (trigger form)
- GET  /ui/schedules         — schedules.jsp counterpart (add form +
                               table + enable/disable/delete actions)
- GET  /ui/admin             — admin.jsp counterpart (timeout-sweep
                               button)

Design notes:
- stdlib only (ThreadingHTTPServer): the engine charter is "no new
  dependencies". The read endpoints (and their HTML pages) answer
  from the control store's Arrow tables through api.py's ``*_arrow``
  twins — filter, sort, limit and nest on the driver, zero Spark jobs
  per request — as the reference reads its control DB, not the ETL
  engine.
- The reference runs the triggered pipeline in a CHILD PROCESS so the
  API stays responsive (server.js:175-190); a Spark driver must keep
  the pipeline inside its own JVM session, so the equivalent here is a
  daemon thread. The read endpoints stay live while the pipeline runs
  because they never wait for a task slot
  (tests/test_http_api.py::test_read_endpoints_answer_while_task_slots_are_busy).
- Results serialize through a single timestamp-aware JSON
  canonicalizer shared by Arrow tables and collected DataFrames, so
  cross-checking an endpoint against its DataFrame twin is exact
  (tests/test_http_api.py does precisely that).
"""

from __future__ import annotations

import json
import logging
import os
import re
import threading
import time
import urllib.parse
import uuid
from datetime import date, datetime
from email.parser import BytesParser
from email.policy import default as email_default_policy
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
from pyspark.sql import DataFrame

from . import api, web

log = logging.getLogger(__name__)


def _jsonable(v):
    """Canonicalize one value for JSON: timestamps/dates to ISO-8601
    strings, Rows and structs to dicts, bytes to hex. A timezone-aware
    timestamp (Arrow's UTC values) renders as naive local time, the way
    Spark's ``collect`` returns the same instant, so a DataFrame twin
    and an Arrow twin serialize byte-identically on any process
    timezone."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone().replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # nested Row (steps[] structs)
        return _jsonable(v.asDict())
    return v


def rows_to_jsonable(rows: DataFrame | pa.Table) -> list[dict]:
    """A (small, already-limited) result as JSON-ready dicts: an Arrow
    table converts on the driver, a DataFrame is collected. Endpoint
    results are all bounded (point lookups or LIMIT-ed lists), so the
    collect is driver-safe by construction."""
    if isinstance(rows, pa.Table):
        records = rows.to_pylist()
    else:
        records = [r.asDict() for r in rows.collect()]
    return [_jsonable(r) for r in records]


class PipelineApiServer:
    """Bundles the Spark session, control store, and pipeline runner
    behind the reference's HTTP surface. ``port=0`` binds an ephemeral
    port (tests); ``server.port`` reports the bound port."""

    def __init__(
        self,
        spark,
        control,
        runner=None,
        landing_dir: str | None = None,
        scheduler=None,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self.spark = spark
        self.control = control
        self.runner = runner
        self.landing_dir = landing_dir
        self.scheduler = scheduler
        self._httpd = ThreadingHTTPServer(
            (host, port), _make_handler(self)
        )
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # -- data access: the Arrow twins in api.py, no Spark job ----------
    def runs_table(self) -> pa.Table:
        return api.with_run_number_fallback_arrow(self.control.runs_table())

    def list_runs(self, pipeline, status) -> list[dict]:
        return rows_to_jsonable(
            api.list_runs_arrow(self.runs_table(), pipeline=pipeline, status=status)
        )

    def run_detail(self, run_id: str) -> dict | None:
        out = rows_to_jsonable(
            api.run_detail_arrow(
                self.runs_table(), self.control.steps_table(), run_id
            )
        )
        return out[0] if out else None

    def run_logs(self, run_id: str) -> list[dict] | None:
        # 404 contract: the run must exist (server.js:114-119)
        if self.control.latest_run_state(run_id) is None:
            return None
        return rows_to_jsonable(
            api.run_logs_arrow(self.control.logs_table(), run_id)
        )

    def list_logs(self, run_id, pipeline, level, limit) -> list[dict]:
        return rows_to_jsonable(
            api.list_logs_arrow(
                self.control.logs_table(),
                run_id=run_id,
                pipeline=pipeline,
                level=level,
                limit=limit,
            )
        )

    def _save_upload(self, prefix: str, filename: str, payload: bytes) -> str:
        """Validate an uploaded file and save it to the landing dir as
        ``{prefix}_{ms}_{uuid8}{ext}``; returns the saved path. The
        timestamp + uuid suffix keeps two uploads in the same
        millisecond from overwriting each other."""
        api.validate_upload(filename, len(payload))
        ext = os.path.splitext(filename)[1].lower() or ".csv"
        os.makedirs(self.landing_dir, exist_ok=True)
        saved = os.path.join(
            self.landing_dir,
            f"{prefix}_{int(time.time() * 1000)}_{uuid.uuid4().hex[:8]}{ext}",
        )
        with open(saved, "wb") as f:
            f.write(payload)
        return saved

    def trigger(self, filename: str, payload: bytes) -> dict:
        saved = self._save_upload("upload", filename, payload)
        run_id = str(uuid.uuid4())
        # create the control rows SYNCHRONOUSLY so a client that polls
        # GET /runs/{id} right after the 201 finds the Running row
        # (reference parity: server.js:180 / PipelineRunner.java:59-119
        # insert control rows before handing off to the worker)
        self.runner.control.start_run(
            pipeline_name="HttpTriggeredPipeline", run_id=run_id
        )
        t = threading.Thread(
            target=self.runner.run,
            kwargs={
                "source_path": saved,
                "run_id": run_id,
                "pipeline_name": "HttpTriggeredPipeline",
            },
            daemon=True,
        )
        t.start()
        return {
            "runId": run_id,
            "message": "Pipeline started in background",
            "file": os.path.basename(saved),
        }

    # -- schedules (ApiServlet.java:197-365; schedules.jsp) -----------
    def _schedule_jsonable(self, s: dict) -> dict:
        out = {}
        for k, v in s.items():
            if isinstance(v, datetime):
                out[k] = v.isoformat(sep=" ", timespec="seconds")
            else:
                out[k] = v
        return out

    def list_schedules(self) -> list[dict]:
        if self.scheduler is None:
            return []
        with self.scheduler._lock:
            rows = [dict(s) for s in self.scheduler.schedules.values()]
        rows.sort(
            key=lambda s: str(s.get("created_at") or ""), reverse=True
        )
        return [self._schedule_jsonable(s) for s in rows]

    def get_schedule(self, sid: str) -> dict | None:
        if self.scheduler is None:
            return None
        with self.scheduler._lock:
            s = self.scheduler.schedules.get(sid)
            return self._schedule_jsonable(dict(s)) if s else None

    def create_schedule(self, fields: dict, file=None) -> dict:
        """POST /schedules: reference parity takes name/scheduleType/
        runAtTime/dayOfWeek/dayOfMonth plus a source file saved to the
        landing dir (ApiServlet.java:223-326); JSON bodies may pass
        source_path directly instead of a file. Validation happens in
        ScheduleRunner.add (compute_next_run raises on malformed
        fields -> 400)."""
        source_path = fields.get("source_path") or fields.get("sourcePath")
        if file is not None:
            source_path = self._save_upload("schedule", *file)
        now = datetime.utcnow()

        def as_int(v):
            return None if v in (None, "") else int(v)

        s = {
            "schedule_id": str(uuid.uuid4()),
            "name": fields.get("name") or "Unnamed schedule",
            "schedule_type": fields.get("schedule_type")
            or fields.get("scheduleType") or "daily",
            "run_at_time": fields.get("run_at_time")
            or fields.get("runAtTime") or "09:00",
            "day_of_week": as_int(
                fields.get("day_of_week", fields.get("dayOfWeek"))
            ),
            "day_of_month": as_int(
                fields.get("day_of_month", fields.get("dayOfMonth"))
            ),
            "source_path": source_path,
            "enabled": True,
            "created_at": now,
            "updated_at": now,
            "last_run_at": None,
        }
        self.scheduler.add(s)  # validates; raises on malformed fields
        return self.get_schedule(s["schedule_id"])

    def update_schedule(self, sid: str, fields: dict) -> bool:
        """PUT /schedules/{id}: merge the provided fields atomically
        and revalidate/recompute next_run_at (the reference's
        updateSchedule likewise recomputes NextRunAt). Returns False
        if the schedule doesn't exist."""
        key_map = {
            "name": "name", "scheduleType": "schedule_type",
            "schedule_type": "schedule_type", "runAtTime": "run_at_time",
            "run_at_time": "run_at_time", "dayOfWeek": "day_of_week",
            "day_of_week": "day_of_week", "dayOfMonth": "day_of_month",
            "day_of_month": "day_of_month", "sourcePath": "source_path",
            "source_path": "source_path", "enabled": "enabled",
        }
        mapped = {
            key_map[k]: v
            for k, v in fields.items()
            if k in key_map and v is not None
        }
        mapped["updated_at"] = datetime.utcnow()
        # the merge happens atomically inside the scheduler lock — a
        # lock-released read-merge-add here let two concurrent PUTs
        # silently drop each other's fields
        return self.scheduler.update(sid, mapped)

    def delete_schedule(self, sid: str) -> bool:
        with self.scheduler._lock:
            return self.scheduler.schedules.pop(sid, None) is not None

    # -- admin + cancel (ApiServlet.java:380-434, 509-539) ------------
    def check_running_status(self) -> dict:
        """GET/POST /admin/check-running-status: run the 6 h timeout
        sweep now; response shape mirrors checkRunningStatus()."""
        marked = self.runner.sweep_timeouts()
        return {
            "runningChecked": True,
            "markedTimeout": len(marked),
            "runIdsMarked": marked,
        }

    def cancel_run(self, run_id: str) -> tuple[int, dict]:
        """POST /runs/{id}/cancel: 404 unknown, 400 not Running, else
        request cooperative cancellation (flag + cancelJobGroup); the
        worker thread stamps the Cancelled status/steps — unlike the
        reference's immediate UPDATE, the status flips when the run
        actually stops, which is the honest ordering."""
        state = self.control.latest_run_state(run_id)
        if state is None:
            return 404, {"error": "Run not found"}
        status = state["status"]
        if status != "Running":
            return 400, {"error": f"Run is not running (status: {status})"}
        self.runner.cancel(run_id)
        return 200, {"ok": True, "message": "Cancellation requested"}

    def upload_file(self, filename: str, payload: bytes) -> dict:
        """POST /pipeline/upload: save to landing WITHOUT triggering a
        run; returns the saved path (ApiServlet.java:283-326)."""
        saved = self._save_upload("upload", filename, payload)
        return {"path": os.path.abspath(saved)}

    # -- lifecycle ----------------------------------------------------
    def start(self) -> "PipelineApiServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def parse_multipart_form(content_type: str, body: bytes):
    """Parse a multipart/form-data body with the stdlib email parser
    into (fields: dict[str, str], file: (filename, payload) | None) —
    the ``file`` form field becomes the file, every other field a
    string (the shape ApiServlet.java:236-263 reads for schedule
    creation)."""
    msg = BytesParser(policy=email_default_policy).parsebytes(
        b"Content-Type: " + content_type.encode() + b"\r\n\r\n" + body
    )
    fields: dict[str, str] = {}
    file = None
    if not msg.is_multipart():
        return fields, None
    for part in msg.iter_parts():
        disp = part.get("Content-Disposition", "")
        m_name = re.search(r'name="([^"]*)"', disp)
        name = m_name.group(1) if m_name else ""
        if name == "file":
            m = re.search(r'filename="([^"]*)"', disp)
            fname = m.group(1) if m else "upload.csv"
            file = (fname, part.get_payload(decode=True) or b"")
        elif name:
            payload = part.get_payload(decode=True) or b""
            fields[name] = payload.decode("utf-8", "replace")
    return fields, file


def _make_handler(srv: PipelineApiServer):
    class Handler(BaseHTTPRequestHandler):
        server_version = "PipelineApi/1.0"

        def log_message(self, fmt, *args):  # quiet test output
            pass

        def _send(self, code: int, obj) -> None:
            data = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.send_header("Access-Control-Allow-Origin", "*")
            self.end_headers()
            self.wfile.write(data)

        def _fail(self, e: Exception) -> None:
            """The catch-all 500 (server.js parity): the body carries
            the error text, the server log the traceback with the
            request method and path (``log_message`` is silenced)."""
            log.exception("%s %s failed", self.command, self.path)
            self._send(500, {"error": str(e)})

        def _send_html(self, code: int, page: str) -> None:
            data = page.encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            try:
                u = urllib.parse.urlsplit(self.path)
                q = dict(urllib.parse.parse_qsl(u.query))
                parts = [p for p in u.path.split("/") if p]
                # -- browser GUI (web.py) ----------------------------
                if parts == []:
                    return self._send_html(
                        200,
                        web.render_run_list(
                            srv.list_runs(q.get("pipeline"), q.get("status"))
                        ),
                    )
                if len(parts) == 3 and parts[:2] == ["ui", "runs"]:
                    # web.py percent-encodes ids in links; decode the
                    # path segment or any id with reserved chars 404s
                    # from its own link
                    rid = urllib.parse.unquote(parts[2])
                    detail = srv.run_detail(rid)
                    if detail is None:
                        return self._send_html(
                            404, web.render_not_found(f"Run {rid}")
                        )
                    return self._send_html(
                        200, web.render_run_detail(detail)
                    )
                if parts == ["ui", "manual-run"]:
                    return self._send_html(200, web.render_manual_run())
                if parts == ["ui", "schedules"]:
                    return self._send_html(
                        200, web.render_schedules(srv.list_schedules())
                    )
                if parts == ["ui", "admin"]:
                    return self._send_html(200, web.render_admin())
                if parts == ["ui", "logs"]:
                    try:
                        limit = int(q.get("limit", api.DEFAULT_LOG_LIMIT))
                    except ValueError:
                        limit = api.DEFAULT_LOG_LIMIT
                    logs = srv.list_logs(
                        q.get("runId"), q.get("pipeline"),
                        q.get("level"), limit,
                    )
                    return self._send_html(
                        200,
                        web.render_logs(
                            logs, run_id=q.get("runId"), level=q.get("level")
                        ),
                    )
                # -- JSON API ----------------------------------------
                if parts == ["runs"]:
                    return self._send(
                        200,
                        srv.list_runs(q.get("pipeline"), q.get("status")),
                    )
                # run ids are caller-chosen (PipelineRunner.run(run_id=))
                # and may hold reserved chars: decode, as /ui/runs does
                if len(parts) == 2 and parts[0] == "runs":
                    detail = srv.run_detail(urllib.parse.unquote(parts[1]))
                    if detail is None:
                        return self._send(404, {"error": "Run not found"})
                    return self._send(200, detail)
                if len(parts) == 3 and parts[0] == "runs" and parts[2] == "logs":
                    logs = srv.run_logs(urllib.parse.unquote(parts[1]))
                    if logs is None:
                        return self._send(404, {"error": "Run not found"})
                    return self._send(200, logs)
                if parts == ["logs"]:
                    try:
                        limit = int(q.get("limit", api.DEFAULT_LOG_LIMIT))
                    except ValueError:
                        limit = api.DEFAULT_LOG_LIMIT
                    return self._send(
                        200,
                        srv.list_logs(
                            q.get("runId"), q.get("pipeline"),
                            q.get("level"), limit,
                        ),
                    )
                if parts == ["schedules"]:
                    return self._send(200, srv.list_schedules())
                if len(parts) == 2 and parts[0] == "schedules":
                    s = srv.get_schedule(parts[1])
                    if s is None:
                        return self._send(
                            404, {"error": "Schedule not found"}
                        )
                    return self._send(200, s)
                if parts == ["admin", "check-running-status"]:
                    if srv.runner is None:
                        return self._send(
                            500, {"error": "runner not configured"}
                        )
                    return self._send(200, srv.check_running_status())
                return self._send(404, {"error": "Not found"})
            except Exception as e:  # mirror server.js catch-all 500
                return self._fail(e)

        def _read_body_guarded(self):
            """Read the request body with the Content-Length guards
            shared by every write endpoint. Returns the bytes, or None
            after an error response has been sent."""
            try:
                length = int(self.headers.get("Content-Length", 0))
            except (TypeError, ValueError):
                self._send(400, {"error": "invalid Content-Length header"})
                return None
            if length < 0:
                # rfile.read(-N) would block reading to EOF and hang
                # this handler thread until the client gives up
                self._send(400, {"error": "invalid Content-Length header"})
                return None
            # multer parity (server.js:25 limits.fileSize): refuse
            # oversize uploads from the header, BEFORE buffering the
            # body — a 10 GB POST must not reach driver memory.
            # Multipart framing overhead is ~1 KB; exact payload
            # size is re-checked post-parse by validate_upload.
            if length > api.UPLOAD_MAX_BYTES + 4096:
                # drain and DISCARD in small chunks (memory stays
                # bounded) so the client can finish sending and
                # receive the 400 instead of a broken pipe
                remaining = length
                while remaining > 0:
                    chunk = self.rfile.read(min(remaining, 1 << 20))
                    if not chunk:
                        break
                    remaining -= len(chunk)
                self._send(
                    400,
                    {"error": f"file too large: request body {length} "
                              f"bytes > {api.UPLOAD_MAX_BYTES} byte cap"},
                )
                return None
            return self.rfile.read(length) if length else b""

        def _extract_upload(self, u, body):
            """(filename, payload) from a multipart body or a raw body
            + ?filename=; sends the 400 and returns None otherwise."""
            ctype = self.headers.get("Content-Type", "")
            if ctype.startswith("multipart/form-data"):
                _fields, got = parse_multipart_form(ctype, body)
                if got is not None:
                    return got
            else:
                q = dict(urllib.parse.parse_qsl(u.query))
                fname = q.get("filename")
                if fname and body:
                    return fname, body
            self._send(
                400,
                {"error": 'No file uploaded. Use form field '
                          '"file" with a CSV or JSON file.'},
            )
            return None

        def do_POST(self):
            try:
                u = urllib.parse.urlsplit(self.path)
                parts = [p for p in u.path.split("/") if p]
                body = self._read_body_guarded()
                if body is None:
                    return
                if u.path == "/pipeline/trigger":
                    if srv.runner is None or srv.landing_dir is None:
                        return self._send(
                            500, {"error": "trigger not configured"}
                        )
                    got = self._extract_upload(u, body)
                    if got is None:
                        return
                    try:
                        out = srv.trigger(*got)
                    except ValueError as ve:
                        return self._send(400, {"error": str(ve)})
                    return self._send(201, out)
                if u.path == "/pipeline/upload":
                    if srv.landing_dir is None:
                        return self._send(
                            500, {"error": "upload not configured"}
                        )
                    got = self._extract_upload(u, body)
                    if got is None:
                        return
                    try:
                        return self._send(200, srv.upload_file(*got))
                    except ValueError as ve:
                        return self._send(400, {"error": str(ve)})
                if u.path == "/schedules":
                    if srv.scheduler is None:
                        return self._send(
                            500, {"error": "schedules not configured"}
                        )
                    ctype = self.headers.get("Content-Type", "")
                    try:
                        if ctype.startswith("multipart/form-data"):
                            fields, file = parse_multipart_form(ctype, body)
                            if file is not None and srv.landing_dir is None:
                                return self._send(
                                    500, {"error": "upload not configured"}
                                )
                        else:
                            fields = json.loads(body) if body else {}
                            file = None
                        created = srv.create_schedule(fields, file)
                    except (ValueError, KeyError) as ve:
                        # includes JSONDecodeError (a ValueError): a
                        # malformed body is the client's fault, not 500
                        return self._send(400, {"error": str(ve)})
                    return self._send(201, created)
                if u.path == "/admin/check-running-status":
                    if srv.runner is None:
                        return self._send(
                            500, {"error": "runner not configured"}
                        )
                    return self._send(200, srv.check_running_status())
                if (
                    len(parts) == 3
                    and parts[0] == "runs"
                    and parts[2] == "cancel"
                ):
                    if srv.runner is None:
                        return self._send(
                            500, {"error": "runner not configured"}
                        )
                    code, out = srv.cancel_run(
                        urllib.parse.unquote(parts[1])
                    )
                    return self._send(code, out)
                return self._send(404, {"error": "Not found"})
            except Exception as e:
                return self._fail(e)

        def do_PUT(self):
            try:
                u = urllib.parse.urlsplit(self.path)
                parts = [p for p in u.path.split("/") if p]
                body = self._read_body_guarded()
                if body is None:
                    return
                if len(parts) == 2 and parts[0] == "schedules":
                    if srv.scheduler is None:
                        return self._send(
                            500, {"error": "schedules not configured"}
                        )
                    try:
                        fields = json.loads(body) if body else {}
                        ok = srv.update_schedule(parts[1], fields)
                    except (ValueError, KeyError) as ve:
                        return self._send(400, {"error": str(ve)})
                    if not ok:
                        return self._send(
                            404, {"error": "Schedule not found"}
                        )
                    return self._send(200, {"ok": True})
                return self._send(404, {"error": "Not found"})
            except Exception as e:
                return self._fail(e)

        def do_DELETE(self):
            try:
                parts = [
                    p for p in urllib.parse.urlsplit(self.path).path.split("/")
                    if p
                ]
                if len(parts) == 2 and parts[0] == "schedules":
                    if srv.scheduler is None:
                        return self._send(
                            500, {"error": "schedules not configured"}
                        )
                    if not srv.delete_schedule(parts[1]):
                        return self._send(
                            404, {"error": "Schedule not found"}
                        )
                    return self._send(200, {"ok": True})
                return self._send(404, {"error": "Not found"})
            except Exception as e:
                return self._fail(e)

    return Handler
