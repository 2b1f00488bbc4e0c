"""The ``monitor_api`` half of the ``warehouse`` workload: the
monitoring GUI's reads over HTTP.

One client connection at a time sends requests in a closed loop to
``http_api.PipelineApiServer``, cycling through ``GET /runs``,
``GET /runs/:id``, ``GET /runs/:id/logs`` and ``GET /logs?limit=500``
in a seeded order with seeded run ids. Beside it, one writer thread
writes the control-store sequence of a finished run on a fixed
schedule (open loop); each run it finishes is read back by the client's
next request. Almost all of the work is control-table reads plus the
``api``/``http_api`` plan-and-collect; no ETL runs.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import threading
import time
from collections import deque
from contextlib import nullcontext

import history
import inputs
import tracing
from harness import Stopwatch, Workload
from result import Result

N_HISTORY = 12
# log rows history.write_run writes per run
LOGS_PER_RUN = 10
WRITER_PERIOD_S = 3.0
MIN_CYCLES = 1
KINDS = ("runs", "run_detail", "run_logs", "logs")
# control tables each endpoint reads (every event file holds one row)
READS = {
    "runs": ("pipeline_runs",),
    "run_detail": ("pipeline_runs", "step_runs"),
    "run_logs": ("pipeline_runs", "pipeline_logs"),
    "logs": ("pipeline_logs",),
}


class Writer(threading.Thread):
    """Open-loop control writer: one finished run every period, timed
    from when it was due."""

    def __init__(self, control, seed: int, period: float, tracer):
        super().__init__(daemon=True)
        self.control, self.period, self.tracer = control, period, tracer
        self.rng = inputs.rng_for(seed, "writer")
        self.stop_evt = threading.Event()
        self.finished: deque[str] = deque()
        self.run_ms: list[float] = []
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        start = time.perf_counter()
        k = 0
        try:
            while True:
                k += 1
                due = start + k * self.period
                if self.stop_evt.wait(max(0.0, due - time.perf_counter())):
                    return
                self.late_s.append(max(0.0, time.perf_counter() - due))
                rid = inputs.seeded_uuid(self.rng)
                ctx = (self.tracer.op(rid, "writer_run", thread_local=True)
                       if self.tracer else nullcontext())
                t0 = time.perf_counter()
                with ctx:
                    history.write_run(self.control, rid, "Writer", 1000)
                self.run_ms.append((time.perf_counter() - t0) * 1000)
                self.finished.append(rid)
        except BaseException as exc:  # noqa: BLE001 — surfaced by the client as a failed check
            self.error = exc


class MonitorApi(Workload):
    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.history_dir = None
        self.rng = inputs.rng_for(seed, "requests")
        self.n_rep = 0
        self.n_req = 0
        self.examined = self.returned = 0

    def setup(self, i: int) -> Stopwatch:
        d = os.path.join(self.work, f"history{i}")
        with Stopwatch() as took:
            self.ids = history.seed_history(d, self.seed, N_HISTORY)
        if self.history_dir is not None:
            shutil.rmtree(self.history_dir, ignore_errors=True)
        self.history_dir = d
        return took

    def setup_warm(self) -> None:
        """A two-run history: every call of the timed set-up, once."""
        d = os.path.join(self.work, "history-warm")
        history.seed_history(d, self.seed, 2)
        shutil.rmtree(d, ignore_errors=True)

    def prepare(self) -> None:
        pass

    def warm(self) -> Result:
        """One request cycle without the writer: JIT and plan-cache
        warm-up of every endpoint, checked like measured requests."""
        res = Result()
        self.repetition(res, 0.0, None, cycles=1, writer_period=None)
        return res

    def repetition(self, res: Result, seconds: float, tracer, cycles: int = 1,
                   writer_period: float | None = WRITER_PERIOD_S) -> None:
        from automated_data_pipeline_spark.control import ControlStore
        from automated_data_pipeline_spark.http_api import PipelineApiServer

        self.n_rep += 1
        d = os.path.join(self.work, f"api{self.n_rep}")
        shutil.copytree(self.history_dir, d)
        server = PipelineApiServer(self.spark, ControlStore(d)).start()
        writer = Writer(ControlStore(d), self.seed + self.n_rep, writer_period, tracer)
        self.tracer = tracer
        self.control_dir = os.path.join(d, "control")
        if writer_period is not None:
            writer.start()
        try:
            t0 = time.perf_counter()
            while len(res.passes) < cycles or time.perf_counter() - t0 < seconds:
                # runs the writer finished since the last cycle are read
                # back first; a cycle (the pass) is the 4 GUI requests
                self._verify_writer_runs(res, server.port, writer)
                order = list(KINDS)
                self.rng.shuffle(order)
                t_cycle = time.perf_counter()
                for kind in order:
                    self._request(res, server.port, kind, history.pick(self.rng, self.ids))
                res.pass_done(time.perf_counter() - t_cycle)
        finally:
            writer.stop_evt.set()
            if writer_period is not None:
                writer.join(timeout=60)
        try:
            if writer_period is not None:
                res.check("writer", writer.error is None and not writer.is_alive(),
                          repr(writer.error))
                self._verify_writer_runs(res, server.port, writer)
            if tracer:
                for ms in writer.run_ms:
                    res.layer("control.writer_run_ms", ms)
                res.layer("monitor.writer_late_s", max(writer.late_s, default=0.0))
                res.layer("control.event_files", history.control_event_files(d))
        finally:
            server.stop()
            shutil.rmtree(d, ignore_errors=True)

    def _verify_writer_runs(self, res: Result, port: int, writer: Writer) -> None:
        while writer.finished:
            self._request(res, port, "run_detail", writer.finished.popleft(), writer_run=True)

    def _request(self, res: Result, port: int, kind: str, rid: str, writer_run: bool = False) -> None:
        path = {
            "runs": "/runs",
            "run_detail": f"/runs/{rid}",
            "run_logs": f"/runs/{rid}/logs",
            "logs": "/logs?limit=500",
        }[kind]
        tracer = self.tracer
        if tracer:
            examined = sum(
                history.event_files(os.path.join(self.control_dir, t)) for t in READS[kind]
            )
            jobs_before = set(self.jobs.group(None))
        if not writer_run:
            self.before_op(res)
        self.n_req += 1
        ctx = tracer.op(f"req-{self.n_req}", f"GET {kind}") if tracer else nullcontext()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            with ctx, Stopwatch() as watch:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
            took = watch.wall
        except OSError as exc:
            res.fail(f"GET {path}", exc)
            return
        finally:
            conn.close()
        if not writer_run:
            # read-backs are checks: how many there are depends on how
            # long the cycles took, so counting them would shift the op mix
            res.op(kind, watch)
        try:
            doc = json.loads(body)
        except ValueError as exc:
            res.fail(f"GET {path} parse", exc)
            return
        ok, why = _valid(kind, rid, resp.status, doc, writer_run, self.ids)
        res.check(f"GET {path}", ok, why)
        if tracer:
            res.layer(f"api.{kind}_p50_ms", took * 1000)
            res.layer("api.jobs_per_req", len(set(self.jobs.group(None)) - jobs_before))
            returned = 1 + len(doc.get("steps", [])) if isinstance(doc, dict) else len(doc)
            self.examined += examined
            self.returned += max(1, returned)

    def span_metrics(self, spans: list[dict]) -> dict:
        out = history.control_span_metrics(spans)
        plan: dict[str, float] = {}
        for s in spans:
            if s["layer"] == "api" and s["name"] != "api.with_run_number_fallback":
                plan[s["op"]] = plan.get(s["op"], 0.0) + s["end"] - s["start"]
        out["api.plan_ms"] = tracing.median(plan.values()) * 1000 if plan else 0.0
        out["http_api.rows_to_jsonable_ms"] = tracing.span_p50_ms(
            spans, "http_api.rows_to_jsonable")
        out["api.run_number_fallback_ms"] = tracing.span_p50_ms(
            spans, "api.with_run_number_fallback")
        out["api.rows_examined_per_row_returned"] = self.examined / max(1, self.returned)
        return out


def _valid(kind: str, rid: str, status: int, doc, writer_run: bool,
           history_ids: list[str]) -> tuple[bool, str]:
    """Shape and content of one response. The seeded history (fewer than
    the 100 runs ``/runs`` returns and the 500 rows ``/logs`` is asked
    for) stays below both limits, so every seeded run and log row must
    be in the response."""
    if status != 200:
        return False, f"HTTP {status}: {doc}"
    if kind == "runs":
        stamps = [r.get("created_at") for r in doc]
        missing = set(history_ids) - {r.get("run_id") for r in doc}
        return (not missing and stamps == sorted(stamps, reverse=True),
                f"{len(doc)} runs, {len(missing)} seeded runs missing, order {stamps[:3]}")
    if kind == "run_detail":
        steps = doc.get("steps") or []
        ok = (doc.get("run_id") == rid and doc.get("status") == "Success"
              and len(steps) == 4 and all(s["status"] == "Success" for s in steps))
        return ok, f"{'writer ' if writer_run else ''}run {rid}: {doc.get('status')}, {len(steps)} steps"
    if kind == "run_logs":
        stamps = [r.get("log_at") for r in doc]
        ok = len(doc) == LOGS_PER_RUN and all(r.get("run_id") == rid for r in doc) \
            and stamps == sorted(stamps)
        return ok, f"{len(doc)} logs for {rid}"
    stamps = [r.get("log_at") for r in doc]
    seeded = LOGS_PER_RUN * len(history_ids)
    return (seeded <= len(doc) <= 500 and stamps == sorted(stamps, reverse=True),
            f"{len(doc)} logs, at least {seeded} seeded")
