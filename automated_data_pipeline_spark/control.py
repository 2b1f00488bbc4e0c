"""Control-plane tables: pipeline_runs / step_runs / pipeline_logs.

The reference keeps run/step/log state in mutable DB rows, committed
eagerly so monitors see progress mid-flight (sqlite_schema.sql:5-46;
PipelineRunner.java:212-218). A Spark-native engine has no cheap
row-update primitive, so the control plane is **event-sourced**: every
state change appends an immutable full-state row (tiny parquet file,
written driver-side via pyarrow — the control plane is metadata beside
the dataflow, exactly like the reference's SQLite-beside-the-pipeline).
Appends are atomic-by-file, so concurrent readers (the monitoring API)
never see torn state — the reference gets the same property from WAL
journaling (orchestrator/db.js:17).

Reads never scan with Spark. Event files are immutable once in place
and uniquely named, so each store instance decodes every file with
pyarrow exactly once (cached by file name; a directory listing per
read picks up other writers' files and drops deleted ones). The
*current* state — latest row per key by ``event_seq``, ties to the
earliest file — is computed once per listing in Arrow. Driver-side
readers (the monitoring endpoints, the timeout sweep) take those Arrow
tables directly (``runs_table``/``steps_table``/``logs_table``) and run
no Spark job; the ``runs``/``steps``/``logs`` DataFrame views are local
relations over the same tables: no file scan, no schema-inference job,
no window shuffle.

At scale this would be a Delta/Iceberg table with OPTIMIZE compaction;
the event-sourced latest-wins view is identical.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from datetime import datetime, timezone
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .schemas import STEP_NAMES


def where(table: pa.Table, **equals) -> pa.Table:
    """Conjunctive ``column == value`` filters; a None value is no
    filter. Null cells never match, as in Spark."""
    mask = None
    for column, value in equals.items():
        if value is not None:
            hit = pc.equal(table[column], value)
            mask = hit if mask is None else pc.and_(mask, hit)
    return table if mask is None else table.filter(mask)


_RUN_FIELDS = [
    ("run_id", pa.string()),
    ("run_number", pa.int64()),
    ("pipeline_name", pa.string()),
    ("adf_run_id", pa.string()),
    ("started_at", pa.timestamp("us", tz="UTC")),
    ("finished_at", pa.timestamp("us", tz="UTC")),
    ("status", pa.string()),
    ("created_at", pa.timestamp("us", tz="UTC")),
    ("updated_at", pa.timestamp("us", tz="UTC")),
    ("event_seq", pa.int64()),
]
_STEP_FIELDS = [
    ("run_id", pa.string()),
    ("step_number", pa.int32()),
    ("step_name", pa.string()),
    ("started_at", pa.timestamp("us", tz="UTC")),
    ("finished_at", pa.timestamp("us", tz="UTC")),
    ("status", pa.string()),
    ("rows_affected", pa.int64()),
    ("rows_processed", pa.int64()),
    ("rows_total", pa.int64()),
    ("error_message", pa.string()),
    ("created_at", pa.timestamp("us", tz="UTC")),
    ("updated_at", pa.timestamp("us", tz="UTC")),
    ("event_seq", pa.int64()),
]
_LOG_FIELDS = [
    ("log_id", pa.int64()),
    ("run_id", pa.string()),
    ("pipeline_name", pa.string()),
    ("log_at", pa.timestamp("us", tz="UTC")),
    ("level", pa.string()),
    ("step_number", pa.int32()),
    ("step_name", pa.string()),
    ("message", pa.string()),
    ("details", pa.string()),
]


def utcnow() -> datetime:
    return datetime.now(timezone.utc)


class _EventTable:
    """One control table: appends one immutable single-row parquet file
    per event and reads them back through a decode-once cache."""

    def __init__(self, directory: str, fields, keys: list[str] | None = None):
        self.directory = directory
        self.schema = pa.schema(fields)
        self.keys = keys  # latest-wins key; None = append-only (logs)
        os.makedirs(directory, exist_ok=True)
        self._lock = threading.Lock()
        self._files: dict[str, pa.Table] = {}
        self._names: list[str] = []
        self._events = self.schema.empty_table()
        self._latest: pa.Table | None = None

    def append(self, row: dict[str, Any]) -> None:
        arrays = [pa.array([row.get(f.name)], type=f.type) for f in self.schema]
        table = pa.Table.from_arrays(arrays, schema=self.schema)
        fname = f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(self.directory, f".tmp-{fname}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.directory, fname))
        with self._lock:  # our own event: no need to decode it back
            self._files[fname] = table

    def _refresh(self) -> None:
        """Sync the cache with a listing (call under ``_lock``).
        Dot/underscore-prefixed entries (a crashed write's '.tmp-*',
        run-number claims) are not events. A file is decoded the first
        time a listing shows it; one that left the listing leaves the
        view. A decode error propagates: an empty answer would make
        update_run merge onto a bare {run_id} (wiping state to NULLs)
        and restart run numbering at 1."""
        names = sorted(
            f for f in os.listdir(self.directory)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if names == self._names:
            return
        self._files = {
            n: self._files[n] if n in self._files
            else pq.ParquetFile(os.path.join(self.directory, n)).read()
            for n in names
        }
        self._names = names
        self._events = (
            pa.concat_tables(self._files.values()).combine_chunks()
            if names else self.schema.empty_table()
        )
        self._latest = None

    def events(self) -> pa.Table:
        """Every event row, in file-name order."""
        with self._lock:
            self._refresh()
            return self._events

    def latest(self) -> pa.Table:
        """Latest-wins row per key (``event_seq`` dropped), computed once
        per listing. On equal ``event_seq`` the earliest file in name
        order wins: the sort is stable over name-ordered events, and
        ``first`` of an unthreaded group-by keeps input order."""
        with self._lock:
            self._refresh()
            if self._latest is None:
                events = self._events
                order = pc.sort_indices(events, [("event_seq", "descending")])
                winners = (
                    events.select(self.keys).take(order)
                    .append_column("_pos", order)
                    .group_by(self.keys, use_threads=False)
                    .aggregate([("_pos", "first")])
                )
                self._latest = events.take(winners["_pos_first"]).drop_columns(
                    ["event_seq"]
                )
            return self._latest

    def latest_row(self, key: dict[str, Any]) -> dict[str, Any] | None:
        """The ``latest`` row for one key, or None."""
        rows = where(self.latest(), **key).to_pylist()
        return rows[0] if rows else None


class ControlStore:
    """Append-only control tables under ``<workdir>/control/``."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        self.runs_dir = os.path.join(workdir, "control", "pipeline_runs")
        self.steps_dir = os.path.join(workdir, "control", "step_runs")
        self.logs_dir = os.path.join(workdir, "control", "pipeline_logs")
        self._run_events = _EventTable(self.runs_dir, _RUN_FIELDS, ["run_id"])
        self._step_events = _EventTable(
            self.steps_dir, _STEP_FIELDS, ["run_id", "step_number"]
        )
        self._log_events = _EventTable(self.logs_dir, _LOG_FIELDS)
        # current-state caches so each append carries full state
        self._runs: dict[str, dict[str, Any]] = {}
        self._steps: dict[tuple[str, int], dict[str, Any]] = {}
        # Concurrent runs (HTTP trigger daemon threads, scheduler) share
        # one store: the RLock (a) keeps cache iteration/mutation safe
        # and (b) makes next_run_number + the Running-row write one
        # atomic section, so two simultaneous start_run calls cannot
        # both read MAX(run_number)=N and both hand out N+1.
        self._lock = threading.RLock()

    # ---- run lifecycle (reference: index.js:32-51; PipelineRunner.java:59-119)
    def next_run_number(self) -> int:
        """A1: COALESCE(MAX(RunNumber),0)+1 (index.js:36) — max over BOTH
        this instance's cache and disk, so concurrent stores on one
        workdir don't hand out duplicate numbers from a stale cache."""
        with self._lock:
            mx = max((r.get("run_number") or 0 for r in self._runs.values()), default=0)
        on_disk = pc.max(self._run_events.events()["run_number"]).as_py()
        return max(mx, on_disk or 0) + 1

    def _claim_run_number(self) -> int:
        """Allocate a fresh run number exclusively ACROSS processes: the
        in-memory lock makes next_run_number atomic within one store,
        but two store instances (scheduler-owned + HTTP-server-owned,
        or two processes) could both read MAX=N and hand out N+1. An
        O_EXCL claim file per number arbitrates — the loser advances
        to the next free number (same discipline as TargetTable's
        version claims; the event listing skips the underscore-prefixed
        markers)."""
        n = self.next_run_number()
        while True:
            claim = os.path.join(self.runs_dir, f"_claim_run_{n:09d}")
            try:
                os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                return n
            except FileExistsError:
                n += 1

    def start_run(
        self,
        pipeline_name: str = "OrdersPipeline",
        adf_run_id: str | None = None,
        run_id: str | None = None,
    ) -> str:
        """Insert the Running run row + 4 Pending step placeholders
        (the reference's 'logical plan': index.js:38-49)."""
        run_id = run_id or str(uuid.uuid4())
        now = utcnow()
        with self._lock:
            return self._start_run_locked(run_id, pipeline_name, adf_run_id, now)

    def _start_run_locked(self, run_id, pipeline_name, adf_run_id, now) -> str:
        # Restart-aware: when the run_id already has control rows (the
        # HTTP trigger creates them synchronously before the worker
        # thread calls run(), and a retried run_id re-enters here), the
        # run KEEPS its run_number — the client already saw it — and
        # its row/steps reset to Running/Pending for the new attempt
        # instead of being re-inserted under a fresh number.
        existing = self._runs.get(run_id) or self._run_events.latest_row(
            {"run_id": run_id}
        )
        run_number = (
            existing["run_number"]
            if existing and existing.get("run_number") is not None
            else self._claim_run_number()
        )
        created_at = (
            existing["created_at"]
            if existing and existing.get("created_at") is not None
            else now
        )
        row = {
            "run_id": run_id,
            "run_number": run_number,
            "pipeline_name": pipeline_name,
            "adf_run_id": adf_run_id or f"local-{time.time_ns() // 1_000_000}",
            "started_at": now,
            "finished_at": None,
            "status": "Running",
            "created_at": created_at,
        }
        self._write_run(row)
        for i, name in enumerate(STEP_NAMES, start=1):
            self._write_step(
                {
                    "run_id": run_id,
                    "step_number": i,
                    "step_name": name,
                    "started_at": None,
                    "finished_at": None,
                    "status": "Pending",
                    "rows_affected": None,
                    "rows_processed": None,
                    "rows_total": None,
                    "error_message": None,
                    "created_at": now,
                }
            )
        return run_id

    def _write_run(self, row: dict[str, Any]) -> None:
        row = dict(row)
        row["updated_at"] = utcnow()
        row["event_seq"] = time.time_ns()
        with self._lock:
            self._runs[row["run_id"]] = row
        self._run_events.append(row)

    def _write_step(self, row: dict[str, Any]) -> None:
        row = dict(row)
        row["updated_at"] = utcnow()
        row["event_seq"] = time.time_ns()
        with self._lock:
            self._steps[(row["run_id"], row["step_number"])] = row
        self._step_events.append(row)

    def latest_run_state(self, run_id: str) -> dict[str, Any] | None:
        """Latest-wins state row for one run from the event files on
        DISK, not this instance's write cache: another store instance
        (timeout sweeper, second process) may have written a newer
        event. Answered on the driver — the ``runs`` view's row for one
        key, with no Spark job."""
        return self._run_events.latest_row({"run_id": run_id})

    def update_run(self, run_id: str, **fields: Any) -> None:
        with self._lock:
            cur = self._runs.get(run_id)
            if cur is None:  # started by another process — merge, don't wipe
                cur = self._run_events.latest_row({"run_id": run_id})
            cur = dict(cur or {"run_id": run_id})
            cur.update(fields)
            self._write_run(cur)

    def update_step(self, run_id: str, step_number: int, **fields: Any) -> None:
        with self._lock:
            cur = self._steps.get((run_id, step_number))
            if cur is None:
                cur = self._step_events.latest_row(
                    {"run_id": run_id, "step_number": step_number}
                )
            cur = dict(cur or {"run_id": run_id, "step_number": step_number})
            cur.update(fields)
            self._write_step(cur)

    def log(
        self,
        run_id: str | None,
        level: str,
        message: str,
        pipeline_name: str | None = None,
        step_number: int | None = None,
        step_name: str | None = None,
        details: str | None = None,
    ) -> None:
        """Append-only log stream (logger.js:21-33; PipelineLogger.java:15-34)."""
        self._log_events.append(
            {
                "log_id": time.time_ns(),
                "run_id": run_id,
                "pipeline_name": pipeline_name,
                "log_at": utcnow(),
                "level": level,
                "step_number": step_number,
                "step_name": step_name,
                "message": message,
                "details": details,
            },
        )

    # ---- current-state views ------------------------------------------
    # The Arrow tables answer driver-side readers (the monitoring
    # endpoints, the timeout sweep) with no Spark job; the DataFrame
    # views are local relations over the same tables.
    def runs_table(self) -> pa.Table:
        return self._run_events.latest()

    def steps_table(self) -> pa.Table:
        return self._step_events.latest()

    def logs_table(self) -> pa.Table:
        return self._log_events.events()

    def runs(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.runs_table())

    def steps(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.steps_table())

    def logs(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.logs_table())
