"""Control-plane tables: pipeline_runs / step_runs / pipeline_logs.

The reference keeps run/step/log state in mutable DB rows, committed
eagerly so monitors see progress mid-flight (sqlite_schema.sql:5-46;
PipelineRunner.java:212-218). A Spark-native engine has no cheap
row-update primitive, so the control plane is **event-sourced**: every
state change appends an immutable full-state row (tiny parquet file,
written driver-side via pyarrow — the control plane is metadata beside
the dataflow, exactly like the reference's SQLite-beside-the-pipeline).

**Appends.** One single-row parquet file per event, written as
``.tmp-*`` and put in place with ``os.replace``: appends are
atomic-by-file and take no lock, so concurrent writers (other stores,
other processes) never coordinate and readers never see torn state —
the reference gets the same property from WAL journaling
(orchestrator/db.js:17). File names are ``<time_ns>-<uuid>`` and
unique; event order is file-name order.

**Snapshots.** One file per event makes a cold read decode the whole
history, so each table compacts itself (the OPTIMIZE of a Delta or
Iceberg table, done in place). A store counts its own appends; every
``COMPACT_AT`` of them it refreshes the table, and when the
uncompacted tail then holds ``COMPACT_AT`` or more event files it
writes ``_snapshot-<last covered name>.arrow``: an Arrow IPC file with
every row of the previous snapshot and of the tail, in file-name
order, each row tagged with its event file's name. The snapshot
records the exact names it absorbed that were still on disk, and
only those count as covered. A watermark ("every name up to X") would
be wrong: a writer takes its name before its ``os.replace``, so an
event can land after the compactor's listing with a name inside the
covered range, and it must stay in the tail. After the snapshot is in
place the compactor deletes the older snapshots and the covered files.

**Readers.** A view is the newest snapshot plus every listed event
file the snapshot does not cover, merged in file-name order, so the
latest-wins tie rule and the mid-stage step history read the same as
over the raw files. Each store decodes a file once (cached by name)
and re-decodes nothing while the listing is unchanged. A listed file
that vanishes before it is decoded was deleted by a compactor: the
reader lists again. The *current* state — latest row per key by
``event_seq``, ties to the earliest file — is computed once per
listing in Arrow. Driver-side readers (the monitoring endpoints, the
timeout sweep) take those Arrow tables directly
(``runs_table``/``steps_table``/``logs_table``) and run no Spark job;
the ``runs``/``steps``/``logs`` DataFrame views are local relations
over the same tables: no file scan, no schema-inference job, no
window shuffle.

**One compactor at a time.** An O_EXCL ``_compact`` marker in the
table directory arbitrates, the way ``_claim_run_*`` arbitrates run
numbers; a store that finds it taken skips this round. A claim older
than ``STALE_CLAIM_S`` was left by a dead process and is broken, and
a compactor re-checks that it still holds the claim before it puts
its snapshot in place.

**Crash windows.** Each leaves a view identical to the uncompacted
one:
- a torn ``.tmp-`` snapshot is not a table file; the next compactor
  removes it;
- after the snapshot's ``os.replace`` but before or during the
  deletes, the covered files still listed are skipped (they are in
  the snapshot's covered names) and the older snapshot is ignored;
  the next compactor carries those names forward and deletes them;
- a crash holding the claim blocks compaction for ``STALE_CLAIM_S``,
  never reads.
A compaction that fails inside ``append`` (an ``OSError``) is logged,
not raised: the event itself is already in place.
"""

from __future__ import annotations

import logging
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

log = logging.getLogger(__name__)


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


# appends between compaction checks, and the tail length that compacts
COMPACT_AT = 16
# a compactor claim this old was left by a process that died holding it
STALE_CLAIM_S = 60.0
# listings a read retries when compactors keep deleting what it listed
_RELISTS = 8
_SNAPSHOT = "_snapshot-"
_CLAIM = "_compact"
_NAME = "_name"  # snapshot column: the event file a row came from
_COVERED = b"covered"  # snapshot metadata: the names it absorbed


def _decode(path: str) -> pa.Table:
    """Read one table file: an IPC snapshot or a parquet event file.
    A missing file raises ``FileNotFoundError``."""
    if path.endswith(".arrow"):
        with pa.OSFile(path) as f:
            return pa.ipc.open_file(f).read_all()
    return pq.ParquetFile(path).read()


def _tagged(table: pa.Table, name: str) -> pa.Table:
    """An event file's rows with the file's name in ``_NAME``."""
    return table.append_column(_NAME, pa.array([name] * table.num_rows, pa.string()))


def _write_snapshot(path: str, table: pa.Table) -> None:
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, table.schema) as w:
        w.write_table(table)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _take_claim(path: str, token: str) -> bool:
    """Create the O_EXCL compactor claim holding ``token``; break it
    first when it is older than ``STALE_CLAIM_S``. False when another
    compactor holds it."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.stat(path).st_mtime
            except FileNotFoundError:
                continue  # released meanwhile
            if age < STALE_CLAIM_S:
                return False
            _remove(path)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(token)
        return True
    return False


def _holds_claim(path: str, token: str) -> bool:
    try:
        with open(path) as f:
            return f.read() == token
    except FileNotFoundError:
        return False


class _EventTable:
    """One control table: appends one immutable single-row parquet file
    per event, compacts the tail into an IPC snapshot every
    ``COMPACT_AT`` own appends, and reads the snapshot plus the tail
    back through a decode-once cache."""

    def __init__(self, directory: str, fields, keys: list[str] | None = None):
        self.directory = directory
        self.schema = pa.schema(fields)
        self.keys = keys  # latest-wins key; None = append-only (logs)
        os.makedirs(directory, exist_ok=True)
        self._lock = threading.Lock()
        self._appends = 0  # own appends since the last compaction check
        self._listed: list[str] = []  # event files of the last listing
        self._snap_name: str | None = None
        self._snap = self._named_empty()
        self._covered: frozenset[str] = frozenset()
        self._files: dict[str, pa.Table] = {}  # tagged tail rows, by name
        self._named = self._snap  # snapshot + tail rows, name order
        self._events = self.schema.empty_table()
        self._latest: pa.Table | None = None

    def _named_empty(self) -> pa.Table:
        return self.schema.append(pa.field(_NAME, pa.string())).empty_table()

    def _path(self, name: str) -> str:
        return os.path.join(self.directory, name)

    def append(self, row: dict[str, Any]) -> None:
        table = pa.Table.from_pylist([row], schema=self.schema)
        fname = f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = self._path(f".tmp-{fname}")
        pq.write_table(table, tmp)
        os.replace(tmp, self._path(fname))
        with self._lock:  # our own event: no need to decode it back
            self._files[fname] = _tagged(table, fname)
            self._appends += 1
            due = self._appends >= COMPACT_AT
            if due:
                self._appends = 0
        if due:
            try:
                self.compact()
            except OSError:  # the event is in place; the next check retries
                log.warning("compaction of %s failed", self.directory, exc_info=True)

    def compact(self) -> None:
        """Refresh, and snapshot the tail once it holds ``COMPACT_AT``
        or more event files (see the module docstring)."""
        with self._lock:
            self._refresh()
            if len(self._files) < COMPACT_AT:
                return
            claim, token = self._path(_CLAIM), uuid.uuid4().hex
            if not _take_claim(claim, token):
                return  # another store is compacting this table
            try:
                self._refresh()  # the view as of holding the claim
                if len(self._files) >= COMPACT_AT:
                    self._snapshot(claim, token)
            finally:
                if _holds_claim(claim, token):
                    _remove(claim)

    def _snapshot(self, claim: str, token: str) -> None:
        named = self._named
        last = named[_NAME][-1].as_py()
        snap = f"{_SNAPSHOT}{last.removesuffix('.parquet')}.arrow"
        if snap == self._snap_name:
            # every tail file sorts inside the covered range; a newer
            # event gives the next snapshot a new name
            return
        absorbed = sorted(set(self._files) | (self._covered & set(self._listed)))
        # under the claim no other snapshot appears: these are older
        # snapshots and crashed compactors' temp files
        entries = os.listdir(self.directory)
        for f in entries:
            if f.startswith(f".tmp-{_SNAPSHOT}"):
                _remove(self._path(f))
        tmp = self._path(f".tmp-{snap}")
        _write_snapshot(tmp, named.replace_schema_metadata(
            {_COVERED: "\n".join(absorbed)}
        ))
        if not _holds_claim(claim, token):  # broken as stale meanwhile
            _remove(tmp)
            return
        os.replace(tmp, self._path(snap))
        # our view is unchanged: it is now the snapshot alone
        self._snap_name, self._snap = snap, named
        self._covered, self._files, self._listed = frozenset(absorbed), {}, []
        for f in entries:
            if f.startswith(_SNAPSHOT):
                _remove(self._path(f))
        for f in absorbed:
            _remove(self._path(f))

    def _refresh(self) -> None:
        """Sync the view with a listing (call under ``_lock``).
        Dot/underscore-prefixed entries (a crashed write's '.tmp-*',
        claims) are not events. A file is decoded the first time a
        listing shows it; one that left the listing leaves the view. A
        listed file gone before its decode was compacted away: list
        again. A decode error propagates: an empty answer would make
        update_run merge onto a bare {run_id} (wiping state to NULLs)
        and restart run numbering at 1."""
        for _ in range(_RELISTS):
            entries = os.listdir(self.directory)
            names = sorted(
                f for f in entries
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            snap = max(
                (f for f in entries if f.startswith(_SNAPSHOT) and f.endswith(".arrow")),
                default=None,
            )
            if names == self._listed and snap == self._snap_name:
                return
            try:
                self._load(snap, names)
                return
            except FileNotFoundError:
                continue
        raise RuntimeError(
            f"{self.directory}: listed files kept vanishing over {_RELISTS} listings"
        )

    def _load(self, snap: str | None, names: list[str]) -> None:
        if snap == self._snap_name:
            rows, covered = self._snap, self._covered
        elif snap is None:
            rows, covered = self._named_empty(), frozenset()
        else:
            rows = _decode(self._path(snap))
            covered = frozenset(rows.schema.metadata[_COVERED].decode().split("\n"))
            rows = rows.replace_schema_metadata(None)
        files = {
            n: self._files[n] if n in self._files
            else _tagged(_decode(self._path(n)), n)
            for n in names if n not in covered
        }
        named = pa.concat_tables([rows, *files.values()]).combine_chunks()
        if files and rows.num_rows and min(files) < rows[_NAME][-1].as_py():
            named = named.sort_by(_NAME)  # a late event inside the snapshot's range
        self._snap_name, self._snap, self._covered = snap, rows, covered
        self._files, self._listed = files, names
        self._named = named
        self._events = named.drop_columns([_NAME])
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

    def _claim_path(self, n: int) -> str:
        return os.path.join(self.runs_dir, f"_claim_run_{n:09d}")

    def _claim_run_number(self) -> int:
        """Allocate a fresh run number exclusively ACROSS processes: the
        in-memory lock makes next_run_number atomic within one store,
        but two store instances (scheduler-owned + HTTP-server-owned,
        or two processes) could both read MAX=N and hand out N+1. An
        O_EXCL claim file per number arbitrates — the loser advances
        to the next free number (same discipline as TargetTable's
        version claims; the event listing skips the underscore-prefixed
        markers).

        The winner removes its marker once its Running row is listed
        (``_start_run_locked``), so markers do not pile up. That opens
        one window: a store that read MAX before the row landed can
        claim the same number after the marker is gone. Hence the
        re-read after every claim: the row is listed before its marker
        goes, so a claim at or below the listed MAX is dropped and the
        next number tried."""
        n = self.next_run_number()
        while True:
            try:
                os.close(
                    os.open(self._claim_path(n), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                )
            except FileExistsError:
                n += 1
                continue
            on_disk = pc.max(self._run_events.events()["run_number"]).as_py() or 0
            if on_disk < n:
                return n
            os.remove(self._claim_path(n))
            n = on_disk + 1

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
        claimed = not (existing and existing.get("run_number") is not None)
        run_number = (
            self._claim_run_number() if claimed else existing["run_number"]
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
        if claimed:  # the row is listed now: it holds the number
            os.remove(self._claim_path(run_number))
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
