"""Monitoring read API (SURVEY.md §3.4), as DataFrame queries and as
their Arrow twins over the control store's tables.

Each function mirrors one reference endpoint:
- list_runs:   GET /runs   — optional pipeline/status equality filters,
               ORDER BY created_at DESC LIMIT 100
               (python_code/api/server.js:42-78; ApiServlet.java:435-478)
- run_detail:  GET /runs/:id — run row + its steps ordered by step_number,
               nested as steps[] (server.js:80-108; ApiServlet.java:480-507)
- run_logs:    GET /runs/:id/logs — chronological (server.js:111-134)
- list_logs:   GET /logs — runId/pipeline/level filters, ORDER BY log_at
               DESC LIMIT min(n, 2000) default 500 (server.js:143-158)

The DataFrame functions are declarative single-pass plans (conjunctive
filters push to the scan; ORDER-BY+LIMIT compiles to
TakeOrderedAndProject) for library callers with a Spark session.

The ``*_arrow`` twins answer the same queries over the control store's
Arrow tables (``ControlStore.runs_table`` etc.) on the driver, with no
Spark job, so the HTTP endpoints never queue behind pipeline tasks for
the task slots — the reference likewise reads its control database,
not the ETL engine. They keep Spark's semantics: equality filters drop
nulls, ascending sorts put nulls first and descending sorts last, and
ties break on ``run_id``/``log_id``. The DataFrame functions stay the
reference the endpoint tests compare the twins against.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .control import where

MAX_RUNS = 100  # server.js:57
DEFAULT_LOG_LIMIT = 500  # server.js:158
MAX_LOG_LIMIT = 2000
# run_detail's steps[] fields, in struct order (server.js:100)
STEP_DETAIL_COLUMNS = [
    "step_number", "step_name", "status", "started_at", "finished_at",
    "rows_affected", "rows_processed", "rows_total", "error_message",
]

# S9 upload validation limits: .csv/.json whitelist and the Node-side
# 10 MB multer cap (python_code/api/server.js:23-31); the Java servlet
# allows 100 MB (ApiServlet.java:605) — callers pass max_bytes for that.
UPLOAD_ALLOWED_EXTENSIONS = (".csv", ".json")
UPLOAD_MAX_BYTES = 10 * 1024 * 1024


def validate_upload(
    filename: str,
    size_bytes: int,
    max_bytes: int = UPLOAD_MAX_BYTES,
) -> None:
    """Reject an upload the way the reference's trigger endpoint does:
    non-CSV/JSON extensions and oversize files raise ValueError before
    any pipeline run is created (server.js fileFilter + limits;
    ApiServlet sizeMax). Driver-side by design — validation happens at
    the API boundary, not in the dataflow."""
    import os as _os

    ext = _os.path.splitext(filename)[1].lower()
    if ext not in UPLOAD_ALLOWED_EXTENSIONS:
        raise ValueError(
            f"only CSV and JSON files are allowed (got {ext or 'no extension'!r})"
        )
    if size_bytes > max_bytes:
        raise ValueError(
            f"file too large: {size_bytes} bytes > {max_bytes} byte cap"
        )


def with_run_number_fallback(runs: DataFrame) -> DataFrame:
    """A5: synthesize run_number when missing — oldest run is #1
    (server.js:63-69 assigns list.length - i over a DESC list, i.e. the
    newest run gets the HIGHEST number; backfill db.js:30-34 is
    row_number over created_at ASC — both mean oldest=1).

    ALL-OR-NOTHING like the reference (it falls back only when the
    RunNumber column is absent entirely): a per-row coalesce over a
    MIXED table could synthesize a positional number that collides
    with a stored one (stored #2 next to positional #2). If any stored
    number exists, rows pass through unchanged. The any-check is one
    bounded take(1) on the control table (control-plane sized)."""
    if runs.filter(F.col("run_number").isNotNull()).take(1):
        return runs
    w = Window.orderBy(F.asc("created_at"), F.asc("run_id"))
    return runs.withColumn(
        "run_number", F.row_number().over(w).cast("long")
    )


def list_runs(
    runs: DataFrame,
    pipeline: str | None = None,
    status: str | None = None,
    limit: int = MAX_RUNS,
) -> DataFrame:
    df = runs
    if pipeline is not None:
        df = df.filter(F.col("pipeline_name") == pipeline)
    if status is not None:
        df = df.filter(F.col("status") == status)
    return df.orderBy(F.desc("created_at"), F.desc("run_id")).limit(limit)


def run_detail(runs: DataFrame, steps: DataFrame, run_id: str) -> DataFrame:
    """J1: one run row with its steps nested as an ordered steps[] array.
    The runs side is a point lookup; steps aggregate sorted by
    step_number (server.js:100)."""
    r = runs.filter(F.col("run_id") == run_id)
    s = (
        steps.filter(F.col("run_id") == run_id)
        .groupBy("run_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(*STEP_DETAIL_COLUMNS))
            ).alias("steps")
        )
    )
    return r.join(s, "run_id", "left")


def run_logs(logs: DataFrame, run_id: str) -> DataFrame:
    """J2: logs for one run, chronological."""
    return logs.filter(F.col("run_id") == run_id).orderBy("log_at", "log_id")


def list_logs(
    logs: DataFrame,
    run_id: str | None = None,
    pipeline: str | None = None,
    level: str | None = None,
    limit: int = DEFAULT_LOG_LIMIT,
) -> DataFrame:
    df = logs
    if run_id is not None:
        df = df.filter(F.col("run_id") == run_id)
    if pipeline is not None:
        df = df.filter(F.col("pipeline_name") == pipeline)
    if level is not None:
        df = df.filter(F.col("level") == level)
    return df.orderBy(F.desc("log_at"), F.desc("log_id")).limit(
        _log_limit(limit)
    )


def _log_limit(limit: int) -> int:
    """Clamp BOTH ends: a user-supplied negative limit would reach
    DataFrame.limit(-1), which raises (a parseable query param must not
    become a 500)."""
    return max(0, min(limit, MAX_LOG_LIMIT))


def derived_run_status(steps: DataFrame) -> DataFrame:
    """A4: run status derived from its steps — Failed if any step failed,
    Running if any still running/pending-after-start, else Success
    (projectplan.md:254-255)."""
    rank = (
        F.when(F.col("status") == "Failed", 2)
        .when(F.col("status").isin("Running", "Pending"), 1)
        .otherwise(0)
    )
    return (
        steps.withColumn("_rank", rank)
        .groupBy("run_id")
        .agg(F.max("_rank").alias("_max_rank"))
        .select(
            "run_id",
            F.when(F.col("_max_rank") == 2, "Failed")
            .when(F.col("_max_rank") == 1, "Running")
            .otherwise("Success")
            .alias("derived_status"),
        )
    )


# ---- Arrow twins (driver-side, no Spark job) ---------------------------
def _ordered(
    table: pa.Table, columns: list[str], descending: bool, limit: int | None = None
) -> pa.Table:
    """ORDER BY ``columns`` (one direction) [LIMIT n] with Spark's
    default null placement: first ascending, last descending."""
    order = pc.sort_indices(
        table,
        sort_keys=[(c, "descending" if descending else "ascending") for c in columns],
        null_placement="at_end" if descending else "at_start",
    )
    return table.take(order if limit is None else order[:limit])


def with_run_number_fallback_arrow(runs: pa.Table) -> pa.Table:
    """``with_run_number_fallback`` over the runs Arrow table: all or
    nothing, oldest run (created_at, then run_id) is #1."""
    if pc.any(pc.is_valid(runs["run_number"])).as_py():
        return runs
    oldest_first = _ordered(runs, ["created_at", "run_id"], descending=False)
    return oldest_first.set_column(
        runs.schema.get_field_index("run_number"),
        "run_number",
        pa.array(range(1, runs.num_rows + 1), pa.int64()),
    )


def list_runs_arrow(
    runs: pa.Table,
    pipeline: str | None = None,
    status: str | None = None,
    limit: int = MAX_RUNS,
) -> pa.Table:
    df = where(runs, pipeline_name=pipeline, status=status)
    return _ordered(df, ["created_at", "run_id"], descending=True, limit=limit)


def run_detail_arrow(runs: pa.Table, steps: pa.Table, run_id: str) -> pa.Table:
    """``run_detail`` over the Arrow tables: the run row with its steps
    nested as steps[] ordered by step_number. A run without steps gets
    an empty list where the DataFrame twin's left join gives null; the
    endpoint renders both as []."""
    run = where(runs, run_id=run_id)
    own = _ordered(
        where(steps, run_id=run_id), ["step_number"], descending=False
    ).select(STEP_DETAIL_COLUMNS)
    nested = pa.ListArray.from_arrays(
        pa.array([0, own.num_rows], pa.int32()),
        pa.StructArray.from_arrays(
            [c.combine_chunks() for c in own.columns], fields=list(own.schema)
        ),
    )
    return run.append_column(
        "steps", pa.chunked_array([nested] * run.num_rows, type=nested.type)
    )


def run_logs_arrow(logs: pa.Table, run_id: str) -> pa.Table:
    return _ordered(where(logs, run_id=run_id), ["log_at", "log_id"], descending=False)


def list_logs_arrow(
    logs: pa.Table,
    run_id: str | None = None,
    pipeline: str | None = None,
    level: str | None = None,
    limit: int = DEFAULT_LOG_LIMIT,
) -> pa.Table:
    df = where(logs, run_id=run_id, pipeline_name=pipeline, level=level)
    return _ordered(df, ["log_at", "log_id"], descending=True, limit=_log_limit(limit))
