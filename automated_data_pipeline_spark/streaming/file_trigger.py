"""File-drop trigger (SURVEY.md §2.8 ST1): new files in a landing
directory fire the 4-stage pipeline — ONE RUN PER FILE, the
reference's own granularity (each upload spawns one pipeline run:
python_code/api/server.js:172-200; ApiServlet.java:595-661).

Architecture: the Structured Streaming file source is used for
DISCOVERY only (a wholetext text stream — one row per file, carrying
its path), and each discovered file is ingested through the BATCH
readers (``sources/files.read_orders_file``). This routing is what
makes the stream path semantically identical to the upload path:

- a schema-bound streaming CSV read binds columns BY POSITION
  (enforceSchema ignores the header), so a reordered or camelCase
  header silently swapped business keys; the batch reader resolves
  the header case-insensitively BY NAME (pull.js:30-33 parity);
- a streaming JSON read is always multiLine=false, so the reference's
  documented upload format (a pretty-printed array of objects)
  parsed to all-NULL rows that Extract silently dropped; the batch
  reader sniffs JSONL vs whole-file per file.

Checkpointing makes the trigger exactly-once per file across restarts
(the reference gets at-most-once via filesystem moves); a replayed
micro-batch maps each file to the SAME deterministic run_id and skips
files whose run already succeeded. A run cancelled mid-batch is
recorded as Cancelled and its file is NOT retried (the checkpoint
commits) — cancellation is a user verdict on that file, visible in
the control tables, not a transient failure.
"""

from __future__ import annotations

import os
import urllib.parse
import urllib.request
import uuid

from pyspark.sql import SparkSession, functions as F, types as T

from ..runner import PipelineRunner
from ..schemas import CANONICAL_INPUT_COLUMNS

# Kept for callers that build upload frames directly; derived from the
# canonical column list so the two can't drift.
UPLOAD_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in CANONICAL_INPUT_COLUMNS]
)


def batch_run_id(checkpoint_key: str, batch_id: int, path: str = "") -> str:
    """Deterministic run id per (checkpoint, batch, file): foreachBatch
    is at-least-once, so a replayed micro-batch must map each file to
    the SAME run."""
    return str(
        uuid.uuid5(uuid.NAMESPACE_URL, f"adp://{checkpoint_key}#{batch_id}#{path}")
    )


def _succeeded(runner: PipelineRunner, run_id: str) -> bool:
    """Exactly-once probe: the run already finished Success (a
    driver-side point lookup, no Spark job)."""
    state = runner.control.latest_run_state(run_id)
    return state is not None and state["status"] == "Success"


def run_batch_idempotent(
    runner: PipelineRunner,
    batch_df,
    batch_id: int,
    checkpoint_key: str,
    source_type: str,
    pipeline_name: str,
) -> str | None:
    """Run one micro-batch FRAME through the pipeline exactly once per
    batch_id (the frame-level twin of the per-file path below, for
    callers that already hold parsed rows): a replay after a
    crash-between-run-and-checkpoint finds the deterministic run_id
    already Succeeded and skips, instead of appending a duplicate run
    (and duplicate stage rows)."""
    rid = batch_run_id(checkpoint_key, batch_id)
    if _succeeded(runner, rid):
        return None
    runner.run(
        source_df=batch_df,
        source_type=source_type,
        pipeline_name=pipeline_name,
        run_id=rid,
    )
    return rid


def _local_path(uri: str) -> str:
    """input_file_name() yields a file: URI for local paths; give the
    batch readers a plain path (other schemes pass through — Spark's
    readers accept them directly)."""
    if uri.startswith("file:"):
        return urllib.request.url2pathname(urllib.parse.urlparse(uri).path)
    return uri


def start_file_trigger(
    spark: SparkSession,
    runner: PipelineRunner,
    landing_dir: str,
    checkpoint_dir: str | None = None,
    pipeline_name: str = "FileTriggerPipeline",
    fmt: str = "csv",
):
    """Start the streaming trigger; returns the StreamingQuery.

    Each discovered file becomes one pipeline run through the batch
    readers (header-resolved, format-sniffed); one micro-batch takes
    every upload pending in the landing dir (the reader sets no
    maxFilesPerTrigger).
    A header-only file still produces its (0-row) run — the reference
    records every upload. (A fully EMPTY file emits no text row and
    stays invisible; the file source offers no hook for it.)
    """
    if fmt not in ("csv", "json"):
        raise ValueError(f"unsupported stream format: {fmt} (.csv/.json only)")
    os.makedirs(landing_dir, exist_ok=True)
    checkpoint_dir = checkpoint_dir or os.path.join(
        runner.workdir, "checkpoints", "file_trigger"
    )
    # wholetext discovery: ONE row per file (a line-mode stream would
    # surface every line of a large upload as a discovery row just to
    # extract its path). The single-row buffering this costs is
    # bounded by the upload caps (api.validate_upload: 10 MB CSV /
    # 100 MB JSON) — files can only enter the landing dir through the
    # capped upload/trigger endpoints.
    stream = (
        spark.readStream.option("wholetext", True)
        .option("pathGlobFilter", f"*.{fmt}")
        .text(landing_dir)
        .select(F.input_file_name().alias("path"))
    )

    def process_batch(batch_df, batch_id: int):
        # file list = the uploads pending at this trigger (no
        # maxFilesPerTrigger; each file capped by api.validate_upload)
        # — a driver-side loop over FILES (not rows), matching the
        # reference's one-process-per-upload orchestration
        paths = sorted({r["path"] for r in batch_df.select("path").collect()})
        for p in paths:
            rid = batch_run_id(checkpoint_dir, batch_id, p)
            if _succeeded(runner, rid):
                continue
            try:
                runner.run(
                    source_path=_local_path(p),
                    pipeline_name=pipeline_name,
                    run_id=rid,
                )
            except Exception:  # noqa: BLE001 — one bad upload must not
                # kill the trigger: runner.run has already recorded the
                # Failed run + step rows before re-raising, and
                # re-raising HERE would fail the micro-batch before its
                # checkpoint commit — the same file would replay on
                # every restart and permanently wedge the stream while
                # later uploads starve. The reference records one
                # failed run per bad upload and keeps serving
                # (server.js catch around the child process).
                continue

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
