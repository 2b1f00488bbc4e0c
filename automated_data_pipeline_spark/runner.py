"""Pipeline run lifecycle state machine (SURVEY.md §3).

Mirrors the reference orchestrators:
- start: control rows (Running run + 4 Pending steps) then execute steps
  in order, marking Running/Success per step and writing log rows
  (python_code/orchestrator/index.js:59-125; PipelineRunner.java:120-236).
- failure path: the step still Running is marked Failed with the error
  message, the run is marked Failed, and the error re-raised
  (index.js:112-124).
- cancellation: cooperative flag checked between steps + Spark job-group
  cancel for the in-flight stage (PipelineRunner.java:39-49,204-210).
- timeout sweep: Running runs older than 6h -> 'Failed-TimeOut-6Hours'
  (ApiServlet.java:382-433).

Data plane: stage tables are parquet partitioned by run_id (a per-run read
lists only its own partition, with the schema declared in schemas.py —
the Spark analogue of the reference's indexed ``WHERE RunId = ?``
scans); the target table is versioned
(``v=N`` directories + atomic LATEST pointer) so migrate commits are
snapshot-isolated — readers of version N never see a half-written N+1,
the plain-parquet stand-in for a Delta transaction log.
"""

from __future__ import annotations

import logging
import os
import threading
from datetime import timedelta, timezone
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Observation
from pyspark.sql.types import StructType

from .control import ControlStore, utcnow
from .operators import stages, upsert
from .progress_monitor import StepProgressMonitor
from .schemas import (
    LANDING_SCHEMA,
    STAGING_SCHEMA,
    STEP_NAMES,
    TARGET_SCHEMA,
    TRANSFORMED_SCHEMA,
)
from .sources.files import read_orders_file, resolve_input_columns

RUN_TIMEOUT_HOURS = 6  # ApiServlet.java:382-383
TIMEOUT_STATUS = "Failed-TimeOut-6Hours"

log = logging.getLogger(__name__)


class PipelineCancelledError(RuntimeError):
    pass


class TargetTable:
    """Versioned parquet target with an atomic LATEST pointer.
    ``schema`` is the table's declared schema, so a read runs no
    footer-inference job."""

    def __init__(self, path: str, schema: StructType):
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)
        self._pointer = os.path.join(path, "_LATEST")
        self._commit_lock = threading.Lock()
        # serializes whole read-merge-commit cycles (see merge_lock use
        # in PipelineRunner._step_migrate): two concurrent merges that
        # both base on v=N would each publish a version missing the
        # other's rows — last pointer wins and the earlier run's data
        # silently vanishes while both report Success
        self.merge_lock = threading.Lock()

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def read(self, spark: SparkSession) -> DataFrame | None:
        v = self.latest_version()
        if v is None:
            return None
        return spark.read.schema(self.schema).parquet(os.path.join(self.path, f"v={v}"))

    def commit(self, df: DataFrame) -> int:
        """Allocate a version exclusively (O_EXCL claim file), write it,
        then advance the pointer. Concurrent committers get distinct
        version directories, so a published version is never rewritten
        in place; the pointer only moves forward — the check-then-
        replace runs under the table lock so two in-process committers
        cannot interleave between the read and the replace and regress
        the pointer (cross-process committers on one directory still
        need a real transaction log; this guards in-process use, which
        is what local[N] + daemon threads exercise). (Concurrent merges
        still serialize their *content* only at the level of who commits
        last — that's a transaction log's job; this guards readers.)"""
        v = (self.latest_version() or 0) + 1
        while True:
            claim = os.path.join(self.path, f"_claim_v{v}")
            try:
                os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                v += 1
        out = os.path.join(self.path, f"v={v}")
        df.write.mode("overwrite").parquet(out)
        with self._commit_lock:
            if (self.latest_version() or 0) < v:
                tmp = self._pointer + f".tmp-{v}"
                with open(tmp, "w") as f:
                    f.write(str(v))
                os.replace(tmp, self._pointer)
        return v

    def merge_upsert(self, spark: SparkSession, updates: DataFrame, key: str) -> None:
        """The J3 sink seam: read-merge-commit as ONE critical section
        (see merge_lock docstring). Same contract as
        ``DeltaTargetTable.merge_upsert`` — the runner is agnostic to
        which transactional story backs the target."""
        with self.merge_lock:
            merged = upsert.upsert_replace(self.read(spark), updates, key=key)
            self.commit(merged)


class DeltaTargetTable:
    """Delta Lake twin of ``TargetTable``: same ``read``/``merge_upsert``
    interface, but the merge is a real transactional ``MERGE INTO``
    (upsert.delta_merge_replace) and versioning/atomicity come from the
    Delta log instead of the versioned-parquet + LATEST-pointer scheme.
    Only constructed when ``upsert.delta_available`` — the production
    path SURVEY §7 names as the J3 canonical; this sandbox's image has
    no delta-spark, so the join-rewrite TargetTable carries the tested
    semantics and this class is the documented seam."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # Delta serializes committers itself (optimistic concurrency),
        # but the read-merge cycle still shares the runner's in-process
        # critical-section contract
        self.merge_lock = threading.Lock()

    def read(self, spark: SparkSession) -> DataFrame | None:
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(spark, self.path):
            return None
        return spark.read.format("delta").load(self.path)

    def merge_upsert(self, spark: SparkSession, updates: DataFrame, key: str) -> None:
        with self.merge_lock:
            upsert.delta_merge_replace(spark, self.path, updates, key)


class PipelineRunner:
    """Drives the 4-stage dataflow for one warehouse directory."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        control: ControlStore | None = None,
        progress_interval: float | None = 5.0,
        target_format: str = "auto",
    ):
        self.spark = spark
        self.workdir = workdir
        self.control = control or ControlStore(workdir)
        # ST4: intra-stage rows_processed estimates while a step runs
        # (StepProgress.java parity; None disables)
        self.progress = StepProgressMonitor(spark, self.control, progress_interval)
        if target_format not in ("auto", "parquet", "delta"):
            raise ValueError(f"unknown target_format {target_format!r}")
        if target_format == "delta" and not upsert.delta_available(spark):
            raise ImportError(
                "target_format='delta' requires delta-spark on the "
                "classpath (use 'auto' to fall back to parquet)"
            )
        use_delta = target_format == "delta" or (
            target_format == "auto" and upsert.delta_available(spark)
        )
        self.landing_dir = os.path.join(workdir, "stages", "landing")
        self.staging_dir = os.path.join(workdir, "stages", "staging")
        self.transformed_dir = os.path.join(workdir, "stages", "staging_transformed")
        self._stage_schemas = {
            self.landing_dir: LANDING_SCHEMA,
            self.staging_dir: STAGING_SCHEMA,
            self.transformed_dir: TRANSFORMED_SCHEMA,
        }
        target_path = os.path.join(workdir, "stages", "target")
        self.target = (
            DeltaTargetTable(target_path) if use_delta
            else TargetTable(target_path, TARGET_SCHEMA)
        )
        self._cancel_flags: set[str] = set()
        self._lock = threading.Lock()

    # ---- cancellation (ST5) --------------------------------------------
    def cancel(self, run_id: str) -> None:
        with self._lock:
            self._cancel_flags.add(run_id)
        self._cancel_jobs(run_id)

    def _cancel_jobs(self, run_id: str) -> None:
        """Best-effort cancel of the run's Spark job group: the caller
        has already recorded the verdict (cancel flag, timeout status),
        so a failed cancel is logged, not raised."""
        try:
            self.spark.sparkContext.cancelJobGroup(run_id)
        except Exception as exc:  # noqa: BLE001 — best effort, see above
            log.warning("cancelJobGroup failed for run %s: %s", run_id, exc)

    def _check_cancelled(self, run_id: str) -> None:
        with self._lock:
            cancelled = run_id in self._cancel_flags
        if cancelled:
            raise PipelineCancelledError(f"run {run_id} cancelled")

    def _finalize_run(self, run_id: str, status: str, pipeline_name: str) -> None:
        """Terminal run-status write with a timeout guard: once the
        sweep has verdicted a run Failed-TimeOut-6Hours, a zombie
        worker thread that later unblocks must NOT overwrite the
        verdict the monitor already reported (with Success or
        Cancelled). One bounded DRIVER-SIDE control read per run
        completion (latest_run_state reads the same event table the
        ``runs`` view derives from — same latest-wins row, no Spark
        job for a one-key metadata probe)."""
        current = self.control.latest_run_state(run_id)
        if current and current["status"] == TIMEOUT_STATUS:
            self.control.log(
                run_id, "Warning",
                f"Run already marked {TIMEOUT_STATUS}; late {status} "
                "result discarded",
                pipeline_name=pipeline_name,
            )
            return
        self.control.update_run(run_id, status=status, finished_at=utcnow())

    def _finish_cancelled(self, run_id: str, step: int, pipeline_name: str) -> None:
        """Record the cancelled run and clear the flag so the same
        run_id can be retried (and the flag set doesn't grow forever)."""
        self.control.update_step(run_id, step, status="Failed",
                                 finished_at=utcnow(), error_message="Cancelled")
        self._finalize_run(run_id, "Cancelled", pipeline_name)
        self.control.log(run_id, "Warning", "Pipeline cancelled",
                         pipeline_name=pipeline_name)
        with self._lock:
            self._cancel_flags.discard(run_id)

    # ---- stage table IO -------------------------------------------------
    def _write_stage(self, df: DataFrame, directory: str, run_id: str) -> int:
        """Append a run's rows to a stage table, partitioned by run_id,
        counting rows via an Observation on the write (no second scan).

        The run's rows are written DIRECTLY into its Hive-style
        partition path (``<dir>/run_id=<id>/``) rather than via
        ``partitionBy`` on the shared root: concurrent runs (HTTP
        trigger + streaming trigger + ad-hoc) would otherwise race on
        the root's shared ``_temporary`` commit scope and delete each
        other's in-flight task output. The on-disk layout is identical
        (partition discovery reads ``run_id`` from the directory name),
        reads stay partition-pruned, and each run commits in its own
        scope — the same isolation a real cluster gets from a
        per-job staging committer."""
        obs = Observation()
        out = df.drop("run_id").observe(obs, F.count(F.lit(1)).alias("n"))
        # overwrite, not append: each stage writes its run's partition
        # exactly once per attempt, so a RETRY of the same run_id (the
        # documented recovery path) replaces the failed attempt's rows
        # instead of appending a second copy on top of them
        out.write.mode("overwrite").parquet(f"{directory}/run_id={run_id}")
        return int(obs.get["n"])

    def _read_stage(self, directory: str, run_id: str) -> DataFrame:
        """One run's rows of a stage table. Only the run's own partition
        is listed (``basePath`` keeps ``run_id`` as a column, taken from
        the path), and the declared schema stands in for Spark's
        footer-inference job, so a read costs the same at any history
        length."""
        return (
            self.spark.read.schema(self._stage_schemas[directory])
            .option("basePath", directory)
            .parquet(f"{directory}/run_id={run_id}")
            .where(F.col("run_id") == run_id)
        )

    # ---- the four steps -------------------------------------------------
    def _step_pull(self, run_id: str, source_path: str) -> int:
        resolved, source_type = read_orders_file(self.spark, source_path)
        landing = stages.pull(resolved, run_id, source_type)
        return self._write_stage(landing, self.landing_dir, run_id)

    def _step_pull_df(self, run_id: str, df: DataFrame, source_type: str) -> int:
        landing = stages.pull(resolve_input_columns(df), run_id, source_type)
        return self._write_stage(landing, self.landing_dir, run_id)

    def _step_extract(self, run_id: str) -> int:
        landing = self._read_stage(self.landing_dir, run_id)
        return self._write_stage(stages.extract(landing), self.staging_dir, run_id)

    def _step_transform(self, run_id: str, fail_on_negative: bool) -> int:
        staging = self._read_stage(self.staging_dir, run_id)
        out = stages.transform(staging, fail_on_negative=fail_on_negative)
        return self._write_stage(out, self.transformed_dir, run_id)

    def _step_migrate(self, run_id: str) -> int:
        transformed = self._read_stage(self.transformed_dir, run_id)
        updates = stages.migrate_updates(transformed)
        obs = Observation()
        updates = updates.observe(obs, F.count(F.lit(1)).alias("n"))
        # the WHOLE read-merge-commit is a critical section (held inside
        # merge_upsert): without it two concurrent runs (HTTP trigger
        # daemon threads + streaming trigger share one driver) both read
        # v=N, merge independently, and the later pointer silently drops
        # the earlier run's rows while both runs report Success.
        # In-process serialization is the correct scope for local[N];
        # cross-process committers on one directory need a real
        # transaction log — which is exactly what the DeltaTargetTable
        # seam provides when delta-spark is on the classpath.
        self.target.merge_upsert(self.spark, updates, key="order_id")
        return int(obs.get["n"])

    # ---- run loop (index.js:59-125) -------------------------------------
    def run(
        self,
        source_path: str | None = None,
        source_df: DataFrame | None = None,
        source_type: str = "DataFrame",
        pipeline_name: str = "OrdersPipeline",
        fail_on_negative: bool = False,
        run_id: str | None = None,
    ) -> str:
        if (source_path is None) == (source_df is None):
            raise ValueError("provide exactly one of source_path / source_df")
        ctl = self.control
        run_id = ctl.start_run(pipeline_name=pipeline_name, run_id=run_id)
        ctl.log(run_id, "Info", f"Pipeline started: {source_path or source_type}",
                pipeline_name=pipeline_name)
        sc = self.spark.sparkContext
        sc.setJobGroup(run_id, f"pipeline run {run_id}", interruptOnCancel=True)

        def step_fns() -> list[Callable[[], int]]:
            return [
                (lambda: self._step_pull(run_id, source_path))
                if source_df is None
                else (lambda: self._step_pull_df(run_id, source_df, source_type)),
                lambda: self._step_extract(run_id),
                lambda: self._step_transform(run_id, fail_on_negative),
                lambda: self._step_migrate(run_id),
            ]

        current = 0
        prev_n: int | None = None  # each step's input = previous step's counted output
        try:
            for i, fn in enumerate(step_fns(), start=1):
                current = i
                self._check_cancelled(run_id)
                ctl.update_step(run_id, i, status="Running", started_at=utcnow())
                ctl.log(run_id, "Info", f"Step started: {STEP_NAMES[i-1]}",
                        pipeline_name=pipeline_name, step_number=i,
                        step_name=STEP_NAMES[i - 1])
                with self.progress.step(run_id, i, rows_total=prev_n):
                    n = fn()
                prev_n = n
                ctl.update_step(
                    run_id, i, status="Success", finished_at=utcnow(), rows_affected=n,
                    rows_processed=n, rows_total=n,
                )
                ctl.log(run_id, "Info",
                        f"Step finished: {STEP_NAMES[i-1]} ({n} rows)",
                        pipeline_name=pipeline_name, step_number=i,
                        step_name=STEP_NAMES[i - 1])
            self._finalize_run(run_id, "Success", pipeline_name)
            ctl.log(run_id, "Info", "Pipeline finished", pipeline_name=pipeline_name)
        except PipelineCancelledError:
            self._finish_cancelled(run_id, current, pipeline_name)
        except Exception as exc:  # failure path, index.js:112-124
            with self._lock:
                was_cancelled = run_id in self._cancel_flags
            if was_cancelled:
                # cancelJobGroup surfaces as a generic Spark job-cancelled
                # error from the in-flight action, not as our own
                # PipelineCancelledError — classify by the flag, not the
                # exception type (PipelineRunner.java:204-210 semantics)
                self._finish_cancelled(run_id, current, pipeline_name)
            else:
                ctl.update_step(run_id, current, status="Failed", finished_at=utcnow(),
                                error_message=str(exc)[:4000])
                self._finalize_run(run_id, "Failed", pipeline_name)
                ctl.log(run_id, "Error",
                        f"Pipeline failed at {STEP_NAMES[current-1]}: {exc}",
                        pipeline_name=pipeline_name, step_number=current,
                        step_name=STEP_NAMES[current - 1])
                raise
        finally:
            sc.setJobGroup("", "")
            # drop the flag on every exit so a cancel that raced this
            # run's completion cannot leak into a future retry (and the
            # flag set stays bounded). Pre-cancellation of a NOT-yet-
            # started run_id still works: the flag is only cleared once
            # an execution of that run_id finishes.
            with self._lock:
                self._cancel_flags.discard(run_id)
        return run_id

    # ---- timeout sweep (ST6, ApiServlet.java:382-433) -------------------
    def sweep_timeouts(self, now=None, timeout_hours: float = RUN_TIMEOUT_HOURS) -> list[str]:
        """Mark runs Running past the timeout as Failed-TimeOut-6Hours;
        returns the run_ids marked (ApiServlet.java:404-434 returns the
        same list from /admin/check-running-status).
        Beyond the status write, the sweep also (a) CANCELS the run's
        Spark job group — a timed-out run's hung jobs must stop eating
        the cluster, not just get relabeled — and (b) closes out its
        still-Running/Pending step rows, so GET /runs/{id} doesn't show
        a 'Running' step inside a timed-out run forever. The zombie
        worker's own eventual completion is discarded by
        ``_finalize_run``'s timeout guard."""
        now = now or utcnow()
        # a naive ``now`` is local time, as Spark reads a naive literal
        cutoff = (now - timedelta(hours=timeout_hours)).astimezone(timezone.utc)
        # driver-side over the control store's Arrow tables: no Spark
        # job, so the sweep never waits for task slots a hung run holds
        runs = self.control.runs_table()
        ids = runs.filter(
            pc.and_(
                pc.equal(runs["status"], "Running"),
                pc.less(runs["started_at"], pa.scalar(cutoff)),
            )
        )["run_id"].to_pylist()
        stale_steps: dict[str, list[int]] = {}
        if ids:
            steps = self.control.steps_table()
            stale = steps.filter(
                pc.and_(
                    pc.is_in(steps["run_id"], pa.array(ids, pa.string())),
                    pc.is_in(steps["status"], pa.array(["Running", "Pending"])),
                )
            )
            for s in stale.select(["run_id", "step_number"]).to_pylist():
                stale_steps.setdefault(s["run_id"], []).append(s["step_number"])
        for rid in ids:
            self._cancel_jobs(rid)
            for step in stale_steps.get(rid, []):
                self.control.update_step(
                    rid, step, status="Failed", finished_at=now,
                    error_message=TIMEOUT_STATUS,
                )
            self.control.update_run(rid, status=TIMEOUT_STATUS, finished_at=now)
        return ids
