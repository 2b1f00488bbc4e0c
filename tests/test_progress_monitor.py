"""ST4 intra-stage progress: while a long stage runs, the monitor must
write rows_processed estimates strictly between 0 and rows_total — the
mid-step visibility the reference gets from StepProgress.java:25-48
(UPDATE ... SET RowsProcessed every 10k rows on its own connection)."""

from __future__ import annotations

import time

import pytest

from automated_data_pipeline_spark.control import ControlStore
from automated_data_pipeline_spark.progress_monitor import StepProgressMonitor
from automated_data_pipeline_spark.runner import PipelineRunner
from automated_data_pipeline_spark.sources.generators import generate_orders


class _SpyControl:
    def __init__(self):
        self.calls = []

    def update_step(self, run_id, step_number, **fields):
        self.calls.append((run_id, step_number, fields))


def _slow_identity(df, n_partitions: int, sleep_s: float):
    """Repartition then sleep once per task — a synthetic long stage
    whose tasks finish in waves (n_partitions > cores), so a poll
    mid-run observes a partial completed-task fraction."""

    def gen(it):
        time.sleep(sleep_s)
        yield from it

    return df.repartition(n_partitions).mapInPandas(gen, df.schema)


def test_monitor_emits_mid_stage_estimates(spark):
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    spy = _SpyControl()
    mon = StepProgressMonitor(spark, spy, interval_s=0.08)
    df = _slow_identity(spark.range(0, 1000), 2 * cores, 0.5)
    sc.setJobGroup("prog-run-1", "slow synthetic stage")
    try:
        with mon.step("prog-run-1", 2, rows_total=1000):
            df.count()
    finally:
        sc.setJobGroup("", "")
    mid = [f for _, _, f in spy.calls if 0 < f["rows_processed"] < 1000]
    assert mid, f"no mid-stage estimate observed; calls={spy.calls}"
    ests = [f["rows_processed"] for _, _, f in spy.calls]
    assert ests == sorted(ests), "estimates must be monotone"
    assert all(f["rows_total"] == 1000 for _, _, f in spy.calls)


def test_monitor_monotone_bounded_across_multi_job_step(spark):
    """Property over a 3-job step (VERDICT r6 item 7): however many
    jobs a step spawns, the emitted estimates must be strictly
    monotone, strictly inside (0, rows_total), and survive the
    denominator growing as later jobs join the group. Also exercises
    the baseline snapshot-exclusion path: a COMPLETED prior job in the
    same group sits in the tracker when the step starts and must not
    pre-inflate the completed-task fraction."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    spy = _SpyControl()
    mon = StepProgressMonitor(spark, spy, interval_s=0.05)
    df = _slow_identity(spark.range(0, 900), cores + 1, 0.25)
    sc.setJobGroup("prog-run-4", "multi-job step")
    try:
        # prior step's job, already complete when the monitor snapshots
        spark.range(10).count()
        with mon.step("prog-run-4", 3, rows_total=900):
            for _ in range(3):  # three sequential jobs inside ONE step
                df.count()
    finally:
        sc.setJobGroup("", "")
    ests = [f["rows_processed"] for _, _, f in spy.calls]
    assert ests, "no estimates observed across a 3-job step"
    assert ests == sorted(ests), "estimates must stay monotone across jobs"
    assert all(0 < e < 900 for e in ests), (
        f"every estimate must lie strictly inside (0, rows_total): {ests}"
    )
    assert all(f["rows_total"] == 900 for _, _, f in spy.calls)


def test_monitor_inert_without_rows_total(spark):
    spy = _SpyControl()
    mon = StepProgressMonitor(spark, spy, interval_s=0.05)
    with mon.step("prog-run-2", 1, rows_total=None):
        spark.range(100).count()
    with mon.step("prog-run-3", 1, rows_total=0):
        spark.range(100).count()
    assert spy.calls == []


def test_runner_writes_intra_stage_progress_rows(spark, workdir, monkeypatch):
    """End-to-end: a slowed Extract step must leave at least one
    versioned step row in the store with 0 < rows_processed < rows_total
    (the control store appends every update, so mid-stage history
    survives the step's final exact write)."""
    from automated_data_pipeline_spark.operators import stages

    orig = stages.extract

    def slow_extract(df):
        return _slow_identity(orig(df), 2 * spark.sparkContext.defaultParallelism, 0.5)

    monkeypatch.setattr(stages, "extract", slow_extract)
    runner = PipelineRunner(spark, workdir, progress_interval=0.08)
    rid = runner.run(source_df=generate_orders(spark, 2000), source_type="Synthetic")

    # every step event, read back cold: compaction moves event files
    # into the table's snapshot, which keeps every row
    hist = ControlStore(workdir)._step_events.events().to_pylist()
    mid = [
        r
        for r in hist
        if r["run_id"] == rid
        and r["step_number"] == 2
        and r["rows_processed"] is not None
        and r["rows_total"] is not None
        and 0 < r["rows_processed"] < r["rows_total"]
        and r["status"] == "Running"
    ]
    assert mid, "expected >=1 mid-stage progress row for the slowed Extract step"
    # the authoritative final row still wins in the deduped view
    final = (
        runner.control.steps(spark)
        .filter(f"run_id = '{rid}' and step_number = 2")
        .collect()[0]
    )
    assert final["status"] == "Success"
    assert final["rows_processed"] == final["rows_total"] == final["rows_affected"]


class _RaisingTracker:
    def getJobIdsForGroup(self, group):
        raise RuntimeError("status tracker unavailable")


def test_tracker_faults_warn_and_step_still_succeeds(
    spark, workdir, monkeypatch, caplog
):
    """A status tracker whose every call raises must not fail the run:
    both best-effort sites (the baseline snapshot and the poll loop)
    log a warning naming the run id, and the step ends Success."""
    import logging
    from types import SimpleNamespace

    from automated_data_pipeline_spark.operators import stages

    orig = stages.extract

    def slow_extract(df):
        return _slow_identity(orig(df), 2, 0.3)

    monkeypatch.setattr(stages, "extract", slow_extract)
    runner = PipelineRunner(spark, workdir, progress_interval=0.05)
    runner.progress.spark = SimpleNamespace(
        sparkContext=SimpleNamespace(statusTracker=_RaisingTracker)
    )
    with caplog.at_level(
        logging.WARNING, logger="automated_data_pipeline_spark.progress_monitor"
    ):
        rid = runner.run(
            source_df=generate_orders(spark, 200), source_type="Synthetic"
        )
    step = (
        runner.control.steps(spark)
        .filter(f"run_id = '{rid}' and step_number = 2")
        .collect()[0]
    )
    assert step["status"] == "Success"
    msgs = [r.getMessage() for r in caplog.records]
    assert any("baseline" in m and rid in m for m in msgs), msgs
    assert any("poll failed" in m and rid in m for m in msgs), msgs
