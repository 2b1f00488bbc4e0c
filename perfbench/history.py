"""Seeded control-store history: finished runs written with the same
``ControlStore`` call sequence ``runner.PipelineRunner.run`` makes for a
successful run (start_run, the step Running/Success updates with their
log rows, the latest-state probe, the final run update)."""

from __future__ import annotations

import os
import random

import inputs
import tracing

CONTROL_METHODS = ("start_run", "update_step", "update_run", "latest_run_state", "log")


def write_run(control, run_id: str, pipeline: str, rows: int) -> None:
    from automated_data_pipeline_spark.control import utcnow
    from automated_data_pipeline_spark.schemas import STEP_NAMES

    control.start_run(pipeline_name=pipeline, run_id=run_id)
    control.log(run_id, "Info", "Pipeline started: seeded history", pipeline_name=pipeline)
    for i, name in enumerate(STEP_NAMES, start=1):
        control.update_step(run_id, i, status="Running", started_at=utcnow())
        control.log(run_id, "Info", f"Step started: {name}", pipeline_name=pipeline,
                    step_number=i, step_name=name)
        control.update_step(run_id, i, status="Success", finished_at=utcnow(),
                            rows_affected=rows, rows_processed=rows, rows_total=rows)
        control.log(run_id, "Info", f"Step finished: {name} ({rows} rows)",
                    pipeline_name=pipeline, step_number=i, step_name=name)
    control.latest_run_state(run_id)
    control.update_run(run_id, status="Success", finished_at=utcnow())
    control.log(run_id, "Info", "Pipeline finished", pipeline_name=pipeline)


def seed_history(workdir: str, seed: int, n_runs: int) -> list[str]:
    """Write ``n_runs`` finished runs into a fresh control store under
    ``workdir``; returns their run ids, oldest first."""
    from automated_data_pipeline_spark.control import ControlStore

    rng = inputs.rng_for(seed, "history")
    control = ControlStore(workdir)
    ids = []
    for k in range(n_runs):
        rid = inputs.seeded_uuid(rng)
        write_run(control, rid, f"Pipeline{k % 3}", rng.randrange(1, 50_000))
        ids.append(rid)
    return ids


def pick(rng: random.Random, ids: list[str]) -> str:
    return ids[rng.randrange(len(ids))]


def control_span_metrics(spans: list[dict]) -> dict[str, float]:
    """Median span time of each control-store write call."""
    return {
        f"control.{m}_ms": tracing.span_p50_ms(spans, f"control.ControlStore.{m}")
        for m in CONTROL_METHODS
    }


def event_files(table_dir: str) -> int:
    """Event files (one row each) of one control table; claim markers
    and in-flight temp files are not rows."""
    return sum(
        1 for f in os.listdir(table_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def control_event_files(workdir: str) -> int:
    """Event files in all control tables under ``workdir``."""
    root = os.path.join(workdir, "control")
    return sum(event_files(os.path.join(root, d)) for d in os.listdir(root))
