"""Control-store growth probe: how a cold store's read cost scales with
run history.

Usage: python tools/control_probe.py [n_runs] [--no-compaction]
Defaults: 30 runs, compaction on.

Seeds ``n_runs`` finished runs into a fresh control store in a temp
directory with the ``ControlStore`` call sequence ``PipelineRunner.run``
makes for a successful run (start_run, each step's Running and Success
updates with their log rows, the latest-state probe, the final run
update: 24 events per run), then prints:

- the seeding CPU seconds (process time, all 24 x n_runs appends);
- per table: the event files on disk, the snapshot (its rows, or ``-``
  when there is none), and the median cold-open time of 5 fresh stores
  reading that table's view.

``--no-compaction`` seeds with compaction off (every event stays its
own file), the layout before snapshot compaction.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automated_data_pipeline_spark import control  # noqa: E402
from automated_data_pipeline_spark.control import ControlStore, utcnow  # noqa: E402
from automated_data_pipeline_spark.schemas import STEP_NAMES  # noqa: E402

TABLES = (
    ("pipeline_runs", "runs_table"),
    ("step_runs", "steps_table"),
    ("pipeline_logs", "logs_table"),
)


def write_run(store: ControlStore, k: int) -> None:
    rid, pipeline, rows = f"probe-{k:06d}", f"Pipeline{k % 3}", 1000 + k
    store.start_run(pipeline_name=pipeline, run_id=rid)
    store.log(rid, "Info", "Pipeline started", pipeline_name=pipeline)
    for i, name in enumerate(STEP_NAMES, start=1):
        store.update_step(rid, i, status="Running", started_at=utcnow())
        store.log(rid, "Info", f"Step started: {name}", pipeline_name=pipeline,
                  step_number=i, step_name=name)
        store.update_step(rid, i, status="Success", finished_at=utcnow(),
                          rows_affected=rows, rows_processed=rows, rows_total=rows)
        store.log(rid, "Info", f"Step finished: {name} ({rows} rows)",
                  pipeline_name=pipeline, step_number=i, step_name=name)
    store.latest_run_state(rid)
    store.update_run(rid, status="Success", finished_at=utcnow())
    store.log(rid, "Info", "Pipeline finished", pipeline_name=pipeline)


def cold_open_ms(workdir: str, view: str, repeats: int = 5) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        getattr(ControlStore(workdir), view)()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_runs = int(args[0]) if args else 30
    if "--no-compaction" in sys.argv:
        control.COMPACT_AT = sys.maxsize
    workdir = tempfile.mkdtemp(prefix="control_probe_")
    try:
        store = ControlStore(workdir)
        t0 = time.process_time()
        for k in range(n_runs):
            write_run(store, k)
        seed_cpu = time.process_time() - t0
        print(f"runs={n_runs} events={24 * n_runs} seeding_cpu_s={seed_cpu:.2f}")
        print(f"{'table':<15} {'event_files':>11} {'snapshot_rows':>13} {'cold_open_ms':>12}")
        for table, view in TABLES:
            names = os.listdir(os.path.join(workdir, "control", table))
            events = sum(1 for f in names if f.endswith(".parquet") and f[0] not in "._")
            snaps = [f for f in names if f.startswith("_snapshot-")]
            rows = (
                str(control._decode(os.path.join(workdir, "control", table, max(snaps))).num_rows)
                if snaps else "-"
            )
            print(f"{table:<15} {events:>11} {rows:>13} {cold_open_ms(workdir, view):>12.1f}")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
