"""Approximate intra-stage progress for batch steps (ST4 depth).

The reference updates ``StepRuns.RowsProcessed`` every 10k rows from
INSIDE a running step, on a separate DB connection so monitoring sees
movement before the step commits (java_code/.../StepProgress.java:10,
25-48). Spark's driver has no mid-stage row counter — rows materialize
inside tasks and only surface on completion (SURVEY §7 watch-list 4) —
but the scheduler's task-level ``StatusTracker`` is the public, cheap
approximation: poll the run's job group every few seconds, convert the
completed-task fraction into an estimated row count against the step's
KNOWN input size (each step's input is the previous step's counted
output), and best-effort write it to the control store. Monitoring
(``GET /runs/{id}`` / the GUI's 2 s refresh) then shows a long stage
advancing instead of sitting at NULL until commit.

Reference semantics preserved:
- best-effort: a failed poll or write never fails the step
  (StepProgress.java:44-46 swallows SQLException)
- separate-connection visibility: ``update_step`` appends its own
  versioned row, immediately visible to concurrent readers
- ``rows_processed`` is monotone within a step attempt and never
  exceeds ``rows_total``; the step's exact final counts (written by the
  runner after the monitor stops) always supersede the estimates

Scale note: the poll is O(jobs-in-group × stages-per-job) driver-side
metadata — no executor traffic, no extra Spark jobs — so the interval
can stay at seconds even on a 1000-executor cluster.
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager

log = logging.getLogger(__name__)


class StepProgressMonitor:
    """Polls the run's job-group task progress while a step executes
    and writes estimated ``rows_processed`` updates to the control
    store. One monitor per runner; ``step(...)`` wraps one step."""

    def __init__(self, spark, control, interval_s: float | None = 5.0):
        self.spark = spark
        self.control = control
        self.interval_s = interval_s

    @contextmanager
    def step(self, run_id: str, step_number: int, rows_total: int | None):
        """Context manager around one step's execution. Inert when the
        input size is unknown (step 1: the source is uncounted until
        the pull lands — task fractions have no row denominator) or
        when progress is disabled (``interval_s=None``)."""
        if not self.interval_s or not rows_total or rows_total <= 0:
            yield
            return
        stop = threading.Event()
        tracker = self.spark.sparkContext.statusTracker()
        # Jobs already in the group belong to PREVIOUS steps of this
        # run; counting their completed tasks would start every later
        # step at ~100%. Snapshot and exclude them.
        try:
            baseline = set(tracker.getJobIdsForGroup(run_id))
        except Exception as e:
            # best effort: without the snapshot the estimates may start
            # high, but the step itself must not fail
            log.warning(
                "step-progress baseline snapshot failed for run %s step "
                "%s: %s", run_id, step_number, e,
            )
            baseline = set()
        t = threading.Thread(
            target=self._poll_loop,
            args=(stop, tracker, baseline, run_id, step_number, int(rows_total)),
            daemon=True,
            name=f"step-progress-{run_id[:8]}-{step_number}",
        )
        t.start()
        try:
            yield
        finally:
            stop.set()
            # join BEFORE the runner writes the step's exact final
            # counts, so no in-flight estimate can land after (and
            # shadow) the authoritative row; the poll loop also
            # re-checks `stop` right before each write, which stops
            # writes not yet STARTED — a write already in flight when
            # stop is set cannot be recalled
            t.join(timeout=10.0)
            if t.is_alive():
                log.warning(
                    "step-progress poll thread for %s step %s did not "
                    "stop within 10s; an estimate write already in "
                    "flight may land after the step's final counts and "
                    "shadow them in the latest-event view — if a "
                    "Successful step shows a stale rows_processed, "
                    "this is why",
                    run_id, step_number,
                )

    def _poll_loop(self, stop, tracker, baseline, run_id, step_number, rows_total):
        last = 0
        warned = False
        while not stop.wait(self.interval_s):
            try:
                total_tasks = done_tasks = 0
                for jid in tracker.getJobIdsForGroup(run_id):
                    if jid in baseline:
                        continue
                    job = tracker.getJobInfo(jid)
                    if job is None:
                        continue
                    for sid in job.stageIds:
                        stage = tracker.getStageInfo(sid)
                        if stage is None:
                            continue
                        total_tasks += stage.numTasks
                        done_tasks += stage.numCompletedTasks
                # done == total carries no signal: either the step sits
                # between jobs (later jobs aren't in the denominator
                # yet) or it is about to finish — in both cases writing
                # "100%" would be a lie the runner's exact final row is
                # responsible for. Only strictly-partial states count,
                # which also keeps every estimate < rows_total.
                if total_tasks <= 0 or done_tasks >= total_tasks:
                    continue
                est = rows_total * done_tasks // total_tasks
                if est > last and not stop.is_set():
                    # the stop re-check closes the shadowing window: if
                    # the runner timed out our join (slow control-store
                    # write) and already wrote the step's exact final
                    # counts, an in-flight estimate computed before
                    # stop was observed must NOT land after it
                    last = est
                    self.control.update_step(
                        run_id,
                        step_number,
                        rows_processed=int(est),
                        rows_total=int(rows_total),
                    )
            except Exception as e:
                # best-effort, like the reference's swallowed
                # SQLException: progress must never fail the step. One
                # warning per step; a persistent fault repeats at debug
                (log.debug if warned else log.warning)(
                    "step-progress poll failed for run %s step %s: %s",
                    run_id, step_number, e,
                )
                warned = True
