"""Per-micro-batch row progress for streaming pipelines — the Spark
equivalent of the reference's row-level StepProgress updates
(StepProgress.java:10,25-48: UPDATE StepRuns SET RowsProcessed every
10k rows on a separate connection, best-effort).

Spark's execution model exposes no mid-stage row counters (SURVEY
watch-list item 4), but Structured Streaming's native progress unit —
the micro-batch — gives the same monitoring value: a
StreamingQueryListener receives each batch's ``numInputRows`` the
moment the batch commits, and this tracker folds them into a
cumulative per-stream progress row in the control store. Progress is
best-effort exactly like the reference: a failed update never fails
the stream, and is logged as a warning with the query and batch id.

Usage::

    tracker = StreamProgressTracker(control, pipeline_name="FileTrigger")
    spark.streams.addListener(tracker)
    ...            # run streaming queries
    spark.streams.removeListener(tracker)

Progress is queryable two ways:
- ``tracker.snapshot()`` — in-memory {query_id: cumulative rows, batches}
- the control-store log stream (level='Info', step_name='StreamProgress')
  through the same ``list_logs`` / GET /logs monitoring surface as every
  other pipeline event.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger(__name__)


class StreamProgressTracker(StreamingQueryListener):
    """Folds QueryProgressEvents into cumulative per-query totals and
    mirrors each batch into the control log (best-effort)."""

    def __init__(self, control=None, pipeline_name: str = "Stream"):
        self.control = control
        self.pipeline_name = pipeline_name
        self._lock = threading.Lock()
        self._totals: dict[str, dict] = {}
        self._finished: list[str] = []  # eviction order for terminated

    # -- listener callbacks ------------------------------------------
    def onQueryStarted(self, event):
        with self._lock:
            self._totals.setdefault(
                str(event.id), {"rows": 0, "batches": 0, "name": event.name}
            )

    def onQueryProgress(self, event):
        p = event.progress
        qid = str(p.id)
        n = int(p.numInputRows or 0)
        with self._lock:
            cur = self._totals.setdefault(
                qid, {"rows": 0, "batches": 0, "name": p.name,
                      "last_batch": -1}
            )
            # a restart from the same checkpoint REPLAYS the last
            # uncommitted batch under the same (query id, batchId);
            # folding it twice would overstate the cumulative rows.
            # batchIds are monotone per checkpoint, so skip anything
            # at or below the high-water mark.
            if int(p.batchId) <= cur.get("last_batch", -1):
                return
            cur["last_batch"] = int(p.batchId)
            cur["rows"] += n
            cur["batches"] += 1
            rows, batches = cur["rows"], cur["batches"]
        if self.control is not None:
            try:  # best-effort, like StepProgress.java's swallowed SQLException
                self.control.log(
                    run_id=None,
                    level="Info",
                    message=(
                        f"Stream progress: batch {p.batchId} "
                        f"(+{n} rows, {rows} total over {batches} batches)"
                    ),
                    pipeline_name=self.pipeline_name,
                    step_name="StreamProgress",
                    details=qid,
                )
            except Exception as exc:  # noqa: BLE001 — best effort, see above
                log.warning(
                    "stream progress log failed for query %s batch %s: %s",
                    qid, p.batchId, exc,
                )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        # keep at most the most recent MAX_FINISHED terminated entries:
        # a long-lived session launching many short availableNow
        # queries must not grow _totals without bound. Live queries are
        # never evicted (they keep receiving progress events).
        with self._lock:
            qid = str(event.id)
            if qid in self._totals:
                self._finished.append(qid)
                while len(self._finished) > self.MAX_FINISHED:
                    old = self._finished.pop(0)
                    self._totals.pop(old, None)

    MAX_FINISHED = 256

    # -- monitoring surface ------------------------------------------
    def snapshot(self) -> dict[str, dict]:
        with self._lock:
            return {k: dict(v) for k, v in self._totals.items()}
