"""Late-data accounting for watermarked streaming aggregations.

The watermark policy (streaming/windows.py) *silently* drops rows older
than the watermark — correct for state-boundedness, but at 100 TB/day a
pipeline must know *how much* it is dropping: a clock-skewed upstream
producer or a replayed backlog shows up as a dropped-row spike long
before anyone notices missing counts downstream.

Spark exposes the per-batch drop counter as
``StreamingQueryProgress.stateOperators[].numRowsDroppedByWatermark``;
this module turns that into a queryable accounting surface:

- ``watermark_policy_metrics(query)``: cumulative late-drop counts from
  a live/finished query's recentProgress (no listener needed).
- ``LateDataAuditor``: a StreamingQueryListener that keeps one
  in-memory record per micro-batch in ``records`` (query id -> list of
  (batch_id, input_rows, dropped_by_watermark, watermark) dicts) — the
  streaming twin of the reference's per-step RowsAffected bookkeeping
  (java_code/.../StepProgress.java:10,25-48 semantics at micro-batch
  granularity). Nothing is written to the control tables; a caller
  that wants the rows persisted writes them from ``records``.

Scale notes: the counters are driver-side aggregates Spark already
maintains; nothing here touches executor data paths.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql.streaming import StreamingQueryListener


def watermark_policy_metrics(query) -> dict:
    """Cumulative late-data accounting for a streaming query: sums
    ``numRowsDroppedByWatermark`` across the retained progress events
    (Spark keeps the last ~100; for full-lifetime totals attach a
    ``LateDataAuditor`` before starting the query)."""
    total_dropped = 0
    total_input = 0
    n_batches = 0
    last_watermark = None
    for p in query.recentProgress:
        if isinstance(p, str):  # older PySpark returns JSON strings
            p = json.loads(p)
        n_batches += 1
        total_input += int(p.get("numInputRows", 0) or 0)
        for op in p.get("stateOperators", []) or []:
            total_dropped += int(op.get("numRowsDroppedByWatermark", 0) or 0)
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm:
            last_watermark = wm
    return {
        "n_batches": n_batches,
        "input_rows": total_input,
        "dropped_by_watermark": total_dropped,
        "watermark": last_watermark,
    }


class LateDataAuditor(StreamingQueryListener):
    """Accumulates per-batch late-drop rows for the lifetime of the
    queries it observes (recentProgress only retains a window).

    ``records`` maps query id -> list of per-batch dicts; ``totals``
    folds them. Thread-safe: listener callbacks arrive on Spark's
    listener bus thread.
    """

    def __init__(self):
        self._lock = threading.Lock()
        self.records: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.records.setdefault(str(event.id), [])

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "batch_id": p.batchId,
            "input_rows": int(p.numInputRows or 0),
            "dropped_by_watermark": sum(
                int(op.numRowsDroppedByWatermark or 0)
                for op in (p.stateOperators or [])
            ),
            "watermark": (p.eventTime or {}).get("watermark"),
        }
        with self._lock:
            self.records.setdefault(str(p.id), []).append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def totals(self, query_id: str) -> dict:
        with self._lock:
            rows = list(self.records.get(str(query_id), []))
        return {
            "n_batches": len(rows),
            "input_rows": sum(r["input_rows"] for r in rows),
            "dropped_by_watermark": sum(
                r["dropped_by_watermark"] for r in rows
            ),
        }
