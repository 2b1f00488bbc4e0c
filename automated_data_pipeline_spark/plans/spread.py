"""Conditional hash-spread before per-row-CPU stages.

The recurring "one-file-scan disease" (rounds 7/11/12): a compact
parquet fixture lands as one part file, the scan plans one task, and a
CPU-heavy projection (tokenize, cosine scoring) serializes on it. The
r12 fix repartitioned unconditionally — correct for the one-file case
but a pure-overhead full-corpus shuffle whenever the scan is already
parallel (at 100 TB a scan has thousands of tasks and the LAST thing
you want before a map-only scoring stage is an extra exchange; r12's
hybrid-retrieval weak row was exactly two such shuffles).

``spread_if_narrow`` keeps the guard and drops the waste: repartition
only when the frame plans fewer partitions than half the cluster's
parallelism. Values must be partition-independent at every call site
(rounded scores + total-order ranks — the suite convention), which is
also what makes the conditional safe: the SAME results either way.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# a verify-stage pin never fans out past this many tasks per core
_PIN_CAP = 4


def planned_partitions(df: DataFrame) -> int:
    """Partition count the frame would execute with (physical planning
    only — no job runs). A planning failure falls back to 1 so the
    caller conservatively spreads — but it is LOGGED (ADVICE r13: a
    silent blanket except here would mask genuine analysis errors as
    an unconditional shuffle at every call site)."""
    try:
        return df.rdd.getNumPartitions()
    except Exception as e:  # noqa: BLE001 — py4j raises opaque types
        log.warning(
            "planned_partitions: planning failed (%s: %s) — "
            "conservatively spreading", type(e).__name__, e,
        )
        return 1


def pinned_width(spark) -> int:
    """Width for EXPLICIT verify-stage repartition pins (ADVICE r13):
    a flat ``defaultParallelism`` pin fixes the stage width both down
    AND up — at cluster scale it would cap a huge candidate set below
    ``spark.sql.shuffle.partitions``/AQE's chosen width. Take the max
    of the two, so the pin only ever guards against AQE byte-
    coalescing (tiny-bytes/heavy-CPU pair stages), never against
    scaling up. Locally the two are equal, so bench behavior is
    unchanged. Capped at ``_PIN_CAP`` tasks per core: a session left
    at ``shuffle.partitions=200`` on a small host would otherwise fan
    every verify stage out to 200 tasks."""
    par = spark.sparkContext.defaultParallelism
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sp = 0
    return min(max(par, sp), _PIN_CAP * par)


def spread_if_narrow(df: DataFrame, *key_cols: str, min_ratio: float = 0.5) -> DataFrame:
    """Hash-repartition ``df`` to ``defaultParallelism`` on
    ``key_cols`` ONLY if it currently plans fewer than
    ``min_ratio * defaultParallelism`` partitions. The downstream
    stage must be partition-independent (map-side CPU work feeding an
    aggregation/rank that fixes a total order)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if planned_partitions(df) >= max(2, int(par * min_ratio)):
        return df
    return df.repartition(par, *key_cols) if key_cols else df.repartition(par)
