"""Volume-derived shuffle/state-partition sizing for stateful streams.

Structured Streaming pins ``spark.sql.shuffle.partitions`` into the
query's checkpoint at FIRST start and keeps one state store per
partition per stateful operator — AQE cannot coalesce it at runtime
(adaptive execution is disabled for streaming plans). The default
therefore couples the number of per-micro-batch state-store commits to
the CLUSTER WIDTH, not to the data: a stream-stream join keeps 4
stores per partition, so a 32-core session pays 128 store commits per
micro-batch even when the batch holds a few MB (r14 measurement, sf0.1
events: stream-stream join 7.4 s at 32 state partitions vs 2.8 s at 4;
tumbling 3.0 -> 1.4; session 3.1 -> 1.8 — the commit scaffolding, not
the data, was the wall, exactly as the r13 profile diagnosed).

``volume_sized_shuffle`` derives the width from the SOURCE volume
instead — scale-monotone, not a local constant: more data means more
partitions (past the cap the cluster is compute-bound anyway), tiny
ingest volumes stop paying per-core state commits. The default target
is 8 MB of compressed source per partition (zstd parquet/json decodes
~8x, so this is ~64 MB in flight per partition — the guide's reduce-
partition sizing band), floored at 2 and capped at 4x
defaultParallelism.

Apply it to STATE-STORE-COMMIT-BOUND streams only (windowed
aggregations, stream-stream joins). Arrow-Python stateful pipelines
(``applyInPandasWithState``) are compute-bound in the Python workers
and WANT cluster-width parallelism (measured: 5.3 s at 32 partitions
vs 13.3 s at 1) — leave those at the session default.

Correctness is width-independent (hash partitioning by key), but the
width is pinned per checkpoint: restarting an existing checkpoint with
a different width is rejected by Spark itself, so size once per query
lifetime (the helpers here are for NEW queries / fresh checkpoints).
"""

from __future__ import annotations

import math
import os
import urllib.parse
from contextlib import contextmanager

# ~8 MB compressed source bytes per state partition (~64 MB decoded
# in flight — guide-band reduce partitions); override per call for
# uncompressed or pre-exploded sources.
TARGET_SOURCE_BYTES_PER_PARTITION = 8 << 20


def source_bytes(*paths: str) -> int:
    """Total bytes under the given files/directories (driver-side
    metadata walk — no Spark job). Local paths only: a remote scheme
    (``s3://``, ``hdfs://``, ``abfss://`` ...) raises ValueError
    instead of quietly totalling 0 bytes and sizing to the floor."""
    total = 0
    for p in paths:
        url = urllib.parse.urlparse(p)
        if url.scheme not in ("", "file"):
            raise ValueError(
                f"source_bytes sizes local sources only, got {url.scheme}:// "
                f"path {p!r}"
            )
        if url.scheme == "file":
            p = url.path
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    return total


def state_partitions_for(
    spark,
    *paths: str,
    target_bytes: int = TARGET_SOURCE_BYTES_PER_PARTITION,
    floor: int = 2,
    cap_factor: int = 4,
) -> int:
    """Volume-derived stateful-stream width: ceil(bytes/target),
    clamped to [floor, cap_factor * defaultParallelism]."""
    par = spark.sparkContext.defaultParallelism
    need = math.ceil(source_bytes(*paths) / max(target_bytes, 1))
    return max(floor, min(need, cap_factor * par))


@contextmanager
def volume_sized_shuffle(
    spark,
    *paths: str,
    target_bytes: int = TARGET_SOURCE_BYTES_PER_PARTITION,
    floor: int = 2,
    cap_factor: int = 4,
):
    """Set ``spark.sql.shuffle.partitions`` to the volume-derived width
    around a streaming query START (the width is snapshotted into the
    new query's checkpoint there), restoring the session value after.
    Yields the width chosen.

    This flips SESSION-GLOBAL conf: any other query started or planned
    on the same session while the block is open (another thread, a
    concurrent stream start) picks up this width too. Not safe with
    concurrent query starts; use it only where one thread owns the
    session, as the bench harness does."""
    n = state_partitions_for(
        spark, *paths, target_bytes=target_bytes, floor=floor,
        cap_factor=cap_factor,
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
