"""Upsert / merge operator (SURVEY.md §2.1 S7, §2.5 J3).

Reference semantics: Staging -> Target keyed on the business key; update
matched rows, insert new ones (SQLite ``ON CONFLICT(OrderId) DO UPDATE``
python_code/orchestrator/steps/migrate.js:7-17; T-SQL ``MERGE``
python_code/database/sqlserver/005_sp_migrate.sql:14-24).

Spark-first design: without Delta Lake in the image, MERGE is expressed
as the equivalent join rewrite. For "updates fully replace matched rows"
semantics (what the reference does — every target column is overwritten
on match), the cheapest correct plan is an **anti-join + union**:

    target'  =  updates  UNION ALL  (target ANTI JOIN updates ON key)

which shuffles each side once on the key and avoids the wide
coalesce-per-column projection of a full-outer-join rewrite. At 100 TB,
both sides hash-partition on the key; with bucketed storage the shuffle
disappears entirely. A generic full-outer MERGE (partial column updates)
is provided too for completeness.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def upsert_replace(target: DataFrame | None, updates: DataFrame, key: str) -> DataFrame:
    """MERGE where matched rows are fully replaced by the update row.

    ``updates`` must already be deduped on ``key`` (last-wins — see
    operators.stages.dedup_last_wins).
    """
    if target is None:
        return updates
    updates = updates.select(*target.columns)  # align column order
    kept = target.join(updates.select(key), on=key, how="left_anti")
    return updates.unionByName(kept)


def delta_available(spark=None) -> bool:
    """Whether the Delta Lake code path can run: delta-spark importable
    and (when a session is given) the Delta classes visible to its JVM.
    The import is the seam this sandbox gates on (delta-spark is not in
    the image); a production cluster with Delta on the classpath flips
    the J3 sink to a real transactional ``MERGE INTO`` with no caller
    changes (SURVEY §7 names Delta MERGE as the J3 canonical)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    if spark is None:
        return True
    try:
        spark._jvm.io.delta.tables.DeltaTable  # classpath probe
        return True
    except Exception as exc:
        log.warning(
            "Delta classes not visible to the JVM, using the parquet "
            "target: %s: %s", type(exc).__name__, exc,
        )
        return False


def delta_merge_replace(spark, target_path: str, updates: DataFrame, key: str) -> None:
    """S7/J3 through Delta: ``MERGE INTO target USING updates ON key
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` —
    the transactional equivalent of ``upsert_replace`` (every target
    column overwritten on match, reference migrate.js:7-17 semantics).
    First write creates the table. Requires ``delta_available(spark)``;
    ``updates`` must be deduped on ``key`` (Delta MERGE raises on
    multiple source matches per target row, same contract as ours)."""
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, target_path):
        updates.write.format("delta").mode("overwrite").save(target_path)
        return
    (
        DeltaTable.forPath(spark, target_path)
        .alias("t")
        .merge(updates.alias("u"), f"t.{key} = u.{key}")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def upsert_merge(
    target: DataFrame | None,
    updates: DataFrame,
    key: str,
    set_columns: list[str] | None = None,
) -> DataFrame:
    """Generic MERGE via full-outer join: update only ``set_columns`` on
    match (others keep target values), insert unmatched update rows.
    Matches Delta ``MERGE INTO ... WHEN MATCHED UPDATE SET ... WHEN NOT
    MATCHED INSERT *`` without requiring Delta."""
    if target is None:
        return updates
    if set_columns is None:
        set_columns = [c for c in updates.columns if c != key]
    # presence markers, NOT key nullity, decide the branch: a real
    # target row whose business key is NULL also has t.key IS NULL, and
    # branching on that would replace its every column with the (absent)
    # update side — i.e. silently wipe the row
    t = target.withColumn("_t_present", F.lit(1)).alias("t")
    u = updates.withColumn("_u_present", F.lit(1)).alias("u")
    joined = t.join(u, on=F.col(f"t.{key}") == F.col(f"u.{key}"), how="full_outer")
    cols = [
        F.coalesce(F.col(f"t.{key}"), F.col(f"u.{key}")).alias(key)
    ]
    for c in target.columns:
        if c == key:
            continue
        u_val = F.col(f"u.{c}") if c in updates.columns else F.lit(None)
        matched_val = (
            F.col(f"u.{c}")
            if (c in set_columns and c in updates.columns)
            else F.col(f"t.{c}")
        )
        cols.append(
            # WHEN NOT MATCHED INSERT * — every update column, not just
            # set_columns, feeds a brand-new row
            F.when(F.col("t._t_present").isNull(), u_val)
            .when(F.col("u._u_present").isNull(), F.col(f"t.{c}"))
            .otherwise(matched_val)
            .alias(c)
        )
    return joined.select(*cols)
