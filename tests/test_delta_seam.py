"""J3 Delta seam: the runner's target is format-agnostic behind
``read``/``merge_upsert``; Delta ``MERGE INTO`` routes in when
delta-spark is present (skip-marked here — not in this image), and the
join-rewrite TargetTable carries identical semantics otherwise."""

from __future__ import annotations

import logging
import sys
import types

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from automated_data_pipeline_spark.operators import upsert
from automated_data_pipeline_spark.runner import (
    DeltaTargetTable,
    PipelineRunner,
    TargetTable,
)

_HAS_DELTA = upsert.delta_available()

needs_delta = pytest.mark.skipif(
    not _HAS_DELTA, reason="delta-spark not installed in this image"
)


_SCHEMA = StructType(
    [StructField("order_id", StringType()), StructField("amount", DoubleType())]
)


def _updates(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_runner_routes_target_format(spark, workdir):
    assert isinstance(
        PipelineRunner(spark, workdir, target_format="parquet").target,
        TargetTable,
    )
    auto = PipelineRunner(spark, workdir + "2", target_format="auto").target
    assert isinstance(auto, DeltaTargetTable if _HAS_DELTA else TargetTable)
    if not _HAS_DELTA:
        with pytest.raises(ImportError):
            PipelineRunner(spark, workdir + "3", target_format="delta")
    with pytest.raises(ValueError):
        PipelineRunner(spark, workdir + "4", target_format="orc")


def _merge_twice_and_check(spark, target):
    """Shared contract: second identical merge is a no-op; matched rows
    fully replaced; unmatched target rows kept; new keys inserted."""
    target.merge_upsert(spark, _updates(spark, [("a", 1.0), ("b", 2.0)]), "order_id")
    target.merge_upsert(spark, _updates(spark, [("b", 9.0), ("c", 3.0)]), "order_id")
    got = {r["order_id"]: r["amount"] for r in target.read(spark).collect()}
    assert got == {"a": 1.0, "b": 9.0, "c": 3.0}
    # idempotent replay of the same updates
    target.merge_upsert(spark, _updates(spark, [("b", 9.0), ("c", 3.0)]), "order_id")
    got2 = {r["order_id"]: r["amount"] for r in target.read(spark).collect()}
    assert got2 == got
    assert target.read(spark).count() == 3


def test_parquet_target_merge_contract(spark, tmp_path):
    _merge_twice_and_check(spark, TargetTable(str(tmp_path / "t"), _SCHEMA))


@needs_delta
def test_delta_target_merge_contract(spark, tmp_path):
    _merge_twice_and_check(spark, DeltaTargetTable(str(tmp_path / "t")))


@needs_delta
def test_delta_runner_end_to_end(spark, workdir):
    from automated_data_pipeline_spark.sources.generators import generate_orders

    runner = PipelineRunner(spark, workdir, target_format="delta")
    runner.run(source_df=generate_orders(spark, 500), source_type="Synthetic")
    assert runner.target.read(spark).count() == 500


def test_delta_classpath_probe_failure_is_logged(monkeypatch, caplog):
    """delta-spark importable but the JVM probe raises: the seam still
    answers False, and says why in a warning naming the exception."""
    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = object
    delta = types.ModuleType("delta")
    delta.tables = tables
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)

    class _Session:
        @property
        def _jvm(self):
            raise RuntimeError("gateway closed")

    with caplog.at_level(logging.WARNING, logger=upsert.__name__):
        assert upsert.delta_available(_Session()) is False
    (rec,) = [r for r in caplog.records if r.name == upsert.__name__]
    assert rec.levelno == logging.WARNING
    assert "RuntimeError" in rec.getMessage()
    assert "gateway closed" in rec.getMessage()
