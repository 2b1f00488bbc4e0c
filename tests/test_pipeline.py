"""End-to-end pipeline spine tests, replicating the reference's golden
fixtures (SURVEY.md §5): happy path, coercion edge cases, error path,
upsert idempotency, case-insensitive headers."""

from __future__ import annotations

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from automated_data_pipeline_spark.functions.business import NegativeAmountError
from automated_data_pipeline_spark.runner import PipelineRunner

GOLDEN_CSV = textwrap.dedent(
    """\
    OrderId,CustomerId,Amount,OrderDate
    ORD-001,C1,25.00,2024-01-02
    ORD-002,C2,150.00,2024-01-03
    ORD-003,C3,350.00,2024-01-04
    ORD-004,,49.99,2024-01-05
    ORD-005,C5,not-a-number,bad-date
    """
)

EDGE_CSV = textwrap.dedent(
    """\
    orderId,customerId,amount,orderDate
    ORD-101,C1,10,2024-02-01
    ,C2,20,2024-02-02
    ORD-101,C3,99.5,2024-02-03
    """
)


def _write(tmp_path, name, content):
    p = os.path.join(str(tmp_path), name)
    with open(p, "w") as f:
        f.write(content)
    return p


def test_happy_path_golden(spark, tmp_path, workdir):
    src = _write(tmp_path, "golden.csv", GOLDEN_CSV)
    runner = PipelineRunner(spark, workdir)
    run_id = runner.run(source_path=src)

    target = runner.target.read(spark)
    rows = {r["order_id"]: r for r in target.collect()}
    assert set(rows) == {"ORD-001", "ORD-002", "ORD-003", "ORD-004", "ORD-005"}
    # F6 bucketing rule (transform.js:13)
    assert rows["ORD-001"]["amount_category"] == "Low"
    assert rows["ORD-002"]["amount_category"] == "Medium"
    assert rows["ORD-003"]["amount_category"] == "High"
    # F5 blank customer -> UNKNOWN (extract.js:16)
    assert rows["ORD-004"]["customer_id"] == "UNKNOWN"
    # F3 junk amount -> 0 ; F4 junk date -> NULL
    assert float(rows["ORD-005"]["amount"]) == 0.0
    assert rows["ORD-005"]["amount_category"] == "Low"
    assert rows["ORD-005"]["order_date"] is None

    # control plane: run Success, 4 steps Success
    runs = runner.control.runs(spark).collect()
    assert len(runs) == 1 and runs[0]["status"] == "Success"
    steps = runner.control.steps(spark).collect()
    assert sorted(s["step_number"] for s in steps) == [1, 2, 3, 4]
    assert all(s["status"] == "Success" for s in steps)
    assert run_id == runs[0]["run_id"]


def test_case_insensitive_headers_blank_id_lastwins(spark, tmp_path, workdir):
    src = _write(tmp_path, "edge.csv", EDGE_CSV)
    runner = PipelineRunner(spark, workdir)
    runner.run(source_path=src)
    target = runner.target.read(spark)
    rows = {r["order_id"]: r for r in target.collect()}
    # blank OrderId dropped (P2); duplicate ORD-101 -> last row wins
    assert set(rows) == {"ORD-101"}
    assert float(rows["ORD-101"]["amount"]) == 99.5
    assert rows["ORD-101"]["customer_id"] == "C3"


def test_upsert_idempotent_rerun(spark, tmp_path, workdir):
    src = _write(tmp_path, "golden.csv", GOLDEN_CSV)
    runner = PipelineRunner(spark, workdir)
    runner.run(source_path=src)
    n1 = runner.target.read(spark).count()
    runner.run(source_path=src)  # re-run same file: no duplicates
    n2 = runner.target.read(spark).count()
    assert n1 == n2 == 5


def test_error_path_negative_amount(spark, tmp_path, workdir):
    bad = textwrap.dedent(
        """\
        OrderId,CustomerId,Amount,OrderDate
        ORD-001,C1,25.50,2024-01-02
        ORD-002,C2,-1,2024-01-03
        """
    )
    src = _write(tmp_path, "bad.csv", bad)
    runner = PipelineRunner(spark, workdir)
    with pytest.raises(NegativeAmountError):
        runner.run(source_path=src, fail_on_negative=True)
    runs = runner.control.runs(spark).collect()
    assert runs[0]["status"] == "Failed"
    steps = {s["step_number"]: s for s in runner.control.steps(spark).collect()}
    assert steps[3]["status"] == "Failed"
    assert "negative" in (steps[3]["error_message"] or "")
    assert steps[4]["status"] == "Pending"
    # target untouched
    assert runner.target.read(spark) is None


def test_json_source_with_raw_payload(spark, tmp_path, workdir):
    src = _write(
        tmp_path,
        "orders.json",
        '[{"orderId":"ORD-J1","customerId":"C9","amount":75.25,"orderDate":"2024-03-01"},'
        '{"orderId":"ORD-J2","amount":500}]',
    )
    runner = PipelineRunner(spark, workdir)
    run_id = runner.run(source_path=src)
    landing = spark.read.parquet(runner.landing_dir).where(F.col("run_id") == run_id)
    payloads = [r["raw_payload"] for r in landing.collect()]
    assert all(p and "orderId" in p for p in payloads)
    target = {r["order_id"]: r for r in runner.target.read(spark).collect()}
    assert target["ORD-J1"]["amount_category"] == "Medium"
    assert target["ORD-J2"]["customer_id"] == "UNKNOWN"
    assert target["ORD-J2"]["amount_category"] == "High"


def test_upsert_merge_partial_update_semantics(spark):
    """upsert_merge: matched rows update only set_columns; NOT-MATCHED
    rows insert ALL update columns (WHEN NOT MATCHED INSERT *)."""
    from automated_data_pipeline_spark.operators.upsert import upsert_merge

    target = spark.createDataFrame(
        [("k1", "old-a", 10), ("k2", "old-b", 20)], ["k", "name", "score"]
    )
    updates = spark.createDataFrame(
        [("k2", "new-b", 99), ("k3", "new-c", 77)], ["k", "name", "score"]
    )
    out = {
        r["k"]: (r["name"], r["score"])
        for r in upsert_merge(target, updates, "k", set_columns=["score"]).collect()
    }
    assert out == {
        "k1": ("old-a", 10),   # untouched
        "k2": ("old-b", 99),   # only score updated (set_columns)
        "k3": ("new-c", 77),   # inserted with ALL columns from updates
    }


def test_declared_stage_schemas_match_stage_outputs(spark):
    """Stage and target reads take their schema from schemas.py instead
    of inferring it from parquet footers, so each declared schema must
    be exactly what its stage writes (names, order and types)."""
    from automated_data_pipeline_spark.operators import stages
    from automated_data_pipeline_spark.schemas import (
        LANDING_SCHEMA,
        STAGING_SCHEMA,
        TARGET_SCHEMA,
        TRANSFORMED_SCHEMA,
    )
    from automated_data_pipeline_spark.sources.files import resolve_input_columns
    from automated_data_pipeline_spark.sources.generators import generate_orders

    def shape(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    landing = stages.pull(resolve_input_columns(generate_orders(spark, 3)), "r", "G")
    staging = stages.extract(landing)
    transformed = stages.transform(staging)
    assert shape(landing.schema) == shape(LANDING_SCHEMA)
    assert shape(staging.schema) == shape(STAGING_SCHEMA)
    assert shape(transformed.schema) == shape(TRANSFORMED_SCHEMA)
    assert shape(stages.migrate_updates(transformed).schema) == shape(TARGET_SCHEMA)


def test_stage_reads_run_no_schema_inference_jobs(spark, tmp_path, workdir):
    """A run's stage and target reads list only its own partition with
    a declared schema: a bulk load (CSV directory in, no target yet)
    runs 6 Spark jobs and a delta (merged into the target) 8, at any
    history length. Footer inference added one job per read (9 / 12)."""
    from automated_data_pipeline_spark.sources.generators import generate_orders

    bulk, delta = str(tmp_path / "bulk"), str(tmp_path / "delta")
    generate_orders(spark, 200).write.option("header", True).csv(bulk)
    generate_orders(spark, 50).write.option("header", True).csv(delta)
    runner = PipelineRunner(spark, workdir)
    sc = spark.sparkContext
    jobs = []
    for src in (bulk, delta, delta):
        rid = runner.run(source_path=src)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(rid)))
    assert jobs == [6, 8, 8]
    assert runner.target.read(spark).count() == 200
