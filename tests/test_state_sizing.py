"""Volume-derived stateful-stream width (streaming/state_sizing, r14).

Pins: (1) the sizing math (floor, cap, monotone in bytes); (2) the
context manager restores the session conf; (3) a windowed streaming
aggregation produces IDENTICAL results under the volume-derived width
and the session default — the width is an execution property, never a
value property.
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from automated_data_pipeline_spark.streaming.state_sizing import (
    source_bytes,
    state_partitions_for,
    volume_sized_shuffle,
)


def test_sizing_math(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    # tiny source -> floor
    assert state_partitions_for(spark, str(small)) == 2
    assert state_partitions_for(spark, str(small), floor=1) == 1
    # monotone in bytes: ceil(bytes/target)
    assert (
        state_partitions_for(spark, str(small), target_bytes=512, floor=1)
        == 2
    )
    # cap at cap_factor * defaultParallelism
    assert (
        state_partitions_for(spark, str(small), target_bytes=1, floor=1)
        == 4 * par
    )
    # directories are walked
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a").write_bytes(b"x" * 10)
    (d / "b").write_bytes(b"x" * 20)
    assert source_bytes(str(d)) == 30
    # missing paths count zero instead of raising
    assert source_bytes(str(tmp_path / "nope")) == 0


def test_source_bytes_rejects_remote_schemes(tmp_path):
    """A remote source must fail loudly: walking it with os.path would
    total 0 bytes and size the stream to the floor."""
    import pytest

    for uri in ("s3://bucket/events", "s3a://bucket/x", "hdfs://nn:8020/events",
                "abfss://c@acct.dfs.core.windows.net/events", "gs://b/x"):
        with pytest.raises(ValueError, match="local sources only"):
            source_bytes(uri)
    # one remote path among local ones still raises
    f = tmp_path / "local.bin"
    f.write_bytes(b"x" * 7)
    with pytest.raises(ValueError):
        source_bytes(str(f), "hdfs://nn/events")
    # file: URIs are local
    assert source_bytes(f"file://{f}") == 7
    assert source_bytes(str(f)) == 7


def test_conf_restored(spark, tmp_path):
    f = tmp_path / "s.bin"
    f.write_bytes(b"x" * (64 << 20))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with volume_sized_shuffle(spark, str(f)) as n:
        assert n == 8  # 64 MB / 8 MB target
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_width_is_value_independent(spark, tmp_path):
    """Tumbling-window counts are identical at width 2 and the session
    default — hash partitioning by key only moves WHERE state lives."""
    import datetime as dt

    from automated_data_pipeline_spark.streaming import windows as W

    rows = [
        Row(
            ts=dt.datetime(2024, 1, 1, h, m),
            event_type=f"t{(h + m) % 3}",
            value=float(h * 60 + m),
        )
        for h in range(4)
        for m in (0, 15, 30, 45)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(ckpt, sized):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = W.tumbling_counts(stream, window="1 hour",
                                watermark="10 minutes")
        name = os.path.basename(ckpt)
        if sized:
            with volume_sized_shuffle(spark, src) as n:
                assert n == 2  # tiny source -> floor
                q = (
                    agg.writeStream.format("memory").queryName(name)
                    .outputMode("append").trigger(availableNow=True)
                    .option("checkpointLocation", ckpt).start()
                )
        else:
            q = (
                agg.writeStream.format("memory").queryName(name)
                .outputMode("append").trigger(availableNow=True)
                .option("checkpointLocation", ckpt).start()
            )
        q.awaitTermination()
        return sorted(
            tuple(r) for r in spark.table(name).collect()
        )

    a = run(str(tmp_path / "ck_sized"), sized=True)
    b = run(str(tmp_path / "ck_default"), sized=False)
    assert a == b and len(a) > 0
