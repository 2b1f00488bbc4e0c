"""Synthetic orders generators (SURVEY.md §2.1 S11) — fully distributed
``spark.range`` pipelines, no driver-side loops.

The recipe mirrors python_code/scripts/generate-large-csv.mjs:20-35:
row i -> ORD-{i:06d}, C{(i % 2000)+1}, amount from a 14-value cycle,
date = 2024-01-01 + (i % 400) days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AMOUNT_CYCLE = [
    15.99, 25.00, 33.50, 45.99, 59.00, 75.25, 99.50,
    120.00, 150.00, 185.00, 210.00, 275.00, 350.00, 499.99,
]


def generate_orders(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Deterministic orders frame with the reference generator's recipe.
    Columns use the canonical input names (OrderId, ...) as strings, so the
    result can feed the pipeline exactly like a parsed CSV."""
    rng = spark.range(0, n_rows, numPartitions=partitions)
    amounts = F.array(*[F.lit(a) for a in AMOUNT_CYCLE])
    return rng.select(
        F.format_string("ORD-%06d", F.col("id") + 1).alias("OrderId"),
        F.concat(F.lit("C"), (F.pmod(F.col("id"), F.lit(2000)) + 1).cast("string")).alias(
            "CustomerId"
        ),
        F.element_at(amounts, (F.pmod(F.col("id"), F.lit(len(AMOUNT_CYCLE))) + 1).cast("int"))
        .cast("string")
        .alias("Amount"),
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), F.pmod(F.col("id"), F.lit(400)).cast("int")),
            "yyyy-MM-dd",
        ).alias("OrderDate"),
    )
