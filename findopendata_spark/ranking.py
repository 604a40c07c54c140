"""Distributed global rank: a row number under a total order without a
single-task window over the data."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame, order: list[Column], out_col: str
) -> DataFrame:
    """``df`` plus ``out_col``: each row's 0-based position under the total
    order ``order`` (sort expressions).

    A naked ``Window.orderBy`` would ship EVERY row to one task. Instead
    the rows are range-repartitioned on the order keys, ranked locally
    per partition, and offset by the broadcast per-partition prefix
    counts (the only unpartitioned window runs over the tiny
    one-row-per-partition count frame)."""
    d = df.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*order)
    d = d.withColumn("_lrn", F.row_number().over(w_local) - 1)
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )
