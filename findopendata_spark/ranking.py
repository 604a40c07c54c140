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
    per partition, and offset by the broadcast count of the rows in the
    partitions before their own, summed by a join over the tiny
    one-row-per-partition count frame: no window runs without a
    partition key, and no join is a nested loop."""
    d = df.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*order)
    d = d.withColumn("_lrn", F.row_number().over(w_local) - 1)
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # a partition's offset is the count of the partitions up to and
    # including it, less its own: an equi-join of the count frame with
    # itself over each pid's exploded range 0.._pid (P(P+1)/2 rows for P
    # partitions). Both sides read the same count aggregate, so Spark
    # reuses its exchange.
    upto = counts.select(F.col("_pid").alias("_p"), F.col("_n").alias("_pn"))
    offsets = (
        counts.withColumn("_p", F.explode(F.sequence(F.lit(0), F.col("_pid"))))
        .join(F.broadcast(upto), "_p")
        .groupBy("_pid", "_n")
        .agg((F.sum("_pn") - F.col("_n")).alias("_off"))
        .drop("_n")
    )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )
