"""Tests for scroll pagination (S2-S4) and the distributed global rank."""

from __future__ import annotations

from pyspark.sql import functions as F

from findopendata_spark.ranking import global_row_number
from findopendata_spark.sources.scroll import paginate, pages_in_scroll_order


def test_paginate_matches_offset_scroll(spark):
    df = spark.createDataFrame(
        [("ep1", i) for i in range(7)] + [("ep2", i) for i in range(3)],
        "endpoint string, rec_id long",
    )
    paged = paginate(df, ["rec_id"], page_size=3, partition_cols=["endpoint"])
    got = {
        (r["endpoint"], r["rec_id"]): (r["page"], r["slot"])
        for r in paged.collect()
    }
    # reference semantics: start += rows, in-page order by the total order
    for ep, n in (("ep1", 7), ("ep2", 3)):
        for k in range(n):
            assert got[(ep, k)] == (k // 3, k % 3)


def test_pages_in_scroll_order(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "rec_id long")
    paged = paginate(df, ["rec_id"], page_size=4)
    seen = []
    for p, page_df in pages_in_scroll_order(paged):
        ids = sorted(r["rec_id"] for r in page_df.collect())
        seen.append((p, ids))
    assert seen == [(0, [0, 1, 2, 3]), (1, [4, 5, 6, 7]), (2, [8, 9])]


def test_global_row_number_has_no_unpartitioned_window(spark):
    """The global rank over many range partitions is exact, and every
    Window in its physical plan has partition keys (one without logs "No
    Partition Defined for Window operation" on every call)."""
    df = spark.range(0, 1000, 1, 7).select(
        (F.col("id") * 7919 % 1000).alias("k")
    )
    out = global_row_number(df, [F.asc("k")], "rn")
    assert all(r["rn"] == r["k"] for r in out.collect())

    def nodes(plan):
        yield plan
        kids = plan.children()
        for i in range(kids.size()):
            yield from nodes(kids.apply(i))

    windows = [
        n for n in nodes(out._jdf.queryExecution().sparkPlan())
        if n.nodeName() == "Window"
    ]
    assert windows
    assert [w.partitionSpec().isEmpty() for w in windows] == [False] * len(windows)
