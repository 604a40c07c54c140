"""Deterministic scroll/pagination semantics (SURVEY §2.1 S2-S4).

The reference consumes three live pagination protocols:

- CKAN ``package_search``: offset scroll, ``start += rows`` (page 50),
  stop on empty page (``findopendata/ckan/__init__.py:8-37``);
- Socrata discovery: cursor scroll, ``scroll_id := last result id``
  (``socrata_crawler.py:157-173``);
- Socrata SODA records: keyset pagination ``$order=:id $offset $limit``
  with limit 25 000 (``socrata/__init__.py:4-44``).

All three reduce to the same determinism anchor: a TOTAL ORDER over
records plus a page size — which is exactly a window rank. This module
re-expresses them as DataFrame ops so fixture-mode ingestion (and any
test) consumes a table with identical (page, slot) coordinates to what
the live scroller would see; the live path plugs the same coordinates
into the fetch UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from findopendata_spark.ranking import global_row_number


def paginate(
    df: DataFrame,
    order_cols: list[str],
    page_size: int = 50,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Assign (page, slot) scroll coordinates under a total order.

    ``partition_cols`` scopes the scroll (one scroll per endpoint, like
    one Celery task per API). page is 0-based, slot is 0-based within
    the page: record k in order → page k//page_size, slot k%page_size —
    byte-equal to the reference's offset scroll, and equal to cursor
    (scroll_id = last id) paging whenever order_cols start with the id.

    Without ``partition_cols`` the rank is still exact but computed
    scalably by :func:`findopendata_spark.ranking.global_row_number`.
    """
    order = [F.asc(c) for c in order_cols]
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(*order)
        out = df.withColumn("_rn", F.row_number().over(w) - 1)
    else:
        out = global_row_number(df, order, "_rn")
    rn = F.col("_rn")
    paged = out.withColumn("page", (rn / page_size).cast("int")).withColumn(
        "slot", (rn % page_size).cast("int")
    )
    return paged.drop("_rn")


def pages_in_scroll_order(paged: DataFrame, partition_cols: list[str] | None = None):
    """Iterator of page DataFrames in scroll order — the driver-side wave
    analog of the reference's while-loop over HTTP pages. Stops on the
    first empty page by construction (pages are dense)."""
    n_pages_row = paged.agg(F.max("page").alias("m")).collect()[0]
    if n_pages_row["m"] is None:
        return
    for p in range(int(n_pages_row["m"]) + 1):
        yield p, paged.filter(F.col("page") == p)
