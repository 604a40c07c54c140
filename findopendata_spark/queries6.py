"""Sixth batch: SQL-surface breadth — rollup/grouping sets, correlated
EXISTS semi-join, multi-distinct aggregation (beyond the reference's own
SQL, which never uses these — SURVEY §2.4 notes the gap; a user
switching from Postgres still expects them)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.registry import load, query


@query("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)
def q35_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping ids."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n",
        )
    )


@query("""
        SELECT c_mktsegment, count(*) AS n_customers
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        GROUP BY c_mktsegment
    """)
def q36_exists_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS semi-join (the reference's `id IN %s` J6 shape
    generalized): customers with at least one urgent order, per segment."""
    customer = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """)
def q37_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one pass (expand-based plan)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query("""
        SELECT n_name,
               count(DISTINCT l_orderkey) AS n_orders,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """)
def q38_supplier_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + two-level agg: orders shipped per supplier nation."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query("""
        SELECT source,
               ascii(substr(md5(source), 1, 1)) % 3 AS token_idx,
               count(*) AS n_requests
        FROM documents GROUP BY source, token_idx
    """)
def q39_token_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic API-token rotation (W5 — the reference rotates
    Socrata app tokens randomly, ``socrata_crawler.py:149-153``; we pin
    it to a hash of the host so retries reuse the same token)."""
    docs = load(spark, sf_dir, "documents")
    token_idx = F.ascii(F.substring(F.md5(F.col("source")), 1, 1)) % 3
    return (
        docs.select("source", token_idx.alias("token_idx"))
        .groupBy("source", "token_idx")
        .agg(F.count(F.lit(1)).alias("n_requests"))
    )
