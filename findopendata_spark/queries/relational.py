"""Relational queries over the TPC-H tables (SURVEY §2.3 joins, §2.4
aggregations, §2.5 top-k, §2.6 set operations): filtered scans into hash
aggregates, broadcast fk join chains, semi- and anti-joins, global top-k,
multi-distinct aggregates and ROLLUP/CUBE grouping sets."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.registry import load, query


@query("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan → hash agg (SURVEY §2.4 A3 counters).

    Catalyst pushes the shipdate predicate into the parquet scan and the
    aggregation is partial+final (map-side combine) — no naked shuffle of
    raw rows.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("""
        SELECT r_name,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """)
def q02_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join chain region⋈nation⋈customer⋈orders (SURVEY §2.3 J3).

    region/nation are tiny dims — broadcast explicitly so the only shuffle
    is the customer⋈orders equi-join (and AQE may convert that too).
    """
    region = F.broadcast(load(spark, sf_dir, "region"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query("""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg → global top-k (SURVEY §2.5 W1): TakeOrdered, no full sort."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query("""
        SELECT p_partkey, strftime(last_ship_ts, '%Y-%m-%d') AS last_ship
        FROM part
        LEFT JOIN (
            SELECT l_partkey, max(l_shipdate) AS last_ship_ts
            FROM lineitem GROUP BY l_partkey
        ) ls ON p_partkey = l_partkey
        WHERE last_ship_ts IS NULL OR last_ship_ts < TIMESTAMP '2001-06-01'
    """)
def q04_needs_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental work-list join (SURVEY §2.3 J1).

    Reference shape: ``sketch_dataset_content.py:13-30`` — left join the
    registry against max(updated) per key, keep rows never done or stale.
    Here: parts whose last shipment is missing or older than a cutoff.
    """
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_partkey").agg(F.max("l_shipdate").alias("last_ship_ts"))
    return (
        part.join(last_ship, part.p_partkey == last_ship.l_partkey, "left")
        .filter(
            F.col("last_ship_ts").isNull()
            | (F.col("last_ship_ts") < F.lit("2001-06-01").cast("timestamp"))
        )
        .select(
            "p_partkey",
            F.date_format("last_ship_ts", "yyyy-MM-dd").alias("last_ship"),
        )
    )


@query("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000
        )
    """)
def q13_no_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join set difference (SURVEY §2.6 SO2/SO3 — URL-seen dedup shape)."""
    customer = load(spark, sf_dir, "customer")
    big_orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query("""
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """)
def q30_region_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way fk join chain (J4-shape, ``apiserver/main.py:210-254``):
    lineitem⋈orders⋈customer⋈nation⋈region⋈part, one-region filter
    pushed below the joins, broadcast dims."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = load(spark, sf_dir, "part")
    # r06 (guide §3.1): propagate the one-region filter UP the fk chain
    # as broadcasts instead of shuffling lineitem⋈orders. Every dim join
    # here is a key-unique fk lookup used only as a filter (no dim
    # columns survive to the output), so region→nation→customer→orders
    # reduce to key lists that stay broadcast-sized (orders keys ≈ 1/|R|
    # of orders), and lineitem is never shuffled at all — its only wide
    # operation is the 25-group final aggregate. Same join semantics:
    # key-unique inner fk joins neither duplicate nor drop beyond the
    # filter, so the aggregated multiset is identical.
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    asia_cust = customer.join(
        F.broadcast(asia_nations),
        customer.c_nationkey == asia_nations.n_nationkey,
    ).select("c_custkey")
    asia_orders = orders.join(
        F.broadcast(asia_cust), orders.o_custkey == asia_cust.c_custkey
    ).select("o_orderkey")
    return (
        li.join(F.broadcast(asia_orders), li.l_orderkey == asia_orders.o_orderkey)
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


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
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """)
def q47_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id (all four grouping-set combinations; q35
    covers ROLLUP) — Spark's grouping_id() bitmask matches DuckDB's
    GROUPING(a, b)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
            "gid",
        )
    )
