"""Headline queries over the driver testdata tables (TESTDATA.md).

Each query demonstrates an operator family from SURVEY.md §2 and has a
DuckDB-oracle SQL twin in ORACLE_SQL (same column names/aliases — the
driver's correctness gate hashes values after sorting columns by name).

Every query registers with its oracle where it is defined
(:func:`findopendata_spark.registry.query`). This module imports
``queries2``-``queries9`` so all of them are registered, then publishes
``QUERIES`` and ``ORACLE_SQL`` sorted by name.

Design rules for oracle-stability:
- every aggregate/computed column is aliased identically on both sides;
- doubles are ``round()``-ed (2dp for sums, 4dp for ratios/similarities);
- timestamps are rendered as strings (engine timestamp formatting differs);
- ties in top-k are broken by a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the other query modules register their queries when imported
from findopendata_spark import (  # noqa: F401
    queries2,
    queries3,
    queries4,
    queries5,
    queries6,
    queries7,
    queries8,
    queries9,
)
from findopendata_spark.functions.urls import canonicalize_url, canonicalize_url_sql
from findopendata_spark.registry import REGISTRY, QueryFn, load, query

# ---------------------------------------------------------------- scans/aggs

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
        SELECT user_id, event_id, round(value, 4) AS value, rn
        FROM (
            SELECT user_id, event_id, value, ts,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY value DESC, ts ASC, event_id ASC
                   ) AS rn
            FROM events
        )
        WHERE rn <= 3
    """)
def q05_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via window row_number (SURVEY §2.5 W1)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.round("value", 4).alias("value"), "rn")
    )


@query("""
        SELECT event_type,
               count(*) AS cnt,
               round(sum(value), 2) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """)
def q06_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-counter aggregation shape (SURVEY §2.4 A3/A9)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query("""
        SELECT md5(lower(trim(text))) AS fp,
               count(*) AS n,
               min(doc_id) AS keeper_doc_id
        FROM documents
        GROUP BY fp
    """)
def q07_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (training-data op: dedup-exact).

    Normalize (``column_sketch.py:171-174`` semantics) → md5 → groupBy.
    At 100 TB this is a single hash-agg shuffle on the fingerprint.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper_doc_id"))
    )


_MESSY_URL_SQL = (
    "concat('HTTPS://Portal-', lang, '.Example.ORG:443/data/', source, "
    "'/?z=', CAST(doc_id % 7 AS VARCHAR), '&a=', CAST(doc_id % 3 AS VARCHAR), "
    "'#section')"
)


@query(f"""
    WITH m AS (SELECT doc_id, {_MESSY_URL_SQL} AS url_raw FROM documents)
    SELECT doc_id, url_raw, {canonicalize_url_sql('url_raw')} AS url_canon
    FROM m
""")
def q08_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization end-to-end (SURVEY §2.7 C2, north rule).

    Synthesizes messy URLs deterministically from document columns
    (uppercase scheme/host, default port, trailing slash, unsorted query,
    fragment), then canonicalizes with pure column expressions.
    """
    docs = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTPS://Portal-"),
        F.col("lang"),
        F.lit(".Example.ORG:443/data/"),
        F.col("source"),
        F.lit("/?z="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&a="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("#section"),
    )
    return docs.select(
        "doc_id",
        messy.alias("url_raw"),
        canonicalize_url(messy).alias("url_canon"),
    )


@query("""
        SELECT doc_id, n_chars,
               len(string_split(trim(text), ' ')) AS n_tokens,
               len(list_distinct(string_split(trim(text), ' '))) AS n_uniq_tokens
        FROM documents
    """)
def q09_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / doc stats (training-data op: text analysis)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
    )


@query("""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN len(string_split(trim(text), ' ')) >= 50
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_docs
        FROM documents
        GROUP BY lang
    """)
def q10_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language distribution + quality gate (training-data op)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), " "))
    return (
        docs.withColumn("n_tokens", toks)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.when(F.col("n_tokens") >= 50, 1).otherwise(0)).alias(
                "n_quality_docs"
            ),
        )
    )


@query("""
        WITH q AS (
            SELECT embedding::DOUBLE[] AS q_emb FROM embeddings
            ORDER BY vec_id LIMIT 1
        )
        SELECT vec_id,
               round(
                   list_dot_product(embedding::DOUBLE[], q_emb) /
                   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                    sqrt(list_dot_product(q_emb, q_emb))), 4
               ) AS cos_sim
        FROM embeddings, q
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """)
def q11_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (training-data op: similarity).

    The dot product runs as a sequential fold (``F.aggregate``) over the
    zipped arrays in double precision — JVM-side, deterministic, and
    bit-identical to the DuckDB oracle's left-to-right loop.
    """
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    qrow = F.broadcast(
        emb.orderBy("vec_id").limit(1).select(F.col("emb_d").alias("q_emb"))
    )
    dot = F.aggregate(
        F.zip_with("emb_d", "q_emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        emb.crossJoin(qrow)
        .select(
            "vec_id",
            F.round(dot / (norm(F.col("emb_d")) * norm(F.col("q_emb"))), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@query("""
        SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
                                       * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type,
               count(*) AS cnt,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY win_start, event_type
    """)
def q12_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-min window aggregation (SURVEY §2.8 streaming analog).
    ``ts`` is a naive parquet timestamp, read as ``TIMESTAMP_NTZ``: the
    window start and its wall-clock rendering stay in NTZ, so the result
    does not depend on the session time zone."""
    ev = load(spark, sf_dir, "events")
    win = F.date_format(
        F.window("ts", "5 minutes").start, "yyyy-MM-dd HH:mm:ss"
    )
    return (
        ev.withColumn("win_start", win)
        .groupBy("win_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
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


# published sorted by name (q01 ... q51), so the order queries() returns
# does not depend on which query module was imported first
QUERIES: dict[str, QueryFn] = {n: REGISTRY[n][0] for n in sorted(REGISTRY)}
ORACLE_SQL: dict[str, str] = {n: REGISTRY[n][1] for n in sorted(REGISTRY)}

# explicit raise, not assert (ADVICE r05): the 50-entry registry contract
# (the grading driver records only the first 50 rows) must hold under
# `python -O` too, where asserts are stripped.
if len(QUERIES) != 50 or set(QUERIES) != set(ORACLE_SQL):
    raise RuntimeError(
        f"query registry contract broken: {len(QUERIES)} queries, "
        f"oracle-key delta {set(QUERIES) ^ set(ORACLE_SQL)}"
    )
