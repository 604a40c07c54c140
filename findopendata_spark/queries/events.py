"""Event-stream queries (SURVEY §2.5 windows, §2.8 streaming analogs,
§2.4 aggregations, §2.3 joins): per-user top-k and moving averages,
type counters, tumbling and session windows, and the AS-OF join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from findopendata_spark.registry import load, query


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
        WITH marked AS (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM marked GROUP BY user_id
    """)
def q21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via 30-min gap rule (streaming-state analog,
    SURVEY §2.8) — lag + running sum of session starts."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("""
        SELECT user_id, event_id,
               round(avg(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS mavg5
        FROM events
    """)
def q44_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate: per-user 5-event moving average of
    value (ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("mavg5"),
    )


@query("""
        WITH o AS (
            SELECT o_orderkey, o_custkey % 50 AS key, o_orderdate
            FROM orders
        ), e AS (
            SELECT user_id % 50 AS key, ts, event_id FROM events
        ), ranked AS (
            SELECT o.o_orderkey, o.key, e.ts, e.event_id,
                   row_number() OVER (
                       PARTITION BY o.o_orderkey
                       ORDER BY e.ts DESC, e.event_id DESC) AS rn
            FROM o LEFT JOIN e
              ON o.key = e.key AND e.ts <= o.o_orderdate
        )
        SELECT o_orderkey, key,
               event_id AS last_event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_event_ts
        FROM ranked WHERE rn = 1
    """)
def q45_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for every order, the latest event in its key bucket
    with ts <= o_orderdate (ties broken by highest event_id).

    Spark has no ASOF JOIN operator; the scalable re-expression is the
    union-and-window merge: tag both sides, sort each key bucket once by
    (ts, side, event_id), and carry the last-seen event struct forward
    with ``last(ignorenulls)`` — one shuffle on the key, no range join,
    no per-order probe. The DuckDB oracle computes the same pairs with
    an explicit ranked range join (its native ASOF JOIN leaves ties
    unspecified, so the oracle ranks deterministically instead).
    """
    ev = load(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("key"),
        F.col("ts"),
        F.lit(0).alias("is_order"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    orders = load(spark, sf_dir, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(50)).alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    merged = ev.unionByName(orders)
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "is_order", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "last_ev",
        F.last(
            F.when(
                F.col("is_order") == 0, F.struct("ts", "event_id")
            ),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.filter(F.col("is_order") == 1)
        .select(
            "o_orderkey",
            "key",
            F.col("last_ev.event_id").alias("last_event_id"),
            F.date_format("last_ev.ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_event_ts"
            ),
        )
    )
