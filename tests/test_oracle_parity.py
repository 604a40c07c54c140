"""Replicates the driver's correctness gate locally: every queries() entry
vs its DuckDB oracle at sf=0.01 — row count, column names, and exact
(sorted, order-insensitive) value equality.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # queries round explicitly; this only canonicalizes -0.0 / int-floats
        return round(v, 9)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


@pytest.mark.parametrize("name", list(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    oracle = entry_mod.oracle_sql().get(name)
    assert oracle, f"{name}: no oracle SQL"
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    assert len(spark_rows) > 0, f"{name}: empty result"
    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    s_cols, s_rows = _norm_rows(spark_cols, spark_rows)
    d_cols, d_rows = _norm_rows(duck_cols, duck_rows)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ][:5]
    assert not mismatches, f"{name}: value mismatches (first 5): {mismatches}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def _plan_nodes(plan):
    """Every node of a JVM logical plan, depth first."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_q51_gram_dictionary_rank_is_distributed(spark):
    """q51's gram dictionary assigns its dense codes with a
    range-partitioned rank: every Window over the grams has a partition
    spec (Spark runs an unpartitioned one in a single task); the only
    unpartitioned Window is the prefix sum over the one-row-per-partition
    count frame, ordered by the range-partition id. On the q51 corpus the
    codes equal those of the single-window rank over (df asc, gram asc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from findopendata_spark.dedup import gram_codes, shingle_sets

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    grams = shingle_sets(docs, "text", "doc_id", 3, out_col="g").select(
        F.explode(F.transform("g", lambda s: F.xxhash64(s))).alias("gram")
    )
    gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    codes = gram_codes(gram_df)
    windows = [
        n for n in _plan_nodes(codes._jdf.queryExecution().optimizedPlan())
        if n.nodeName() == "Window"
    ]
    partitioned = [w for w in windows if not w.partitionSpec().isEmpty()]
    assert partitioned, "the local per-partition rank is a window"
    for w in windows:
        if w.partitionSpec().isEmpty():
            order = w.orderSpec()
            keys = [order.apply(i).child().name() for i in range(order.size())]
            assert keys == ["_pid"], keys
    single = gram_df.select(
        "gram",
        (F.row_number().over(Window.orderBy(F.asc("df"), F.asc("gram")))
         - 1).cast("int").alias("code"),
    )
    got = {r["gram"]: r["code"] for r in codes.collect()}
    want = {r["gram"]: r["code"] for r in single.collect()}
    assert len(got) > 1000
    assert got == want
    assert sorted(got.values()) == list(range(len(got)))


def _plan_text(df) -> str:
    """The initial executed plan with expression and plan ids removed,
    so two builds of the same plan compare equal."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan)


def test_queries_leave_session_conf_and_plans_alone(spark, duck):
    """In a vanilla-like session (200 shuffle partitions, a US time zone)
    no query changes session conf, so a query's plan does not depend on
    which query ran before it; the timestamp queries match their oracles
    in that time zone without pinning one."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    vanilla = dict(zip(keys, ("200", "America/New_York")))
    found = {k: spark.conf.get(k) for k in keys}
    qs = entry_mod.queries()
    try:
        q01_plans = []
        for order in (("q14_column_sketch_counters", "q01_pricing_summary"),
                      ("q01_pricing_summary", "q14_column_sketch_counters")):
            for k, v in vanilla.items():
                spark.conf.set(k, v)
            for name in order:
                df = qs[name](spark, SF_DIR)
                if name == "q01_pricing_summary":
                    q01_plans.append(_plan_text(df))
                df.collect()
                assert {k: spark.conf.get(k) for k in keys} == vanilla, name
        assert q01_plans[0] == q01_plans[1]
        for name in ("q12_event_windows", "q21_sessionize",
                     "q44_moving_average", "q45_asof_join"):
            sdf = qs[name](spark, SF_DIR)
            res = duck.execute(entry_mod.oracle_sql()[name])
            got = _norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
            want = _norm_rows([d[0] for d in res.description], res.fetchall())
            assert got == want, name
    finally:
        for k, v in found.items():
            spark.conf.set(k, v)


def test_session_cached_indexes_ignore_shuffle_partitions(spark):
    """The session-cached index frames (sketch store, trigram postings,
    IVF index) have the same partition count whatever the session's
    shuffle partition count was when they were built."""
    from findopendata_spark import session
    from findopendata_spark.embedding import ivf_index
    from findopendata_spark.sketch.lsh import sketch_store
    from findopendata_spark.sketch.trigram_index import trigram_index

    def partitions() -> dict[str, int]:
        session._SESSION_CACHE.clear()
        spark.catalog.clearCache()
        values, sketches = sketch_store(spark, SF_DIR)
        frames = {"values": values, "sketches": sketches}
        frames.update(trigram_index(spark, SF_DIR, "text"))
        frames.update(ivf_index(spark, SF_DIR, n_cells=8, n_iter=2))
        del frames["query_row"]
        return {k: f.rdd.getNumPartitions() for k, f in frames.items()}

    key = "spark.sql.shuffle.partitions"
    found = spark.conf.get(key)
    got = {}
    try:
        for n in ("8", "200"):
            spark.conf.set(key, n)
            got[n] = partitions()
    finally:
        spark.conf.set(key, found)
        session._SESSION_CACHE.clear()
        spark.catalog.clearCache()
    assert got["8"] == got["200"], got


def test_q50_runs_without_python(spark):
    """q50's frame sampler is one JVM expression: no Python UDF or
    mapInPandas node in its physical plan."""
    plan = _plan_text(entry_mod.queries()["q50_frame_sample"](spark, SF_DIR))
    assert not [n for n in ("Python", "Pandas", "Arrow") if n in plan], plan


def test_q16_warm_call_job_count(spark):
    """A warm q16 call (sketch store cached) verifies against the
    store's value sets and runs a pinned number of Spark jobs, the same
    on every call: the query values are broadcast, so the order in which
    adaptive stages finish cannot add a shuffle (19 jobs when verify
    re-normalized the raw records and planned the candidates twice)."""
    q16 = entry_mod.queries()["q16_joinable_column_search"]
    want = q16(spark, SF_DIR).collect()
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None))
    assert q16(spark, SF_DIR).collect() == want
    assert max(tracker.getJobIdsForGroup(None)) - before == 10
