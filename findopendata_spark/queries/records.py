"""Record and metadata queries (SURVEY §2.1 sources/sinks, §2.7 scalar
functions, §2.4 aggregations): URL canonicalization, flat and nested
schema inference, JSON field pulls, export manifests, token rotation and
ordered string aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.functions.avro_infer import flatten_avro, infer_avro_schema
from findopendata_spark.functions.urls import canonicalize_url, canonicalize_url_sql
from findopendata_spark.registry import load, query


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
        WITH head AS (
            SELECT * FROM documents ORDER BY doc_id LIMIT 25000
        ), rec AS (
            SELECT 'lang' AS column_name, lang AS val FROM head
            UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM head
            UNION ALL SELECT 'doc_id', CAST(doc_id AS VARCHAR) FROM head
        )
        SELECT column_name,
               CASE WHEN sum(CASE WHEN try_cast(val AS BIGINT) IS NULL
                                   AND val IS NOT NULL THEN 1 ELSE 0 END) = 0
                    THEN 'long'
                    WHEN sum(CASE WHEN try_cast(val AS DOUBLE) IS NULL
                                   AND val IS NOT NULL THEN 1 ELSE 0 END) = 0
                    THEN 'double'
                    ELSE 'string' END AS inferred_type,
               (sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) > 0) AS nullable
        FROM rec GROUP BY column_name
    """)
def q31_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded schema inference (S15, ``parsers/avro.py:83-113``): per
    column over a 25k-record head, infer {long, double, string} + a
    nullable union flag — the genson fold as one hash-agg."""
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(25_000)
    rec = docs.selectExpr(
        "stack(3, 'lang', lang, 'n_chars', cast(n_chars as string), "
        "'doc_id', cast(doc_id as string)) as (column_name, val)"
    )
    return rec.groupBy("column_name").agg(
        F.when(
            F.sum(F.when(F.col("val").try_cast("long").isNull()
                         & F.col("val").isNotNull(), 1).otherwise(0)) == 0,
            "long",
        )
        .when(
            F.sum(F.when(F.col("val").try_cast("double").isNull()
                         & F.col("val").isNotNull(), 1).otherwise(0)) == 0,
            "double",
        )
        .otherwise("string")
        .alias("inferred_type"),
        (F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)) > 0).alias("nullable"),
    )


@query("""
        SELECT source, lang, count(*) AS n_docs, min(doc_id) AS first_doc,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source, lang
    """)
def q32_resource_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-manifest shape (S17, ``sql/export_column_sketches.sql``):
    per (source, lang) roll-up with keys for a JSONL dump."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.sum("n_chars").alias("total_chars"),
    )


@query("""
        SELECT event_type,
               CAST(floor(coalesce(try_cast(json_extract_string(props, '$.k')
                                            AS BIGINT), -1) / 10) AS BIGINT)
                   AS k_bucket,
               count(*) AS cnt,
               round(avg(coalesce(try_cast(json_extract_string(props, '$.k')
                                           AS BIGINT), -1)), 4) AS avg_k
        FROM events GROUP BY event_type, k_bucket
    """)
def q33_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field pulls with defaults (C12, ``metadata.py:48-67``):
    extract props.k, bucket it, aggregate."""
    from findopendata_spark.dedup import spread_scan

    # spread the single-row-group events scan: the per-row JSON parse
    # otherwise runs on one task (guide §2.5)
    ev = spread_scan(load(spark, sf_dir, "events"), ["event_type", "props"])
    k = F.coalesce(
        F.get_json_object("props", "$.k").try_cast("long"), F.lit(-1)
    )
    # project the JSON pull ONCE: with `k` inlined in both k_bucket and
    # avg(k), the plan parsed every props payload twice per row (no CSE
    # across the aggregate boundary) — measured 3.5 s -> ~2 s at sf1.0
    return (
        ev.select("event_type", k.alias("_k"))
        .withColumn("k_bucket", F.floor(F.col("_k") / 10).cast("long"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("_k"), 4).alias("avg_k"),
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


# Value-dependent types recomputed via DuckDB's own fold; structure
# rows (record/array) follow from the construction; nullable is the
# reference's unconditional ["null", T] rule.
@query("""
        WITH vals AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(doc_id AS VARCHAR) END AS amount_v,
                   CAST(doc_id / 7.0 AS VARCHAR) AS score_v,
                   CASE WHEN doc_id % 5 <> 0
                        THEN CAST(doc_id + 0.5 AS VARCHAR) END AS lat_v,
                   CASE WHEN doc_id % 5 <> 0
                        THEN CAST(doc_id % 360 - 180 AS VARCHAR) END AS lon_v
            FROM documents
        ), t AS (
            -- JSON's integer-vs-number split is LEXICAL (a decimal point
            -- makes it "number"), so the fold tests the rendered form;
            -- DuckDB try_cast would round '0.5' to BIGINT successfully.
            SELECT
              CASE WHEN sum(CASE WHEN amount_v IS NOT NULL
                                  AND NOT regexp_matches(amount_v, '^-?[0-9]+$')
                                 THEN 1 ELSE 0 END) = 0
                   THEN 'long' ELSE 'double' END AS amount_t,
              CASE WHEN sum(CASE WHEN NOT regexp_matches(score_v, '^-?[0-9]+$')
                                 THEN 1 ELSE 0 END) = 0
                   THEN 'long' ELSE 'double' END AS score_t,
              CASE WHEN sum(CASE WHEN lat_v IS NOT NULL
                                  AND NOT regexp_matches(lat_v, '^-?[0-9]+$')
                                 THEN 1 ELSE 0 END) = 0
                   THEN 'long' ELSE 'double' END AS lat_t,
              CASE WHEN sum(CASE WHEN lon_v IS NOT NULL
                                  AND NOT regexp_matches(lon_v, '^-?[0-9]+$')
                                 THEN 1 ELSE 0 END) = 0
                   THEN 'long' ELSE 'double' END AS lon_t
            FROM vals
        )
        SELECT path, avro_type, true AS nullable FROM (
            SELECT 'username' AS path, 'string' AS avro_type FROM t
            UNION ALL SELECT 'amount', amount_t FROM t
            UNION ALL SELECT 'score', score_t FROM t
            UNION ALL SELECT 'location', 'record' FROM t
            UNION ALL SELECT 'location.latitude', lat_t FROM t
            UNION ALL SELECT 'location.longitude', lon_t FROM t
            UNION ALL SELECT 'tags', 'array<string>' FROM t
        )
    """)
def q40_nested_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSON→Avro schema inference (S15, ``parsers/avro.py:24-53``).

    Synthesizes nested JSON records from documents (optional scalar,
    nested object present in ~80% of records, array field), folds them
    with the distributed variant aggregation, and emits the flattened
    (path, avro_type, nullable) projection of the inferred tree. The
    oracle recomputes every value-dependent type with its own
    independent fold (try_cast aggregates over the same constructed
    values); nullable is always true (reference wraps every field in a
    ["null", T] union, ``avro.py:30-35``).
    """
    docs = load(spark, sf_dir, "documents")
    js = F.to_json(
        F.struct(
            F.concat(F.col("source"), F.lit("-"), F.col("doc_id").cast("string"))
            .alias("username"),
            F.when(F.col("doc_id") % 3 == 0, F.col("doc_id")).alias("amount"),
            (F.col("doc_id") / 7.0).alias("score"),
            F.when(
                F.col("doc_id") % 5 != 0,
                F.struct(
                    (F.col("doc_id") + 0.5).alias("latitude"),
                    (F.col("doc_id") % 360 - 180).alias("longitude"),
                ),
            ).alias("location"),
            F.array(F.col("lang")).alias("tags"),
        )
    )
    j = docs.select(F.col("doc_id").alias("i"), js.alias("js"))
    schema = infer_avro_schema(
        j, "js",
        field_names=["username", "amount", "score", "location", "tags"],
        order_col="i",
    )
    rows = flatten_avro(schema)
    return spark.createDataFrame(
        rows, "path string, avro_type string, nullable boolean"
    )


@query("""
        SELECT lang,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang
    """)
def q48_source_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct string aggregation per group (LISTAGG /
    string_agg shape): deterministic via sort-before-join."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
            "sources"
        ),
        F.countDistinct("source").alias("n_sources"),
    )
