"""Seventh batch: nested Avro schema inference (S15 full) and the
dual-similarity "similar packages" ranking (J5 full) — the two serving
paths VERDICT r01 flagged as partial."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.functions.avro_infer import flatten_avro, infer_avro_schema
from findopendata_spark.registry import load, query


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
        WITH parts AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, length(lower(substr(text, 1, 40))) - 2),
                       i -> substr(lower(substr(text, 1, 40)), i, 3))) AS tg,
                   list_distinct(list_transform(
                       generate_series(1, greatest(
                           length(lower(substr(text, 41, 200))) - 2, 0)),
                       i -> substr(lower(substr(text, 41, 200)), i, 3))) AS dg
            FROM documents WHERE length(text) >= 80
        ), q AS (
            SELECT doc_id AS q_doc_id, tg AS qtg, dg AS qdg
            FROM parts ORDER BY doc_id LIMIT 1
        ), scored AS (
            SELECT doc_id,
                   round(CASE WHEN len(tg) + len(qtg)
                                   - len(list_intersect(tg, qtg)) > 0
                         THEN CAST(len(list_intersect(tg, qtg)) AS DOUBLE) /
                              (len(tg) + len(qtg) - len(list_intersect(tg, qtg)))
                         ELSE 0 END, 6) AS title_similarity,
                   round(CASE WHEN len(dg) + len(qdg)
                                   - len(list_intersect(dg, qdg)) > 0
                         THEN CAST(len(list_intersect(dg, qdg)) AS DOUBLE) /
                              (len(dg) + len(qdg) - len(list_intersect(dg, qdg)))
                         ELSE 0 END, 6) AS description_similarity
            FROM parts, q
            WHERE doc_id <> q_doc_id
        )
        SELECT doc_id, title_similarity, description_similarity
        FROM scored
        WHERE title_similarity > 0
        ORDER BY title_similarity DESC, description_similarity DESC, doc_id ASC
        LIMIT 10
    """)
def q41_similar_packages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-similarity similar-packages ranking (J5 full,
    ``apiserver/main.py:173-207``): candidates must trigram-match on
    title (the reference's ``q.title %% r.title`` theta-join), ranked by
    ``title_similarity DESC, description_similarity DESC``; top 10.

    Title/description are synthesized deterministically from the text
    column (head / tail split). Similarity = trigram-set Jaccard, the
    engine's q17 semantics — served from TWO posting-list indexes
    (title + description, the GIN analog in
    :mod:`findopendata_spark.sketch.trigram_index`): each probe is an
    IN-list filter + hash-agg over cached postings, no per-query corpus
    scan / cross join (the r02 plan re-trigrammed every doc per query).
    Byte-identical to the full scan.
    """
    from findopendata_spark.sketch.trigram_index import (
        similar_packages,
        trigram_index,
    )

    t_idx = trigram_index(spark, sf_dir, "title")
    d_idx = trigram_index(spark, sf_dir, "description")
    q_doc_id, q_tg = t_idx["query_row"]
    _, q_dg = d_idx["query_row"]
    return similar_packages(t_idx, d_idx, q_doc_id, q_tg, q_dg, limit=10)


# Stub vocabulary rule: a (lower/trim-normalized) value is
# in-vocabulary iff any whitespace token has >= 3 chars; VEC_DIM=16.
@query(r"""
        WITH rec AS (
            SELECT 'lang' AS column_name, lower(trim(lang)) AS v FROM documents
            UNION ALL
            SELECT 'mod7', lower(trim(CAST(doc_id % 7 AS VARCHAR)))
            FROM documents
            UNION ALL
            SELECT 'words', lower(trim(substring(text, 1, 30))) FROM documents
        ), flags AS (
            SELECT column_name, v,
                   (v <> '' AND len(list_filter(
                        string_split_regex(v, '\s+'),
                        t -> length(t) >= 3)) = 0) AS is_oov,
                   (v <> '' AND len(list_filter(
                        string_split_regex(v, '\s+'),
                        t -> length(t) >= 3)) > 0) AS is_in
            FROM rec
        )
        SELECT 'documents' AS file_id, column_name,
               CAST(count(*) AS BIGINT) AS count,
               CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT)
                   AS out_of_vocabulary_count,
               CAST(sum(CASE WHEN is_in THEN 1 ELSE 0 END) AS BIGINT)
                   AS in_vocabulary_count,
               (sum(CASE WHEN is_in THEN 1 ELSE 0 END) > 0) AS has_wv_data,
               CASE WHEN sum(CASE WHEN is_in THEN 1 ELSE 0 END) > 0
                    THEN 16 ELSE -1 END AS wv_dim
        FROM flags GROUP BY column_name
    """)
def q42_word_vector_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-vector sketch fields (A8 full, ``create_sketch_tables.sql:
    27-48`` + ``column_sketch.py:127-146,188-197``): sketches built with
    ``enable_word_vector_data`` carry per-column OOV counts and the mean
    data vector. The oracle checks the value-level quantities under the
    documented stub vocabulary rule (a value is in-vocabulary iff any
    whitespace token has >= 3 chars); vector payloads are engine-hash
    material, pinned by pytest instead.
    """
    from findopendata_spark.config import SketchConfig
    from findopendata_spark.sketch.column_sketch import sketch_columns

    docs = load(spark, sf_dir, "documents")
    rec = docs.selectExpr(
        "doc_id as ingest_key",
        "stack(3, 'lang', lang, 'mod7', cast(doc_id % 7 as string), "
        "'words', substring(text, 1, 30)) as (column_name, val)",
    ).withColumn("file_id", F.lit("documents"))
    cfg = SketchConfig(enable_word_vector_data=True)
    sk = sketch_columns(rec, cfg, n_salts=4)
    return sk.select(
        "file_id",
        "column_name",
        "count",
        "out_of_vocabulary_count",
        (F.col("count") - F.col("empty_count") - F.col("out_of_vocabulary_count"))
        .alias("in_vocabulary_count"),
        F.col("word_vector_data").isNotNull().alias("has_wv_data"),
        F.coalesce(F.size("word_vector_data"), F.lit(-1)).alias("wv_dim"),
    )
