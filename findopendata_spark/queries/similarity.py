"""Similarity and search queries (SURVEY §2.3 J5/J7, §2.4 A3-A8, §2.5
W1/W2): embedding cosine top-k and IVF ANN search, column sketches and
LSH joinable-column search, first-n samples, trigram similarity, similar
packages and BM25 keyword search.

MinHash/LSH internals are not SQL-expressible; their parity tests live
in tests/test_sketch.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from findopendata_spark.config import SketchConfig
from findopendata_spark.embedding import ivf_index, ivf_oracle_with, ivf_topk
from findopendata_spark.ranking import bm25_rank
from findopendata_spark.registry import load, query
from findopendata_spark.sketch.column_sketch import sketch_columns
from findopendata_spark.sketch.lsh import joinable_column_search_exact, sketch_store
from findopendata_spark.text_analysis import TOKENS_SQL


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


def _doc_records(docs: DataFrame) -> DataFrame:
    """Unpivot documents into the long (file, column, ingest_key, val)
    shape the sketcher consumes (reference: parsed record streams,
    ``indexing.py:21-56``). Bounded-cardinality columns only, so the
    distinct-count rule stays in its exact (< sample_size) branch."""
    return docs.selectExpr(
        "doc_id as ingest_key",
        "stack(3, 'lang', lang, 'source', source, "
        "'mod7', cast(doc_id % 7 as string)) as (column_name, val)",
    ).withColumn("file_id", F.lit("documents"))


@query("""
        WITH rec AS (
            SELECT doc_id AS ingest_key, 'lang' AS column_name,
                   lower(trim(lang)) AS v FROM documents
            UNION ALL
            SELECT doc_id, 'source', lower(trim(source)) FROM documents
            UNION ALL
            SELECT doc_id, 'mod7', lower(trim(CAST(doc_id % 7 AS VARCHAR)))
            FROM documents
        )
        SELECT 'documents' AS file_id, column_name,
               CAST(count(*) AS BIGINT) AS count,
               CAST(sum(CASE WHEN v = '' THEN 1 ELSE 0 END) AS BIGINT)
                   AS empty_count,
               CAST(sum(CASE WHEN v <> '' AND try_cast(v AS DOUBLE) IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS numeric_count,
               (sum(CASE WHEN v <> '' AND try_cast(v AS DOUBLE) IS NOT NULL
                         THEN 1 ELSE 0 END)
                >= 0.5 * (count(*) - sum(CASE WHEN v = '' THEN 1 ELSE 0 END)))
                   AS is_numeric,
               CAST(count(DISTINCT CASE WHEN v <> '' THEN v END) AS BIGINT)
                   AS distinct_count
        FROM rec GROUP BY column_name
    """)
def q14_column_sketch_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full column-sketch counter set via the sketch engine (A3/A4 rules:
    count/empty/numeric/is_numeric/distinct, ``column_sketch.py:72-125``)."""
    sk = sketch_columns(_doc_records(load(spark, sf_dir, "documents")),
                        SketchConfig(), n_salts=4)
    return sk.select(
        "file_id", "column_name", "count", "empty_count", "numeric_count",
        "is_numeric", "distinct_count",
    )


@query("""
        WITH firsts AS (
            SELECT lang, source, doc_id,
                   row_number() OVER (PARTITION BY lang, source
                                      ORDER BY doc_id) AS _occ
            FROM documents
        )
        SELECT lang, source, arrival_rank FROM (
            SELECT lang, source,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       AS arrival_rank
            FROM firsts WHERE _occ = 1
        ) WHERE arrival_rank <= 3
    """)
def q15_first_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-3-distinct-in-arrival-order per group (A6 semantics,
    ``column_sketch.py:181-183`` — order-sensitive, pinned by ingest key)."""
    docs = load(spark, sf_dir, "documents")
    w_first = Window.partitionBy("lang", "source").orderBy("doc_id")
    w_rank = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.withColumn("_occ", F.row_number().over(w_first))
        .filter(F.col("_occ") == 1)
        .withColumn("arrival_rank", F.row_number().over(w_rank))
        .filter(F.col("arrival_rank") <= 3)
        .select("lang", "source", "arrival_rank")
    )


# Exact-verified search: the only >= 0.1 candidate is the duplicated
# min(source) column (cross-source dockey sets are disjoint), so the
# oracle computes the exact set quantities directly.
@query("""
        WITH vals AS (
            SELECT DISTINCT source AS file_id,
                   lower(trim(CAST(doc_id AS VARCHAR))) AS v
            FROM documents
        ), probe AS (
            SELECT v FROM vals
            WHERE file_id = (SELECT min(source) FROM documents)
        ), sizes AS (
            SELECT file_id, count(*) AS x_size FROM vals GROUP BY file_id
        ), qn AS (
            SELECT count(*) AS q_size FROM probe
        ), inter AS (
            SELECT file_id, count(*) AS inter
            FROM vals JOIN probe USING (v) GROUP BY file_id
        ), scored AS (
            SELECT s.file_id,
                   CAST(coalesce(i.inter, 0) AS DOUBLE) /
                       (s.x_size + qn.q_size - coalesce(i.inter, 0)) AS jaccard,
                   CAST(coalesce(i.inter, 0) AS DOUBLE) / qn.q_size
                       AS containment
            FROM sizes s CROSS JOIN qn
            LEFT JOIN inter i USING (file_id)
        )
        SELECT 'q_probe' AS q_file_id, 'dockey' AS q_column_name,
               file_id, 'dockey' AS column_name,
               round(jaccard, 6) AS jaccard,
               round(containment, 6) AS containment,
               row_number() OVER (ORDER BY containment DESC, file_id ASC)
                   AS rank
        FROM scored
        WHERE jaccard >= 0.1
        QUALIFY rank <= 10
    """)
def q16_joinable_column_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded joinable-column search, exact-verified (J7/C8/C9/W1).

    Candidate generation is MinHash banding (engine-internal, parity
    pinned by tests/test_sketch.py); the verify stage computes Jaccard
    and true containment exactly from the store's distinct normalized
    value sets and drops candidates below threshold, so the emitted quantities are
    SQL-expressible and the DuckDB oracle checks them exactly (set
    algebra over grouped distinct values).

    Column construction: per-source "dockey" columns (near-unique →
    passes the indexability predicate F7, ``lshserver/main.go:27-32``);
    the probe file duplicates the lexicographically-first source's
    column, so the only >= threshold hit (J=1, containment 1) is
    deterministic — LSH recall for identical sets is exactly 1 (equal
    signatures collide in every band).
    """
    values, sk = sketch_store(spark, sf_dir)
    qf = sk.filter(F.col("file_id") == "q_probe")
    return joinable_column_search_exact(qf, sk, values, threshold=0.1, k=10)


@query("""
        WITH g AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, length(lower(text)) - 2),
                       i -> substr(lower(text), i, 3))) AS g
            FROM documents WHERE length(text) >= 3
        ), q AS (
            SELECT doc_id AS q_doc_id, g AS qg FROM g ORDER BY doc_id LIMIT 1
        )
        SELECT doc_id,
               round(CAST(len(list_intersect(g, qg)) AS DOUBLE) /
                     (len(g) + len(qg) - len(list_intersect(g, qg))), 6)
                   AS trigram_jaccard
        FROM g, q
        WHERE doc_id <> q_doc_id
        ORDER BY trigram_jaccard DESC, doc_id ASC
        LIMIT 10
    """)
def q17_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-set Jaccard similarity search (J5 — the reference's pg_trgm
    ``%`` probe, ``apiserver/main.py:173-207``), query doc vs corpus.

    Served from the posting-list index (the GIN analog,
    :mod:`findopendata_spark.sketch.trigram_index`): the query's grams
    become an IN-list filter over cached postings + one hash-agg —
    exact |g ∩ q| per doc, NO per-query corpus scan and no cross join
    (the r02 plan re-trigrammed and intersected every document per
    query; the r03 plan still left-joined the corpus-wide sizes table
    into every probe — now zero-jaccard fillers are fetched only when
    fewer than k docs share a gram). Output byte-identical to the full
    scan."""
    from findopendata_spark.sketch.trigram_index import (
        trigram_index,
        trigram_topk,
    )

    idx = trigram_index(spark, sf_dir, "text")
    q_doc_id, q_grams = idx["query_row"]
    top = trigram_topk(idx, q_doc_id, q_grams, k=10, round_digits=6)
    return (
        top.select("doc_id", F.col("jaccard").alias("trigram_jaccard"))
        .orderBy(F.desc("trigram_jaccard"), F.asc("doc_id"))
    )


_Q29_TERMS = ("data", "table", "query", "spark")


@query("""
        WITH tf AS (
            SELECT doc_id,
                   """ + ", ".join(
                       f"len(list_filter({TOKENS_SQL}, x -> x = '{t}')) AS tf_{t}"
                       for t in _Q29_TERMS
                   ) + """
            FROM documents
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   """ + ", ".join(
                       f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) "
                       f"AS DOUBLE) AS df_{t}"
                       for t in _Q29_TERMS
                   ) + """
            FROM tf
        )
        SELECT doc_id, round(
            """ + " + ".join(
                f"(CAST(tf_{t} AS DOUBLE) / (tf_{t} + 1.2)) * "
                f"ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5))"
                for t in _Q29_TERMS
            ) + """, 4) AS score
        FROM tf CROSS JOIN stats
        WHERE round(
            """ + " + ".join(
                f"(CAST(tf_{t} AS DOUBLE) / (tf_{t} + 1.2)) * "
                f"ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5))"
                for t in _Q29_TERMS
            ) + """, 4) > 0
        ORDER BY score DESC, doc_id ASC
        LIMIT 20
    """)
def q29_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search with BM25-lite ranking (W2 — the reference's FTS
    ``ts_rank_cd`` cover-density rank, ``apiserver/main.py:128-166``),
    top-20.

    score = Σ_t  tf_t/(tf_t + 1.2) · ln(1 + (N - df_t + 0.5)/(df_t + 0.5))

    — the classic BM25 term-frequency saturation × Robertson idf (no
    length norm; the corpus is near-constant length). Document
    frequencies come from one corpus aggregate; the DuckDB oracle
    recomputes the identical quantities, so the score is exact on both
    sides (round 4dp)."""
    docs = load(spark, sf_dir, "documents")
    return bm25_rank(docs, _Q29_TERMS, limit=20)[0]


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


# q46 oracle: trained quantizer (shared CTE) + probe 2 cells + exact
# top-10 — identical math to ivf_topk over the ivf_index tables.
@query(f"""
    WITH {ivf_oracle_with()},
    q AS (
        SELECT vec_id AS q_id, v AS qv FROM e ORDER BY vec_id LIMIT 1
    ), probe AS (
        SELECT q_id, qv, c_id AS cell FROM (
            SELECT q.q_id, q.qv, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_dot_product(q.qv, c.c) /
                                (sqrt(list_dot_product(q.qv, q.qv)) *
                                 sqrt(list_dot_product(c.c, c.c)))
                                DESC, c.c_id ASC) AS rn
            FROM q CROSS JOIN cent c
        ) WHERE rn <= 2
    )
    SELECT q_id AS q_vec_id, vec_id, cos_sim,
           CAST(row_number() OVER (
               ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank
    FROM (
        SELECT p.q_id, a.vec_id,
               round(list_dot_product(a.v, p.qv) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(p.qv, p.qv))), 4) AS cos_sim
        FROM assigned a JOIN probe p ON a.cell = p.cell
        WHERE a.vec_id <> p.q_id
    )
    QUALIFY rank <= 10
""")
def q46_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search end-to-end: probe the query's 2 nearest of 8
    TRAINED cells (2 Lloyd's iterations, VERDICT r02 item 5), exact
    cosine top-10 within them — served from the session-cached centroid + precomputed assignment
    tables (``embedding.ivf_index``), so a probe never rescans or
    reassigns the corpus. Ties broken by (cos desc, id asc), ranking on
    the 4dp-rounded cosine."""
    idx = ivf_index(spark, sf_dir, n_cells=8, n_iter=2)
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    query = emb.orderBy("vec_id").limit(1)
    return ivf_topk(
        emb, query, k=10, n_probe=2,
        centroids=idx["centroids"], assigned=idx["assigned"],
    )
