"""Text-analysis queries over documents (SURVEY §2.7 scalar functions,
§2.4 aggregations; training-data text ops): token counts, language ID,
quality scores, BPE-ish tokenization, filename and HTML cleaning, and
length percentiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.dedup import spread_scan
from findopendata_spark.functions.text import sanitize_filename, strip_html
from findopendata_spark.registry import load, query
from findopendata_spark.text_analysis import (
    LANG_MARKERS,
    PUNCT_CLASS,
    TOKENS_SQL,
    bpe_token_count,
    lang_id,
    quality_features,
    quality_score,
    tokens,
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


_EN = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
_PUNCT_SQL = PUNCT_CLASS.replace("'", "''")  # SQL string-literal escaping


@query(f"""
        WITH f AS (
            SELECT doc_id, text,
                   len({TOKENS_SQL}) AS n_tokens,
                   length(text) AS n_chars,
                   length(text) - length(regexp_replace(text,
                       '{_PUNCT_SQL}', '', 'g')) AS punct,
                   len(list_intersect(
                       {TOKENS_SQL},
                       [{_EN}])) AS stop_hits
            FROM documents
        )
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               round(CAST(punct AS DOUBLE) / greatest(n_chars, 1), 6)
                   AS punct_ratio,
               round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6)
                   AS stopword_ratio,
               round(
                 (CASE WHEN n_tokens >= 20 THEN 0.25 ELSE 0 END)
               + (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE)
                            / greatest(n_tokens, 1) BETWEEN 3 AND 12
                       THEN 0.25 ELSE 0 END)
               + (CASE WHEN CAST(punct AS DOUBLE) / greatest(n_chars, 1) <= 0.2
                       THEN 0.25 ELSE 0 END)
               + (CASE WHEN CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1)
                            >= 0.01 THEN 0.25 ELSE 0 END), 2) AS quality
        FROM f
    """)
def q24_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality gates + composite score."""
    # spread the single-row-group scan: the regex/token feature
    # expressions otherwise evaluate on one task (guide §2.5)
    docs = spread_scan(load(spark, sf_dir, "documents"), ["doc_id", "text"])
    f = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(quality_score(F.col("text")), 2).alias("quality"),
    )


# lang-ID oracle: same scores, same tie-break (earlier lang wins ties)
_SCORES = {
    lg: (
        f"CAST(len(list_intersect({TOKENS_SQL}, "
        f"[{', '.join(repr(m) for m in ms)}])) AS DOUBLE) / "
        f"greatest(len({TOKENS_SQL}), 1)"
    )
    for lg, ms in LANG_MARKERS.items()
}
_BEST = "greatest(" + ", ".join(_SCORES.values()) + ")"
_CASE = "CASE "
for lg in LANG_MARKERS:  # first match wins = earlier lang wins ties
    _CASE += f"WHEN {_BEST} > 0 AND {_SCORES[lg]} = {_BEST} THEN '{lg}' "
_CASE += "ELSE 'unknown' END"


@query(f"""
    SELECT {_CASE} AS lang_pred, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang_pred
""")
def q25_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic, aggregated per predicted lang."""
    docs = spread_scan(load(spark, sf_dir, "documents"), ["text"])
    return (
        docs.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
                   AS n_bpe_tokens,
               CAST(len({TOKENS_SQL}) AS INT)
                   AS n_ws_tokens
        FROM documents
    """)
def q26_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish) tokenizer counts vs whitespace counts.

    Whitespace counting uses the shared ``tokens`` regex tokenizer
    (split on ``\\s+``) so the engine and oracle tokenize identically —
    the single-literal-space split both sides used before was a latent
    divergence on multi-space runs (ADVICE r01/r02)."""
    docs = spread_scan(load(spark, sf_dir, "documents"), ["doc_id", "text"])
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
    )


@query("""
        WITH m AS (
            SELECT doc_id,
                   concat('My Report #', CAST(doc_id AS VARCHAR), ' (',
                          source, ').CSV') AS raw_name
            FROM documents
        )
        SELECT doc_id, raw_name,
               regexp_replace(
                   regexp_replace(trim(raw_name), '\\s+', '_', 'g'),
                   '[^-a-zA-Z0-9_.]', '', 'g') AS filename
        FROM m
    """)
def q27_sanitize_filenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename sanitization (C3, ``util.py:9-22``) on synthesized messy
    names."""
    docs = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("My Report #"), F.col("doc_id").cast("string"),
        F.lit(" ("), F.col("source"), F.lit(").CSV"),
    )
    return docs.select(
        "doc_id", messy.alias("raw_name"),
        sanitize_filename(messy).alias("filename"),
    )


@query("""
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(
                   concat('<h1>', substr(text, 1, 40), '</h1><p>body</p>'),
                   '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS title
        FROM documents
    """)
def q28_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML strip + whitespace collapse (C5, ``metadata.py:50-54``)."""
    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<h1>"), F.substring("text", 1, 40), F.lit("</h1><p>body</p>")
    )
    return docs.select("doc_id", strip_html(html).alias("title"))


@query("""
        SELECT lang, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.25), 4) AS p25,
               round(quantile_cont(n_chars, 0.50), 4) AS p50,
               round(quantile_cont(n_chars, 0.75), 4) AS p75
        FROM documents GROUP BY lang
    """)
def q43_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of document length per lang
    (``F.percentile`` = SQL PERCENTILE_CONT semantics; DuckDB twin is
    ``quantile_cont``)."""
    docs = load(spark, sf_dir, "documents")
    pct = F.percentile("n_chars", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.element_at(pct, 1), 4).alias("p25"),
            F.round(F.element_at(pct, 2), 4).alias("p50"),
            F.round(F.element_at(pct, 3), 4).alias("p75"),
        )
    )
