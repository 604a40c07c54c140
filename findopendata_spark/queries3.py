"""Third batch of driver-contract queries: dedup / text-analysis /
scalar-function operators (SURVEY §2.7, training-data ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.dedup import (
    md5_simhash64,
    near_dup_pairs,
    spread_scan,
)
from findopendata_spark.functions.text import sanitize_filename, strip_html
from findopendata_spark.registry import load, query
from findopendata_spark.text_analysis import (
    LANG_MARKERS,
    PUNCT_CLASS,
    bpe_token_count,
    lang_id,
    quality_features,
    quality_score,
    tokens,
)

_EN = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_PUNCT_SQL = PUNCT_CLASS.replace("'", "''")  # SQL string-literal escaping


@query(f"""
        WITH t AS (
            SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len({_TOKS}) - 4, 0)),
                i -> array_to_string({_TOKS}[i:i+4], ' '))) AS sh
            FROM documents
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                     6) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE len(a.sh) + len(b.sh) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """)
def q22_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact shingle-set verify
    (training-data dedup op). The oracle is a full O(n^2) exact pairwise
    scan — the LSH path must find exactly the same >= 0.5 pairs (the
    corpus separates at ~0.88 vs ~0.02, so banding recall is ~1)."""
    docs = load(spark, sf_dir, "documents")
    return near_dup_pairs(docs, threshold=0.5, num_perm=128, shingle_n=5)


# Exact SimHash twin: same md5-derived 60-bit token hash, same
# sign-of-sum rule per bit, computed with set algebra in DuckDB.
@query(f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), th AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(1, 15),
                       p -> CAST(strpos('0123456789abcdef',
                                        substr(md5(tok), p, 1)) - 1 AS BIGINT)
                            << (4 * (15 - p)))) AS BIGINT) AS h
            FROM toks
        ), bits AS (
            SELECT doc_id, t.b AS bit,
                   sum(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM th CROSS JOIN generate_series(0, 59) AS t(b)
            GROUP BY doc_id, t.b
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    """)
def q23_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document over md5-derived 60-bit token hashes.

    The token hash is the first 15 hex chars of md5(token) parsed as an
    integer — a deterministic hash both engines share, so the DuckDB
    oracle recomputes the identical SimHash exactly (bit b of the
    fingerprint = sign of the ±1 sum over the token multiset). The
    engine side stays vectorized: hashing is JVM-side (md5 + conv inside
    ``transform``), the bit-sum fold is the numpy ``simhash64`` kernel.
    (xxhash64-based SimHash — the cheaper production variant — keeps its
    property tests in tests/test_modules.py.)

    r06: served by the fused ``md5_simhash64`` kernel — tokenize + md5 +
    sign-fold in one ``mapInPandas`` pass with per-batch token
    factorization (md5 once per distinct token), replacing the
    interpreted JVM ``transform(md5+conv)`` (guide §4.2; bit-exact).
    """
    docs = load(spark, sf_dir, "documents")
    return md5_simhash64(docs)


@query(f"""
        WITH f AS (
            SELECT doc_id, text,
                   len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
                   length(text) AS n_chars,
                   length(text) - length(regexp_replace(text,
                       '{_PUNCT_SQL}', '', 'g')) AS punct,
                   len(list_intersect(
                       string_split_regex(lower(trim(text)), '\\s+'),
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
        f"CAST(len(list_intersect({_TOKS}, "
        f"[{', '.join(repr(m) for m in ms)}])) AS DOUBLE) / "
        f"greatest(len({_TOKS}), 1)"
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


@query("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
                   AS n_bpe_tokens,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT)
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
