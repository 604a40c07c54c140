"""Ninth batch: round-3 operators — SimHash near-dup pairs (the
band-of-bits candidate join VERDICT r02 flagged as the missing half of
dedup.py's design) and the trained-IVF quantizer surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.dedup import (
    allpairs_jaccard_pairs,
    md5_simhash64,
    simhash_near_dup_pairs,
)
from findopendata_spark.registry import load, query
from findopendata_spark.session import cached

# Shared with q23's oracle: md5-derived 60-bit token hash, sign-of-sum
# SimHash — then an exact all-pairs Hamming scan (the oracle may be
# O(n^2); the engine must not be).
_SIMHASH_CTE = """
    toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
            AS tok
        FROM documents
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
    ), sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
"""


@query(f"""
        WITH {_SIMHASH_CTE}
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """)
def q49_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming <= 3 via 4x15-bit
    band-of-bits buckets (training-data dedup op; reference candidate
    analog ``lshserver/main.go:116-148``).

    Candidate recall is exactly 1 by pigeonhole (3 differing bits cannot
    ruin all 4 disjoint bands), so the result equals the O(n^2) scan the
    DuckDB oracle runs — while the engine only joins band buckets."""
    docs = load(spark, sf_dir, "documents")
    # Skew guard 1: drop zero-token docs BEFORE signing — they all share
    # simhash 0 and would rebuild an O(n^2) bucket in every band (the
    # oracle drops them too: unnest of an empty token list yields no
    # rows). Guard 2, for adversarial/boilerplate corpora, is the
    # bucket_cap knob on simhash_near_dup_pairs (left unset here so the
    # pigeonhole-exact result matches the O(n^2) oracle scan;
    # tests/test_modules.py exercises it on a 10k-identical-doc corpus).
    # size(hashes) > 0 is EXACTLY text IS NOT NULL (split of a non-null
    # string always yields >= 1 token — whitespace-only text keeps its
    # single '' token on BOTH engines), so filter on the base column:
    # it pushes down into the parquet scan instead of re-evaluating the
    # md5 token transform inside the predicate (VERDICT r04 noted the
    # extra token-array scan as q49's regression).
    # r06: signatures come from the fused md5_simhash64 kernel (tokenize
    # + md5-per-distinct-token + sign fold in one mapInPandas pass,
    # replacing the interpreted JVM transform(md5+conv) — guide §4.2).
    # The band self-join references the signature frame on both sides;
    # cached, the kernel runs ONCE instead of once per join side
    # (measured r06: q49 10.4 s -> ~4 s at sf1.0, guide §2.4).
    sigs = cached(md5_simhash64(docs.filter(F.col("text").isNotNull())))
    return simhash_near_dup_pairs(sigs, max_hamming=3, n_bands=4)


@query("""
        WITH v AS (
            SELECT doc_id, text,
                   CAST(doc_id % 240 + 1 AS BIGINT) AS n_frames
            FROM documents
        ), idx AS (
            SELECT doc_id, text,
                   unnest(list_distinct(list_transform(
                       generate_series(0, 7),
                       j -> CAST((j * n_frames) // 8 AS INT)))) AS frame_idx
            FROM v
        )
        SELECT doc_id, frame_idx,
               md5(text || ':' || CAST(frame_idx AS VARCHAR)) AS frame_digest
        FROM idx
    """)
def q50_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (training-data op): synthesize a video
    manifest from documents (payload = encoded text, n_frames = doc_id %
    240 + 1), sample 8 evenly-spaced frames per clip with the one-
    expression sampler (``multimodal.sample_frames``). The stubbed
    per-frame digest (md5(payload || ':' || idx)) is deterministic, so
    the DuckDB oracle replicates the whole operator."""
    from findopendata_spark.multimodal import sample_frames

    docs = load(spark, sf_dir, "documents")
    clips = docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        (F.col("doc_id") % 240 + 1).cast("long").alias("n_frames"),
    )
    return sample_frames(clips, k=8)


@query("""
        WITH t AS (
            SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(
                    len(string_split_regex(lower(trim(text)), '\\s+')) - 2,
                    0)),
                i -> array_to_string(
                    string_split_regex(lower(trim(text)), '\\s+')[i:i+2],
                    ' '))) AS g
            FROM documents
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                     (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))),
                     6) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE len(a.g) > 0 AND len(b.g) > 0
          AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.6
    """)
def q51_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard near-dup pairs (J >= 0.6) via prefix
    filtering (AllPairs) — the sketch-free dedup mode. Unlike q22
    (MinHash, probabilistic recall), this plan is provably exact while
    still avoiding the O(n^2) cross join: candidates come from an
    equi-join on rarest-prefix grams + a size-ratio filter; only those
    pairs are verified. The DuckDB oracle IS the O(n^2) scan."""
    docs = load(spark, sf_dir, "documents")
    return allpairs_jaccard_pairs(docs, threshold=0.6, shingle_n=3)
