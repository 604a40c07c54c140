"""Multimodal queries (training-data ops; SURVEY §2.7 scalar functions):
binary payload manifests and evenly spaced video frame sampling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.registry import load, query


@query("""
        SELECT doc_id,
               CASE WHEN source = 'web' THEN 'image'
                    WHEN source = 'api' THEN 'audio'
                    ELSE 'text' END AS media_kind,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """)
def q20_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads + typed metadata
    (training-data op). Payload here is the encoded text (the container
    has no image libs); byte length and digest are computed on the real
    binary column."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    kind = (
        F.when(F.col("source") == "web", "image")
        .when(F.col("source") == "api", "audio")
        .otherwise("text")
    )
    return docs.select(
        "doc_id",
        kind.alias("media_kind"),
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


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
