"""Multimodal columns: opaque binary payloads + typed metadata.

Design for interleaved text+media documents (BASELINE.json input_hint):
media stays an opaque ``binary`` column (or a ``media_ref`` pointer into
a blob store) with typed metadata beside it, and every operator over it
is a JVM expression: no row crosses into Python.

This container ships no video library, so the per-frame decode is a
STUB: a sampled frame is represented by ``md5(payload || ':' || idx)``,
deterministic, so the DuckDB oracle replicates it exactly. A real
extractor replaces only that digest expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    nframes_col: str = "n_frames",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Evenly-spaced frame sampling over opaque video payloads: one row
    ``(doc_id, frame_idx, frame_digest)`` per sampled frame, with
    ``frame_idx = (j * n_frames) div k`` for j = 0..k-1, deduplicated (so
    a clip shorter than ``k`` yields every frame once, and a clip with
    fewer than one frame yields frame 0). A NULL payload has a NULL
    digest, as SQL's ``||`` gives."""
    n = F.greatest(F.col(nframes_col).cast("long"), F.lit(1))
    idx = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.floor(j * n / k).cast("int"),
    ))
    frames = df.select(
        id_col, payload_col, F.explode(idx).alias("frame_idx")
    )
    tag = F.concat(F.lit(":"), F.col("frame_idx").cast("string"))
    return frames.select(
        id_col,
        "frame_idx",
        F.md5(F.concat(F.col(payload_col), tag.cast("binary"))).alias(
            "frame_digest"
        ),
    )
