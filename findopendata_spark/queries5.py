"""Fifth batch: embedding-cosine near-dup (training-data op — the
vector-space sibling of the MinHash text dedup in queries3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.registry import load, query


@query("""
        WITH d AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        )
        SELECT x.label, x.vec_id AS a, y.vec_id AS b,
               round(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 4) AS cos_sim
        FROM d x JOIN d y ON x.label = y.label AND x.vec_id < y.vec_id
        WHERE list_dot_product(x.v, y.v) /
              (sqrt(list_dot_product(x.v, x.v)) *
               sqrt(list_dot_product(y.v, y.v))) >= 0.35
    """)
def q34_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with metadata blocking.

    Blocking on `label` keeps the pair space O(sum block^2) instead of
    O(n^2); :func:`findopendata_spark.embedding.embedding_near_dup`
    additionally sub-blocks any label above ``block_cap`` by IVF cell
    (skew guard — a dominant label cannot re-create all-pairs; pytest
    covers the 90%-skew case). The cap is not binding on the balanced
    driver tables, so this query stays exact and the oracle checks the
    full within-label pair set. Dot products fold left-to-right in
    double precision, matching the DuckDB oracle bit-for-bit.
    """
    from findopendata_spark.embedding import embedding_near_dup

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    return embedding_near_dup(emb, threshold=0.35, block_cap=1000)
