"""Ranking kernels: a distributed global row number under a total order
without a single-task window over the data, and BM25-lite keyword
ranking (q29 and the serving layer's keyword routes)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from findopendata_spark.session import cached
from findopendata_spark.text_analysis import tokens


def global_row_number(
    df: DataFrame, order: list[Column], out_col: str
) -> DataFrame:
    """``df`` plus ``out_col``: each row's 0-based position under the total
    order ``order`` (sort expressions).

    A naked ``Window.orderBy`` would ship EVERY row to one task. Instead
    the rows are range-repartitioned on the order keys, ranked locally
    per partition, and offset by the broadcast count of the rows in the
    partitions before their own, summed by a join over the tiny
    one-row-per-partition count frame: no window runs without a
    partition key, and no join is a nested loop."""
    d = df.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*order)
    d = d.withColumn("_lrn", F.row_number().over(w_local) - 1)
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # a partition's offset is the count of the partitions up to and
    # including it, less its own: an equi-join of the count frame with
    # itself over each pid's exploded range 0.._pid (P(P+1)/2 rows for P
    # partitions). Both sides read the same count aggregate, so Spark
    # reuses its exchange.
    upto = counts.select(F.col("_pid").alias("_p"), F.col("_n").alias("_pn"))
    offsets = (
        counts.withColumn("_p", F.explode(F.sequence(F.lit(0), F.col("_pid"))))
        .join(F.broadcast(upto), "_p")
        .groupBy("_pid", "_n")
        .agg((F.sum("_pn") - F.col("_n")).alias("_off"))
        .drop("_n")
    )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )


def bm25_rank(
    docs: DataFrame,
    terms,
    text_col: str = "text",
    id_col: str = "doc_id",
    limit: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """BM25-lite ranking kernel (shared by q29 and the serving layer):
    the ranked (id, score) frame, and the cached per-doc term-count frame
    it reads. Reruns of the same terms reuse that cache; a caller whose
    terms will not come back (a serving request) unpersists it.

    r06 shape: ONE tokenize+explode pass computes every per-doc term
    frequency as a codegen'd hash aggregate (`sum(when(tok = t))`), and
    both the document-frequency stats and the score read those counts.
    The r05 plan evaluated `size(filter(toks, x == t))` per term per row
    TWICE (stats pass + scoring pass) — ArrayFilter is CodegenFallback,
    so that was 2 x |terms| interpreted passes over every token array
    (measured 4.7 s at sf1.0; this shape is ~1.5 s). Docs containing no
    query term score exactly +0.0 (every term contributes sat = 0.0) and
    are dropped by the score > 0 gate on both shapes, so aggregating
    hits-only is result-identical; the score expression folds terms in
    the same order with the same arithmetic."""
    terms = list(dict.fromkeys(terms))  # unique, order-preserving
    if not terms:
        empty = docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
        return empty, empty
    from findopendata_spark.dedup import spread_scan  # dedup imports ranking

    toks = tokens(F.col(text_col))
    # cached: reused by the df stats and the scoring (hits-only, small)
    cnts = cached(
        # spread the single-row-group docs scan so the tokenize+explode
        # +partial-agg stage parallelizes (guide §2.5)
        spread_scan(docs, [id_col, text_col])
        .select(F.col(id_col), F.explode(toks).alias("_tok"))
        .filter(F.col("_tok").isin(terms))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.when(F.col("_tok") == t, 1).otherwise(0)).alias(
                    f"tf_{i}"
                )
                for i, t in enumerate(terms)
            ]
        )
    )
    n = float(docs.count())
    stats = cnts.agg(
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))],
    ).collect()[0]
    score = F.lit(0.0)
    for i, t in enumerate(terms):
        df_t = float(stats[f"df_{i}"] or 0)
        idf = F.log(F.lit(1.0 + (n - df_t + 0.5) / (df_t + 0.5)))
        tf_c = F.col(f"tf_{i}")
        sat = tf_c.cast("double") / (tf_c + F.lit(1.2))
        score = score + sat * idf
    ranked = (
        cnts.select(F.col(id_col), F.round(score, 4).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )
    return ranked, cnts
