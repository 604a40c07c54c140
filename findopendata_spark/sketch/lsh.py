"""MinHash LSH banding + joinable-column search (SURVEY §2.3 J7, §3.4).

The reference runs a Go LSH server: an in-memory MinHash LSH index built
at startup over indexable column sketches with threshold 0.1
(``lshserver/main.go:23,26-82``), probed per query over HTTP, followed by
exact Jaccard + containment verification and a bounded heap top-k in the
API server (``apiserver/main.py:417-477``).

Spark re-expression — the index is a *bands table*:

    sketch row → b rows (band_idx, band_hash = hash(minhash[i*r:(i+1)*r]))

and a probe is an equi-join on (band_idx, band_hash) followed by the
same verify + top-k, all JVM-side (zip_with for hash-equality counts, a
window for top-k). At scale the bands table is the shuffle-free
precomputed index the Go server rebuilds in RAM on every boot.

Every MinHash banding in the package goes through :func:`bands_table`:
the near-dup operator (``dedup.near_dup_pairs``) bands its document
signatures with it too, so a document signature and a column sketch
built from the same permutations land in the same buckets. The two
joinable-column searches share one candidate generator
(:func:`_candidates`) and one ranked top-k (:func:`_top_k`); only their
verify steps differ.

(b, r) come from the standard weighted FP/FN-probability minimization
(Leskovec/Rajaraman/Ullman, MMDS ch.3 — the same construction datasketch
uses), re-derived here by numeric integration.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from findopendata_spark.config import SketchConfig
from findopendata_spark.registry import load
from findopendata_spark.session import cached, session_cache
from findopendata_spark.sketch.column_sketch import column_values, sketch_columns


@lru_cache(maxsize=None)
def optimal_param(
    threshold: float, num_perm: int, fp_weight: float = 0.5, fn_weight: float = 0.5
) -> tuple[int, int]:
    """(bands, rows) minimizing fp_weight*P(FP) + fn_weight*P(FN)."""
    best, opt = float("inf"), (1, num_perm)
    trapz = getattr(np, "trapezoid", None) or np.trapz
    xs = np.linspace(0, 1, 501)
    for b in range(1, num_perm + 1):
        max_r = num_perm // b
        for r in range(1, max_r + 1):
            probs = 1.0 - (1.0 - xs**r) ** b
            fp = trapz(np.where(xs <= threshold, probs, 0.0), xs)
            fn = trapz(np.where(xs > threshold, 1.0 - probs, 0.0), xs)
            err = fp_weight * fp + fn_weight * fn
            if err < best:
                best, opt = err, (b, r)
    return opt


def indexable(sketches: DataFrame) -> DataFrame:
    """The LSH indexability predicate (``lshserver/main.go:27-32``)."""
    return sketches.filter(
        (F.col("count") != F.col("empty_count"))
        & (F.col("distinct_count") >= 10)
        & (
            F.col("distinct_count")
            >= 0.9 * (F.col("count") - F.col("empty_count"))
        )
    )


def bands_table(
    sketches: DataFrame, b: int, r: int, id_cols: tuple[str, ...] = ("file_id", "column_name")
) -> DataFrame:
    """Explode each sketch into b (band_idx, band_hash) rows — JVM only."""
    hashes = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda i: F.hash(F.slice(F.col("minhash"), i * r + 1, r)),
    )
    return sketches.select(
        *id_cols, F.posexplode(hashes).alias("band_idx", "band_hash")
    )


def minhash_jaccard_expr(a, b, k: int):
    """Exact LeanMinHash-style Jaccard: fraction of equal hashvalues (C8)."""
    eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return F.aggregate(eq, F.lit(0), lambda acc, e: acc + e) / F.lit(float(k))


def containment_expr(j, x, q):
    """Reference containment formula with edge cases (C9,
    ``apiserver/main.py:408-414``)."""
    x, q = x.cast("double"), q.cast("double")
    general = F.greatest(
        j, F.least(F.least(x, q) / q, j * (F.lit(1.0) + x) / (F.lit(1.0) - j))
    )
    return (
        F.when(j == 1.0, F.lit(1.0))
        .when((j == 0.0) | (x == 0.0) | (q == 0.0), F.lit(0.0))
        .otherwise(general)
    )


def _candidates(
    query_sketches: DataFrame,
    index_sketches: DataFrame,
    num_perm: int,
    threshold: float,
    original_hosts: list[str] | None,
    host_col: str = "file_id",
) -> DataFrame:
    """Distinct (q_file_id, q_column_name, file_id, column_name) pairs
    whose sketches share a band bucket: indexable index columns only,
    never from the query's own file (``apiserver/main.py:456-458``),
    optionally restricted to ``original_hosts`` (F8,
    ``apiserver/main.py:452-454``)."""
    b, r = optimal_param(threshold, num_perm)
    idx = indexable(index_sketches)
    if original_hosts is not None:
        idx = idx.filter(F.col(host_col).isin(list(original_hosts)))
    q_bands = bands_table(query_sketches, b, r).withColumnsRenamed(
        {"file_id": "q_file_id", "column_name": "q_column_name"}
    )
    i_bands = bands_table(idx, b, r)
    return (
        q_bands.join(i_bands, ["band_idx", "band_hash"])
        .filter(F.col("q_file_id") != F.col("file_id"))  # self-exclusion SO3
        .select("q_file_id", "q_column_name", "file_id", "column_name")
        .distinct()
    )


def _top_k(verified: DataFrame, k: int) -> DataFrame:
    """The ``k`` best verified candidates per query column: containment
    desc, then (file_id, column_name) asc; jaccard and containment
    rounded to 6 places."""
    w = Window.partitionBy("q_file_id", "q_column_name").orderBy(
        F.desc("containment"), F.asc("file_id"), F.asc("column_name")
    )
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_file_id", "q_column_name", "file_id", "column_name",
            F.round("jaccard", 6).alias("jaccard"),
            F.round("containment", 6).alias("containment"),
            "rank",
        )
    )


def joinable_column_search(
    query_sketches: DataFrame,
    index_sketches: DataFrame,
    num_perm: int = 256,
    threshold: float = 0.1,
    k: int = 50,
    original_hosts: list[str] | None = None,
    host_col: str = "file_id",
) -> DataFrame:
    """Top-k joinable columns per query column (J7 + W1 end to end).

    Returns (q_file_id, q_column_name, file_id, column_name, jaccard,
    containment, rank). Excludes candidates from the query's own file
    (``apiserver/main.py:456-458``). ``original_hosts`` restricts
    candidates to the given host list (F8, ``apiserver/main.py:452-454``
    — ``AND p.original_host in %s``); ``host_col`` names the sketch
    column that carries the host.
    """
    cand = _candidates(
        query_sketches, index_sketches, num_perm, threshold, original_hosts,
        host_col,
    )
    qs = query_sketches.select(
        F.col("file_id").alias("q_file_id"),
        F.col("column_name").alias("q_column_name"),
        F.col("minhash").alias("q_minhash"),
        F.col("distinct_count").alias("q_size"),
    )
    xs = index_sketches.select(
        "file_id", "column_name", "minhash",
        F.col("distinct_count").alias("x_size"),
    )
    j = minhash_jaccard_expr(F.col("q_minhash"), F.col("minhash"), num_perm)
    verified = (
        cand.join(qs, ["q_file_id", "q_column_name"])
        .join(xs, ["file_id", "column_name"])
        .withColumn("jaccard", j)
        .withColumn(
            "containment",
            containment_expr(F.col("jaccard"), F.col("x_size"), F.col("q_size")),
        )
    )
    return _top_k(verified, k)


def joinable_column_search_exact(
    query_sketches: DataFrame,
    index_sketches: DataFrame,
    values: DataFrame,
    num_perm: int = 256,
    threshold: float = 0.1,
    k: int = 50,
    original_hosts: list[str] | None = None,
) -> DataFrame:
    """LSH candidate generation + *exact* set verification.

    Same candidate pipeline as :func:`joinable_column_search` (bands
    equi-join, indexability, self-exclusion, host filter), but the
    verify stage computes Jaccard and containment exactly from the
    indexed value sets ``values`` (file_id, column_name, v: each
    column's distinct normalized values, ``column_sketch.column_values``),
    then drops candidates below ``threshold`` — so the output is fully
    deterministic and SQL-expressible (q16's DuckDB oracle checks it
    with set algebra; the reference's estimate-based verify lives in
    :func:`joinable_column_search`). Column sizes are value counts.

    Scale shape: one pass over the candidate columns' values (the LSH
    prefilter bounds it), each left-joined against the broadcast query
    column values; per candidate, the row count is |X| and the matched
    count |X ∩ Q|, so a zero-overlap candidate scores 0 rather than
    vanishing. True containment |X ∩ Q| / |Q| replaces the reference's
    MinHash-derived approximation (``apiserver/main.py:408-414``).
    """
    cand = _candidates(
        query_sketches, index_sketches, num_perm, threshold, original_hosts
    )
    q_vals = values.join(
        query_sketches.select("file_id", "column_name"),
        ["file_id", "column_name"],
    ).select(
        F.col("file_id").alias("q_file_id"),
        F.col("column_name").alias("q_column_name"),
        "v",
        F.lit(True).alias("_in_q"),
    )
    q_sizes = q_vals.groupBy("q_file_id", "q_column_name").agg(
        F.count(F.lit(1)).alias("q_size")
    )
    verified = (
        cand.join(values, ["file_id", "column_name"])
        # probe-sized: broadcast, so the plan never hinges on AQE stage order
        .join(F.broadcast(q_vals), ["q_file_id", "q_column_name", "v"], "left")
        .groupBy("q_file_id", "q_column_name", "file_id", "column_name")
        .agg(
            F.count(F.lit(1)).alias("x_size"),
            F.count("_in_q").alias("inter"),
        )
        .join(q_sizes, ["q_file_id", "q_column_name"])
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("x_size") + F.col("q_size") - F.col("inter")),
        )
        .withColumn("containment", F.col("inter").cast("double") / F.col("q_size"))
        .filter(F.col("jaccard") >= threshold)
    )
    return _top_k(verified, k)


def dockey_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q16's corpus as sketch records: one "dockey" column per source
    (file_id), plus the q_probe file duplicating the lexicographically
    first source's column."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        F.col("source").alias("file_id"),
        F.lit("dockey").alias("column_name"),
        F.col("doc_id").alias("ingest_key"),
        F.col("doc_id").cast("string").alias("val"),
    )
    probe = base.join(
        base.select(F.min("file_id").alias("file_id")), "file_id"
    ).withColumn("file_id", F.lit("q_probe"))
    return base.unionByName(probe)


def sketch_store(spark: SparkSession, sf_dir: str):
    """(value sets, sketches) of :func:`dockey_records`, built once per
    session and sf_dir: the store q16 and the catalog-less serving path
    probe. The reference persists column_sketches once
    (``sql/create_sketch_tables.sql:13-51``) and its join-search API only
    probes them (``apiserver/main.py:408-458``); at 100 TB this cache is
    the `column_sketches` and `column_values` tables a crawl appends."""
    def build():
        records = dockey_records(spark, sf_dir)
        sk = cached(sketch_columns(records, SketchConfig(), n_salts=4))
        values = cached(column_values(records))
        sk.count()  # materialize the store once
        values.count()
        return values, sk

    return session_cache(spark, (sf_dir,), build)
