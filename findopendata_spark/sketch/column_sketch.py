"""Column-sketch dataflow: one pass over long-form records → sketch rows.

Reference lifecycle (SURVEY §3.3): ``indexing.py:59-192`` streams ≤1M
records per file through ``TableSketch.update`` →
``ColumnSketch.update`` (``column_sketch.py:166-197``) and upserts one
row per (file, column) into ``column_sketches``
(``sql/create_sketch_tables.sql:13-51``).

Spark re-expression — three shuffles, no per-row Python:

1. **normalize + hash (JVM)**: :func:`normalized` — ``lower(trim(val))``
   (C1), empty/numeric flags (F5/F6) — then murmur3-32 + xxhash64 of the
   normalized value. SQL NULLs become the string ``"null"`` exactly like
   the reference's ``json.dumps(None)`` (``column_sketch.py:171-172``).
2. **partial sketch** (``applyInPandas`` over (file, col, salt)): numpy
   MinHash partial (K=256, seed 43 permutation table) + HLL registers.
   The salt bounds group size, so no single Python task ever holds a
   whole hot column — the same treatment the crawler gives hot hosts.
3. **final merge** (``applyInPandas`` over (file, col)): elementwise
   min/max of the partials + HLL estimate.
4. **counters + ordered sample (JVM)**: hash-agg counters; first-N
   distinct values in arrival order: each value's first ``ingest_key``
   as a hash aggregate, then one rank window
   (the reference's sample is a set filled in arrival order,
   ``column_sketch.py:181-183`` — order keys make that reproducible,
   SURVEY §7 hard-parts list).

This module owns every column-sketch rule, the value normalization
included: :func:`column_values` (each column's distinct value set, which
exact joinable-column search verifies against) applies the same
:func:`normalized` rule the sketch does. The fold is four functions:
:func:`_fold` (MinHash/HLL merge), :func:`_first_n` (arrival-order
sample), :func:`_sum_vec` (word-vector sums) and :func:`_finish` (every
derived field). :func:`sketch_columns` feeds them per-record partials;
:func:`merge_sketch_rows` feeds them the per-wave rows that incremental
index maintenance appends, so a merged sketch is the one-shot sketch of
the concatenated records.

Output column names mirror ``create_sketch_tables.sql:13-51``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from findopendata_spark.config import SketchConfig
from findopendata_spark.session import cached
from findopendata_spark.sketch.hll import hll_count, hll_partial
from findopendata_spark.sketch.minhash import MinHashPermutations, minhash_partial

_PARTIAL_SCHEMA = (
    "file_id string, column_name string, minhash array<long>, hll array<long>"
)
_FINAL_SCHEMA = (
    "file_id string, column_name string, "
    "minhash array<long>, hyperloglog array<long>, hll_estimate double"
)


def _partial_fn(cfg: SketchConfig):
    perms = MinHashPermutations(cfg.minhash_size, cfg.minhash_seed)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        mh = minhash_partial(pdf["h32"].to_numpy(np.int64), perms)
        hl = hll_partial(pdf["h64"].to_numpy(np.int64))
        return pd.DataFrame(
            {
                "file_id": [pdf["file_id"].iloc[0]],
                "column_name": [pdf["column_name"].iloc[0]],
                "minhash": [mh.astype(np.int64)],
                "hll": [hl],
            }
        )

    return fn


def _final_fn():
    """Elementwise min of MinHash partials, elementwise max of HLL
    registers, and the HLL estimate — the one sketch merge."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        mh = np.minimum.reduce(
            [np.asarray(v, dtype=np.uint64) for v in pdf["minhash"]]
        )
        hl = np.maximum.reduce([np.asarray(v, dtype=np.int64) for v in pdf["hll"]])
        return pd.DataFrame(
            {
                "file_id": [pdf["file_id"].iloc[0]],
                "column_name": [pdf["column_name"].iloc[0]],
                "minhash": [mh.astype(np.int64)],
                "hyperloglog": [hl],
                "hll_estimate": [hll_count(hl)],
            }
        )

    return fn


_WV_PARTIAL_SCHEMA = (
    "file_id string, column_name string, sum_vec array<double>, "
    "n_invocab long, n_oov long"
)


def _wv_partial_fn():
    """Per-(file, col, salt) word-vector partial: sum of per-value
    sum-vectors + in-vocab/oov value counts (reference
    ``column_sketch.py:188-197``: a value with no in-vocabulary token
    increments oov, otherwise its token-vector sum joins the running
    sum). Model = the lazy per-executor singleton from enrichment.py."""
    from findopendata_spark.enrichment import VEC_DIM, _load_model

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        model = _load_model()
        if hasattr(model, "_token_vectors"):
            # stub path: one flat token explode per group, segment flags
            tok_lists = pdf["v"].str.split()
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            n = len(pdf)
            acc = np.zeros(VEC_DIM, dtype=np.float64)
            n_in = n_oov = 0
            if lens.sum():
                flat = np.concatenate(
                    [np.asarray(t, dtype=object) for t in tok_lists]
                )
                vecs, ok = model._token_vectors(flat)
                acc = vecs.astype(np.float64).sum(axis=0)
                row_of = np.repeat(np.arange(n), lens)
                has_in = np.zeros(n, dtype=bool)
                has_in[row_of[ok]] = True
                n_in = int(has_in.sum())
                n_oov = n - n_in
            else:
                n_oov = n
        else:  # real model: per-value docs   # pragma: no cover
            acc = np.zeros(VEC_DIM, dtype=np.float64)
            n_in = n_oov = 0
            for v in pdf["v"]:
                vecs, _tok_oov = model.vectors(v.split())
                if len(vecs):
                    acc += vecs.sum(axis=0)
                    n_in += 1
                else:
                    n_oov += 1
        return pd.DataFrame(
            {
                "file_id": [pdf["file_id"].iloc[0]],
                "column_name": [pdf["column_name"].iloc[0]],
                "sum_vec": [acc],
                "n_invocab": [n_in],
                "n_oov": [n_oov],
            }
        )

    return fn


def _wv_name_vector(names: pd.Series) -> pd.Series:
    """word_vector_column_name: SUM of the column name's token vectors,
    None when no token is in vocabulary (``column_sketch.py:127-135``)."""
    from findopendata_spark.enrichment import _load_model

    model = _load_model()
    out = []
    for name in names:
        vecs, _ = model.vectors(str(name).lower().split())
        out.append([float(x) for x in vecs.sum(axis=0)] if len(vecs) else None)
    return pd.Series(out)


_KEY = ["file_id", "column_name"]


def normalized(records: DataFrame) -> DataFrame:
    """records(file_id, column_name, ingest_key, val) → (file_id,
    column_name, ingest_key, v, is_empty, is_numeric): the one value
    normalization, ``lower(trim(val))`` with a SQL NULL as ``"null"``.
    An empty ``v`` is counted but is never a value."""
    return records.select(
        "file_id",
        "column_name",
        "ingest_key",
        F.lower(F.trim(F.coalesce(F.col("val"), F.lit("null")))).alias("v"),
    ).withColumns(
        {
            "is_empty": F.length("v") == 0,
            # try_cast: ANSI mode (Spark 4 default) makes plain cast throw
            "is_numeric": F.col("v").try_cast("double").isNotNull(),
        }
    )


def column_values(records: DataFrame) -> DataFrame:
    """records → (file_id, column_name, v), each column's distinct
    :func:`normalized` non-empty values."""
    norm = normalized(records)
    return norm.filter(~F.col("is_empty")).select(*_KEY, "v").distinct()


def sketch_columns(
    records: DataFrame, cfg: SketchConfig | None = None, n_salts: int = 16
) -> DataFrame:
    """records(file_id, column_name, ingest_key, val) → one sketch row per
    (file_id, column_name), reference-rule semantics throughout. The
    normalized records are cached: counters, partials and firsts all
    read them."""
    return sketch_rows(cached(normalized(records)), cfg or SketchConfig(), n_salts)


def sketch_rows(
    r: DataFrame, cfg: SketchConfig, n_salts: int, keep_merge_state: bool = False
) -> DataFrame:
    """:func:`normalized` records → sketch rows; reads ``r`` three times.

    ``keep_merge_state`` additionally emits the raw mergeable word-vector
    accumulators (``wv_n_in``, ``wv_sum_vec``) so per-wave sketch rows can
    be combined EXACTLY by :func:`merge_sketch_rows` (``word_vector_data``
    alone loses the sum/count split to float division, which would break
    bit-parity with a full rebuild)."""
    # 4a. counters (reference properties: column_sketch.py:72-117)
    counters = r.groupBy(*_KEY).agg(
        F.count(F.lit(1)).alias("count"),
        F.sum(F.col("is_empty").cast("long")).alias("empty_count"),
        F.sum(
            (F.col("is_numeric") & ~F.col("is_empty")).cast("long")
        ).alias("numeric_count"),
    )

    salted = (
        r.filter(~F.col("is_empty"))
        .withColumns({"h32": F.hash("v"), "h64": F.xxhash64("v")})
        .withColumn("_salt", F.pmod(F.col("h64"), F.lit(n_salts)))
    )

    # 2-3. partial+final sketches
    partials = salted.groupBy(*_KEY, "_salt").applyInPandas(
        _partial_fn(cfg), _PARTIAL_SCHEMA
    )

    # 4b. first-N distinct values in arrival order (A6). First occurrence
    # per value = min(ingest_key) over (file, col, v) — identical to the
    # r05 row_number()==1 window but as a HASH aggregate: the map-side
    # partial agg collapses duplicate values before the exchange and no
    # full-record sort happens (guide §2.3 "aggregate before you
    # shuffle"); only the distinct set pays the rank window's sort.
    firsts = (
        r.filter(~F.col("is_empty"))
        .groupBy(*_KEY, "v")
        .agg(F.min("ingest_key").alias("_k"))
    )

    # word-vector state (A8): only behind enable_word_vector_data
    # (configs-example.yaml:62)
    wv = None
    if cfg.enable_word_vector_data:
        wv = (
            salted.groupBy(*_KEY, "_salt")
            .applyInPandas(_wv_partial_fn(), _WV_PARTIAL_SCHEMA)
            .groupBy(*_KEY)
            .agg(
                F.sum("n_invocab").alias("wv_n_in"),
                F.sum("n_oov").alias("out_of_vocabulary_count"),
                _sum_vec("sum_vec").alias("wv_sum_vec"),
            )
        )
    return _finish(
        counters, _first_n(firsts, cfg.column_sample_size), _fold(partials),
        wv, cfg, keep_merge_state,
    )


def merge_sketch_rows(rows: DataFrame, cfg: SketchConfig) -> DataFrame:
    """Combine per-wave sketch rows (from ``sketch_columns(...,
    keep_merge_state=True)`` + a ``wave`` column) into the exact sketch
    of the union of their inputs.

    The same fold as :func:`sketch_columns`, fed per-wave rows instead of
    per-record partials: counters and word-vector state are sums (rows
    sketched without word-vector data carry ``wv_n_in = 0``, so they
    merge to no ``word_vector_data``), MinHash and HLL go through
    :func:`_fold`, the sample is :func:`_first_n` with arrival = (wave,
    position in that wave's sample), and :func:`_finish` derives every
    value-dependent field. A value dropped from one wave's N-sized sample
    has >= N distinct predecessors in that wave alone, so it can never
    enter the merged first-N."""
    counters = rows.groupBy(*_KEY).agg(
        *[F.sum(c).alias(c) for c in ("count", "empty_count", "numeric_count")]
    )
    sketches = _fold(
        rows.filter(F.col("minhash").isNotNull()).select(
            *_KEY,
            "minhash",
            F.col("hyperloglog").alias("hll"),
        )
    )
    firsts = (
        rows.select(*_KEY, "wave", F.posexplode("sample").alias("pos", "v"))
        .groupBy(*_KEY, "v")
        .agg(F.min(F.struct("wave", "pos")).alias("_k"))
    )
    wv = rows.groupBy(*_KEY).agg(
        F.sum("wv_n_in").alias("wv_n_in"),
        F.sum("out_of_vocabulary_count").alias("out_of_vocabulary_count"),
        _sum_vec("wv_sum_vec").alias("wv_sum_vec"),
    )
    return _finish(
        counters, _first_n(firsts, cfg.column_sample_size), sketches, wv, cfg
    )


def _fold(partials: DataFrame) -> DataFrame:
    """(file_id, column_name, minhash, hll) partial sketches → one
    merged MinHash/HLL row per (file_id, column_name)."""
    return partials.groupBy(*_KEY).applyInPandas(_final_fn(), _FINAL_SCHEMA)


def _first_n(firsts: DataFrame, n: int) -> DataFrame:
    """(file_id, column_name, v, _k) distinct values keyed by first
    arrival → (file_id, column_name, sample): the first ``n`` values in
    arrival order."""
    w_rank = Window.partitionBy(*_KEY).orderBy("_k")
    return (
        firsts.withColumn("_rank", F.row_number().over(w_rank))
        .filter(F.col("_rank") <= n)
        .groupBy(*_KEY)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_rank", "v"))),
                lambda s: s["v"],
            ).alias("sample")
        )
    )


def _sum_vec(col: str) -> Column:
    """Elementwise sum of a word-vector array column over a group."""
    return F.array(
        *[F.sum(F.element_at(col, i + 1)) for i in range(_wv_dim())]
    )


def _finish(
    counters: DataFrame,
    samples: DataFrame,
    sketches: DataFrame,
    wv: DataFrame | None,
    cfg: SketchConfig,
    keep_merge_state: bool = False,
) -> DataFrame:
    """Sketch rows from merged state: counters (count, empty_count,
    numeric_count), the :func:`_first_n` sample, the :func:`_fold`
    sketch and the word-vector state ``wv`` (wv_n_in,
    out_of_vocabulary_count, wv_sum_vec; None when no word-vector data
    was sketched). Every derived field is computed here and nowhere
    else."""
    out = (
        counters.join(samples, _KEY, "left")
        .join(sketches, _KEY, "left")
        .withColumn(
            "sample", F.coalesce("sample", F.array().cast("array<string>"))
        )
        # distinct-count rule, column_sketch.py:119-125
        .withColumn(
            "distinct_count",
            F.when(
                F.size("sample") < cfg.column_sample_size,
                F.size("sample").cast("long"),
            ).otherwise(
                F.greatest(
                    F.size("sample").cast("long"),
                    F.round("hll_estimate").cast("long"),
                )
            ),
        )
        # is_numeric rule (>=50% of non-empty), column_sketch.py:111-117
        .withColumn(
            "is_numeric",
            F.when(F.col("count") - F.col("empty_count") == 0, F.lit(False))
            .otherwise(
                F.col("numeric_count")
                >= 0.5 * (F.col("count") - F.col("empty_count"))
            ),
        )
        .withColumn("seed", F.lit(cfg.minhash_seed).cast("long"))
    )

    # word-vector fields (A8, create_sketch_tables.sql:27-48):
    # word_vector_column_name always; word_vector_data + oov accounting
    # only with word-vector state
    name_vec = F.pandas_udf(_wv_name_vector, "array<double>")
    out = out.withColumn(
        "word_vector_column_name", name_vec(F.col("column_name"))
    )
    if wv is not None:
        out = (
            out.join(wv, _KEY, "left")
            .withColumn(
                "word_vector_data",
                F.when(
                    F.col("wv_n_in") > 0,
                    F.transform("wv_sum_vec", lambda x: x / F.col("wv_n_in")),
                ),
            )
            .withColumn(
                "out_of_vocabulary_count",
                F.coalesce("out_of_vocabulary_count", F.lit(0)).cast("long"),
            )
            .withColumn("wv_n_in", F.coalesce("wv_n_in", F.lit(0)).cast("long"))
        )
    else:
        out = (
            out.withColumn("word_vector_data", F.lit(None).cast("array<double>"))
            .withColumn("out_of_vocabulary_count", F.lit(0).cast("long"))
            .withColumn("wv_n_in", F.lit(0).cast("long"))
            .withColumn("wv_sum_vec", F.lit(None).cast("array<double>"))
        )

    return out.select(
        "file_id",
        "column_name",
        "count",
        "empty_count",
        "out_of_vocabulary_count",
        "numeric_count",
        "is_numeric",
        "distinct_count",
        "sample",
        "word_vector_column_name",
        "word_vector_data",
        "minhash",
        "seed",
        "hyperloglog",
        *((["wv_n_in", "wv_sum_vec"]) if keep_merge_state else []),
    )


def _wv_dim() -> int:
    from findopendata_spark.enrichment import VEC_DIM

    return VEC_DIM
