"""Trigram posting-list index — the pg_trgm GIN analog (SURVEY §2.3 J5).

The reference backs its ``%`` trigram-similarity theta-joins with a GIN
index (``/root/reference/sql/create_metadata_tables.sql:84``) probed by
the similar-packages query (``/root/reference/apiserver/main.py:
173-207``): Postgres walks the posting lists of the *query's* trigrams
and counts hits per candidate row — it never scans the corpus. This
module is that index as cached DataFrames:

- **build** (once per corpus/field, memoized per session — the Go LSH
  server similarly rebuilds its in-RAM index at boot,
  ``lshserver/main.go:26-82``): ``postings (gram, doc_id)`` exploded
  from distinct lowercase trigram sets, plus ``sizes (doc_id,
  n_grams)``. At 100 TB both are bucketed Iceberg tables partitioned by
  gram hash, appended incrementally per crawl wave.
- **probe**: the query's gram set becomes an IN-list *filter* pushed
  into the cached postings scan (no join, no corpus shuffle), one
  hash-agg counts exact ``|g ∩ q|`` per doc, and jaccard follows from
  the indexed set sizes. Probe cost = Σ posting lengths of the query's
  grams — index-bound, not corpus-scan-bound.

Exactness: the intersection count is exact for every doc sharing ≥ 1
gram; docs sharing none have J = 0 and are ranked from the ``sizes``
side of the left join — so results are byte-identical to the full
O(corpus) intersect scan, with no LSH miss probability. (MinHash
banding — ``sketch/lsh.py`` — is the right prefilter when signatures
must stand in for the sets; here the posting lists ARE the index, as in
pg_trgm.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# session-lifetime index cache: (applicationId, sf_dir, field) -> dict of
# cached DFs. Keyed on the live application (like queries2._SKETCH_STORE):
# cached DataFrames die with their SparkSession, and a stop()+recreate in
# the same process must not hand back plans bound to the dead JVM
# (ADVICE r04). applicationId is unique per SparkContext.
_CACHE: dict[tuple[str, str, str], dict] = {}


_TRIGRAM_RE = r"(?s)(?=([^\p{Cs}].{2}))"


def trigram_set_expr(col):
    r"""Distinct lowercase character trigrams as an array column, in order
    of first occurrence; empty for strings under 3 code points and for
    null. Grams are code points, as Spark's ``length``/``substr`` count
    them.

    One codegen'd ``regexp_extract_all`` whose pattern compiles once per
    task: a zero-width match at every position, capturing the three code
    points that start there. Two pitfalls of the obvious ``(?=(.{3}))``:

    - without ``(?s)``, ``.`` does not match ``\n``, so every gram that
      spans a line break is dropped;
    - Java strings are UTF-16 and the matcher retries one code *unit*
      later, so on a non-BMP character (emoji) it also matches at the low
      surrogate and emits a gram that starts mid-pair. ``[^\p{Cs}]``
      refuses a lone surrogate as the first character; ``.`` consumes a
      whole surrogate pair as one code point.
    """
    t = F.lower(col)
    return F.when(
        F.length(t) >= 3,
        F.array_distinct(F.regexp_extract_all(t, F.lit(_TRIGRAM_RE), 1)),
    ).otherwise(F.array().cast("array<string>"))


def _field_grams(docs: DataFrame, field: str) -> DataFrame:
    """(doc_id, g) for the indexed field — mirrors the query synthesis
    q17/q41 use (title = first 40 chars, description = chars 41-240)."""
    if field == "text":
        src = docs.filter(F.length("text") >= 3)
        col = F.col("text")
    elif field == "title":
        src = docs.filter(F.length("text") >= 80)
        col = F.substring("text", 1, 40)
    elif field == "description":
        src = docs.filter(F.length("text") >= 80)
        col = F.substring("text", 41, 200)
    else:
        raise ValueError(f"unknown trigram field: {field}")
    return src.select("doc_id", trigram_set_expr(col).alias("g"))


def _field_grams_total(docs: DataFrame, field: str) -> DataFrame:
    """Like :func:`_field_grams` but TOTAL over doc_ids: below-threshold
    docs emit an empty gram set instead of no row. The incremental index
    appends (``indexing.trigram_append``, crawl in-commit maintenance)
    use this so a re-indexed doc whose new content falls below the field
    threshold still writes a sizes tombstone (n_grams=0) under the new
    wave — latest-wave-wins then retires the doc's OLD postings instead
    of serving stale content (ADVICE r05 shrink-to-empty hole). Exploded
    postings are unchanged (empty arrays explode to nothing)."""
    if field == "text":
        cond = F.length("text") >= 3
        col = F.col("text")
    elif field == "title":
        cond = F.length("text") >= 80
        col = F.substring("text", 1, 40)
    elif field == "description":
        cond = F.length("text") >= 80
        col = F.substring("text", 41, 200)
    else:
        raise ValueError(f"unknown trigram field: {field}")
    g = F.when(cond, trigram_set_expr(col)).otherwise(
        F.array().cast("array<string>")
    )
    return docs.select("doc_id", g.alias("g"))


def trigram_index(spark: SparkSession, sf_dir: str, field: str) -> dict:
    """Build (or fetch the session-cached) posting index for a field.

    Returns {"postings": DF(gram, doc_id), "sizes": DF(doc_id, n_grams),
    "query_row": (q_doc_id, q_grams) for the lowest-doc_id document}.
    """
    key = (spark.sparkContext.applicationId, sf_dir, field)
    if key in _CACHE:
        return _CACHE[key]
    from findopendata_spark.dedup import spread_scan

    # single-row-group parquet = single-task scan (guide §2.5): spread
    # the docs BEFORE the trigram extraction, so the build
    # parallelizes AND the cached postings/sizes inherit >= parallelism
    # partitions — every warm probe then scans the cache in parallel
    # instead of walking all postings on one core.
    docs = spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        ["doc_id", "text"],
    )
    grams = _field_grams(docs, field)
    postings = grams.select(
        "doc_id", F.explode("g").alias("gram")
    ).cache()
    sizes = grams.select("doc_id", F.size("g").alias("n_grams")).cache()
    postings.count()  # materialize the index once
    sizes.count()
    qrow = grams.orderBy("doc_id").limit(1).collect()[0]
    idx = {
        "postings": postings,
        "sizes": sizes,
        "query_row": (qrow["doc_id"], list(qrow["g"])),
    }
    _CACHE[key] = idx
    return idx


def _matched_scores(
    idx: dict, q_doc_id, q_grams: list[str], exclude_query: bool
) -> DataFrame:
    """(doc_id, jaccard) for docs sharing >= 1 gram with the query.

    Probe cost is bounded by the query's posting lengths: the IN-list
    filter walks only the matching posting lists, the hash-agg output is
    at most Σ|posting| rows, and the sizes lookup is an equi-join against
    that small set (Spark broadcasts it under AQE) — never a corpus-wide
    scan. Every matched doc has inter >= 1, hence jaccard > 0."""
    postings, sizes = idx["postings"], idx["sizes"]
    qn = len(q_grams)
    inter = (
        postings.filter(F.col("gram").isin(q_grams))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if exclude_query:
        inter = inter.filter(F.col("doc_id") != F.lit(q_doc_id))
    return (
        inter.join(sizes, "doc_id")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_grams") + F.lit(qn) - F.col("inter")),
        )
        .select("doc_id", "jaccard")
    )


def trigram_similarity_scores(
    idx: dict, q_doc_id, q_grams: list[str], exclude_query: bool = True
) -> DataFrame:
    """Exact trigram-set Jaccard of docs sharing >= 1 gram with the query
    (jaccard > 0 by construction). Docs sharing no gram have jaccard 0;
    consumers that need them as top-k fillers use :func:`trigram_topk`,
    which unions them in only when matches < k — the r03 version
    left-joined the full corpus-cardinality ``sizes`` table into EVERY
    probe just in case (VERDICT r03 item 6)."""
    return _matched_scores(idx, q_doc_id, q_grams, exclude_query)


def trigram_topk(
    idx: dict, q_doc_id, q_grams: list[str], k: int,
    exclude_query: bool = True, round_digits: int | None = None,
) -> DataFrame:
    """Top-k docs by (jaccard DESC, doc_id ASC) — byte-identical to the
    full corpus scan, with probe cost bounded by the query's posting
    lengths. The corpus-wide ``sizes`` table is consulted ONLY when
    fewer than k docs share a gram (then the fillers are the smallest
    non-matched doc_ids at jaccard 0, an anti-join + limit); matched
    docs all have jaccard > 0 so they strictly precede fillers in the
    full-scan order.

    (Ordering caveat, documented not guarded: a consumer that re-sorts
    on a ROUNDED jaccard could in principle tie a matched doc with the
    0.0 fillers, but that needs jaccard < 5e-7, i.e. a gram-set union
    over ~2M — orders of magnitude past these fields' lengths.)"""
    matched = _matched_scores(idx, q_doc_id, q_grams, exclude_query)
    if round_digits is not None:
        # rank on the same rounded value the consumer (and its oracle)
        # sorts by, so boundary tie-breaks match the full scan exactly
        matched = matched.withColumn(
            "jaccard", F.round("jaccard", round_digits)
        )
    top = matched.orderBy(F.desc("jaccard"), F.asc("doc_id")).limit(k)
    m = top.count()  # small action: m <= k
    if m >= k:
        return top
    fillers = idx["sizes"].join(
        matched.select("doc_id"), "doc_id", "left_anti"
    )
    if exclude_query:
        fillers = fillers.filter(F.col("doc_id") != F.lit(q_doc_id))
    fillers = (
        fillers.select("doc_id", F.lit(0.0).alias("jaccard"))
        .orderBy(F.asc("doc_id"))
        .limit(k - m)
    )
    return top.unionByName(fillers)
