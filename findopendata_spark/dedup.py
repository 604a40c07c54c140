"""Deduplication operators for training-data pipelines.

MinHash+LSH and SimHash near-dup — first-class 100 TB operators (exact
dedup is one fingerprint hash-agg, spelled by q07 itself):

- **MinHash+LSH**: word-shingle sets → per-doc MinHash signature
  (vectorized ``mapInPandas``, no shuffle — signatures are computed where
  the docs live) → banding → band-bucket self-join → exact shingle-set
  verify. The band join is the only candidate-generation shuffle; its
  output is ~pairs-that-matter, not O(n^2).
- **SimHash**: 64-bit sign-of-weighted-bit-sums over token hashes; near
  dups = small Hamming distance, candidates via band-of-bits buckets.

Token/shingle hashing happens JVM-side (``xxhash64`` inside
``transform``); Python only ever sees int64 arrays (north-rule axis A).
MinHash signatures permute through the sketch engine's own
:meth:`findopendata_spark.sketch.minhash.MinHashPermutations.permute`
and are banded by the one band format the column-sketch index uses
(:func:`findopendata_spark.sketch.lsh.bands_table`), so dedup signatures
and column sketches are comparable by construction.

Each similarity rule has one implementation here: MinHash and SimHash
candidates both come from :func:`_bucket_pairs` (the ``bucket_cap``
window and the ``a < b`` bucket self-join), and both AllPairs verify
paths run :func:`_jaccard_verify_fn` (one searchsorted-intersect batch
kernel; the paths differ only in how each side's gram codes arrive).
A frame a pipeline reads twice (both sides of a self-join) is cached
through :func:`findopendata_spark.session.cached`, so its partition count
follows the cores, not the caller's shuffle setting.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from findopendata_spark.ranking import global_row_number
from findopendata_spark.session import cached
from findopendata_spark.sketch.lsh import bands_table, optimal_param
from findopendata_spark.sketch.minhash import MAX_HASH, MinHashPermutations
from findopendata_spark.text_analysis import tokens, tokens_py


def spread_scan(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    the single-row-group guard (guide §2.5 "one huge unsplittable
    file"). The bench tables are one-row-group parquet files, so Spark's
    byte-range splitting hands EVERY row to one task no matter how many
    splits it makes; any compute-heavy per-row stage downstream
    (mapInPandas kernels, interpreted transforms) then runs single-core.
    One cheap exchange of the (small) projected payload unlocks full
    parallelism; results are partitioning-independent for every caller
    (per-row maps and aggregations only). On a real multi-file 100 TB
    table the scan already yields >= parallelism splits and this is a
    no-op-sized shuffle of already-distributed data — callers gate it on
    scan width where that matters."""
    if cols is not None:
        df = df.select(*cols)
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


# ---------------------------------------------------------------------------
# JVM-side tokenization / shingling
# ---------------------------------------------------------------------------

def shingles_expr(text, n: int = 5):
    """Distinct word n-gram shingles as an array column (JVM only)."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 5, out_col: str = "sh", spread: bool = True,
) -> DataFrame:
    """(id, text) → (id, distinct word n-gram shingles) — semantically
    identical to :func:`shingles_expr` (same trim/lower/split rules, same
    first-occurrence dedup order, empty array below ``n`` tokens), but
    computed in a ``mapInPandas`` batch kernel.

    Why not the column expression: ``transform``/``slice``/``array_join``
    are CodegenFallback — evaluated interpreted, allocating a slice array
    and a joined string per gram per row. Measured at sf1.0 (50k docs,
    ~54 tokens each) the expression costs ~20 s per pass on 32 cores
    while this kernel is <1 s (guide §4.2: hand whole batches to native/
    batch code; the per-doc work here is a tight comprehension over
    already-split tokens). Tokens come from
    :func:`~findopendata_spark.text_analysis.tokens_py`, the Python twin
    of the expression's tokenizer.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out: list[list[str]] = []
            for t in pdf[text_col]:
                toks = tokens_py(t)
                if len(toks) < n:
                    out.append([])
                    continue
                grams = [
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                ]
                out.append(list(dict.fromkeys(grams)))
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), out_col: out}
            )

    # spread the (id, text) projection before the kernel: the docs scan
    # is one row group = one task, which would serialize the whole
    # shingle pass (guide §2.5)
    src = df.select(id_col, text_col)
    if spread:
        src = spread_scan(src)
    return src.mapInPandas(
        fn, f"{id_col} long, {out_col} array<string>"
    )


def md5_token_hashes_expr(text):
    """60-bit token hashes from md5 hex (first 15 nibbles) — the
    deterministic hash the DuckDB oracles can recompute exactly (q23's
    SimHash and q49's near-dup pairs share it). Production would use
    ``xxhash64`` (cheaper, property-tested in tests/test_modules.py)."""
    return F.transform(
        tokens(text),
        lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"),
    )


def md5_simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) → (id, simhash) in ONE ``mapInPandas`` kernel — the
    fused fast path for ``simhash64(md5_token_hashes_expr(text))``.

    Why: the expression form evaluates ``md5`` + ``conv`` inside an
    interpreted ``transform`` (CodegenFallback, per-element allocation)
    and then ships the int64 arrays to the numpy kernel anyway — two
    passes over every token, one of them interpreted (guide §4.2).
    Here tokenization (``tokens_py``, as in :func:`shingle_sets`),
    hashing, and the sign-of-sum fold all happen on the batch.  The corpus
    vocabulary repeats heavily, so tokens are factorized per batch and
    md5 runs once per DISTINCT token; each unique hash expands to its
    ±1 bit row and per-doc bit sums come from one ``np.add.reduceat``
    over all 60 bit columns at once.  Bit-exact with the expression
    path: same tokens, same md5-hex-prefix integer, same sign rule
    (sum > 0), same simhash for empty/absent token lists (0).
    """
    import hashlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(60, dtype=np.uint64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            tok_lists = [tokens_py(t) for t in pdf[text_col]]
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            out = np.zeros(n, dtype=np.uint64)
            total = int(lens.sum())
            if total:
                flat = np.empty(total, dtype=object)
                pos = 0
                for t in tok_lists:
                    flat[pos:pos + len(t)] = t
                    pos += len(t)
                codes, uniq = pd.factorize(flat)
                hvals = np.fromiter(
                    (
                        int(hashlib.md5(u.encode("utf-8")).hexdigest()[:15], 16)
                        for u in uniq
                    ),
                    dtype=np.uint64,
                    count=len(uniq),
                )
                # (uniq, 60) ±1 contribution matrix; int8 keeps it tiny
                ubits = (
                    ((hvals[:, None] >> shifts) & np.uint64(1)).astype(np.int8)
                    * 2 - 1
                )
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                nonempty = lens > 0
                # reduceat accumulates in the input dtype: pick the
                # narrowest that cannot overflow for the longest doc
                acc = np.int16 if int(lens.max()) < 32767 else np.int64
                sums = np.add.reduceat(
                    ubits[codes].astype(acc), starts[nonempty], axis=0
                )
                packed = ((sums > 0).astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64
                )
                out[nonempty] = packed
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(),
                 "simhash": out.astype(np.int64)}
            )

    return spread_scan(df, [id_col, text_col]).mapInPandas(
        fn, f"{id_col} long, simhash long"
    )


# ---------------------------------------------------------------------------
# Vectorized per-doc signatures (mapInPandas — zero shuffle)
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", hashes_col: str = "hashes",
    num_perm: int = 128, seed: int = 43,
) -> DataFrame:
    """(id, hashes array<long>) → (id, minhash array<long>).

    Flattens each Arrow batch, permutes in perm-chunks, and segments the
    mins back per document with ``np.minimum.reduceat`` — one numpy pass
    per batch, no per-row Python.
    """
    perms = MinHashPermutations(num_perm, seed)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf[hashes_col]]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            flat = (
                np.concatenate(arrs) if lens.sum() else np.array([], np.int64)
            )
            h = (flat & 0xFFFFFFFF).astype(np.uint64)  # low 32 bits as base
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.full((num_perm, n), MAX_HASH, dtype=np.uint64)
            nonempty = lens > 0
            if len(h):
                ne_starts = starts[nonempty]
                for p0 in range(0, num_perm, 16):
                    phv = perms.permute(h, p0, p0 + 16)
                    # reduceat segments run start→next-start; trailing
                    # segment ends at the array end — one column per
                    # non-empty doc, in order
                    sig[p0 : p0 + 16, nonempty] = np.minimum.reduceat(
                        phv, ne_starts, axis=1
                    )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "minhash": [row.astype(np.int64) for row in sig.T],
                }
            )

    return df.select(id_col, hashes_col).mapInPandas(
        fn, f"{id_col} long, minhash array<long>"
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", hashes_col: str = "hashes"
) -> DataFrame:
    """(id, token hashes) → (id, 64-bit SimHash): per bit, sign of the
    sum of ±1 contributions across the token multiset."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf[hashes_col]]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            flat = (
                np.concatenate(arrs).view(np.uint64)
                if lens.sum()
                else np.array([], np.uint64)
            )
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out = np.zeros(n, dtype=np.uint64)
            nonempty = lens > 0
            if len(flat):
                for b in range(64):
                    bit = (((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2 - 1)
                    sums = np.add.reduceat(bit, starts[nonempty])
                    out[nonempty] |= (sums > 0).astype(np.uint64) << np.uint64(b)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "simhash": out.astype(np.int64)}
            )

    return df.select(id_col, hashes_col).mapInPandas(
        fn, f"{id_col} long, simhash long"
    )


# ---------------------------------------------------------------------------
# LSH near-dup pairs
# ---------------------------------------------------------------------------

def _bucket_pairs(
    bands: DataFrame, id_col: str, bucket_cap: int | None,
    carry: str | None = None,
) -> DataFrame:
    """Candidate pairs (a < b) of ``bands`` rows (id, band_idx,
    band_hash[, carry]) sharing a (band_idx, band_hash) bucket — the band
    self-join, the only candidate-generation shuffle. ``carry`` rides
    along as ``<carry>_a``/``<carry>_b``.

    ``bucket_cap``, when set, first drops buckets holding more than that
    many rows: a recall/cost knob for adversarial corpora. A pair that
    collides only in over-cap buckets is lost; pairs that also collide in
    an under-cap bucket are still found."""
    if bucket_cap is not None:
        wcnt = Window.partitionBy("band_idx", "band_hash")
        bands = bands.withColumn(
            "bucket_n", F.count(F.lit(1)).over(wcnt)
        ).filter(F.col("bucket_n") <= bucket_cap).drop("bucket_n")

    def side(name: str) -> DataFrame:
        extra = [F.col(carry).alias(f"{carry}_{name}")] if carry else []
        return bands.select(
            F.col(id_col).alias(name), "band_idx", "band_hash", *extra
        )

    return (
        side("a").join(side("b"), ["band_idx", "band_hash"])
        .filter(F.col("a") < F.col("b"))
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 128,
    shingle_n: int = 5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Pairs (a < b) with exact shingle-set Jaccard >= threshold, found via
    MinHash banding (candidate generation) + exact verify.

    The verify step makes the result *deterministic and exact* for pairs
    the bands surface; with the optimal (b, r) at `threshold`, the miss
    probability for a true pair at J >= 0.85 is < 1e-8 — the standard
    MinHashLSH guarantee (MMDS ch.3).

    Skew guards for the 100 TB shape: docs with an empty shingle set are
    dropped *before* banding (they would all share the identity signature
    and re-create an O(n^2) bucket, yet can never reach a threshold > 0
    because verify requires union > 0). ``bucket_cap`` is
    :func:`_bucket_pairs`'s (a capped bucket means those docs collide on
    1 of ``b`` bands; the other b-1 bands still surface true pairs).
    """
    b, r = optimal_param(threshold, num_perm)
    # shingle construction via the batch kernel (shingles_expr is
    # interpreted per gram — ~20 s/pass at sf1.0 vs <1 s; see
    # shingle_sets) — hashing stays JVM-side as before.
    # spread=False (measured r06): this pipeline's heavy stages (band
    # self-join, verify) run post-shuffle and parallelize regardless;
    # spreading the small signature pass only added per-task overheads
    # (A/B best-of-3: 1.8 s unspread vs 2.8 s spread at 50k docs).
    sh = shingle_sets(docs, text_col, id_col, shingle_n, spread=False).withColumn(
        "hashes", F.transform("sh", lambda s: F.xxhash64(s))
    )
    sh = cached(sh.filter(F.size("sh") > 0))
    sigs = minhash_signatures(sh, id_col=id_col, num_perm=num_perm)
    # the band self-join below references `bands` twice; without a cache
    # the whole signature pipeline (minhash kernel + band hashing) is
    # evaluated once per side (guide §2.4 — share one computation)
    bands = cached(bands_table(sigs, b, r, (id_col,)))
    cand = _bucket_pairs(bands, id_col, bucket_cap).select("a", "b").distinct()
    sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def gram_codes(gram_df: DataFrame) -> DataFrame:
    """(gram, df) → (gram, code): dense int codes 0..V-1 in (df asc,
    gram asc) order, the AllPairs global total order. A range-partitioned
    rank, so no single task sorts the whole vocabulary."""
    return global_row_number(
        gram_df, [F.asc("df"), F.asc("gram")], "code"
    ).select("gram", F.col("code").cast("int"))


# Largest gram store allpairs_jaccard_pairs collects to the driver and
# broadcasts for its verify stage, in bytes; bigger stores take the
# shuffled-hash attach instead. The store is int64 ids, lengths and
# offsets per doc plus one int64 per gram: 8 * (3 * n_docs + n_grams).
# The documents corpus averages ~52 distinct word-3-grams per doc (2.1 MiB
# at sf0.1), so this admits about the 500k docs the old row gate did.
ALLPAIRS_BROADCAST_BYTES = 256 << 20


def _jaccard_verify_fn(codes, V, t: float):
    """The AllPairs verify kernel for ``mapInArrow``: batches of (a, b,
    ...) candidate rows → (a, b, jaccard) rows with jaccard >= ``t``.

    ``codes(tbl)`` returns ((lens_a, flat_a), (lens_b, flat_b)): each
    side's code-sorted gram arrays, concatenated in row order. Because
    codes are sorted by the GLOBAL dense code (< ``V``), the keys
    ``row * V + code`` are globally sorted per side, so ONE
    ``np.searchsorted`` binary-search merge intersects every pair of the
    batch — no batch sort. Jaccard is the int→double division; union >=
    1, so NaN is impossible and the >= t gate is a plain IEEE compare."""

    def fn(batches):
        import pyarrow as paw

        for tbl in batches:
            n = tbl.num_rows
            if n == 0:
                continue
            (la, flat_a), (lb, flat_b) = codes(tbl)
            p_a = np.repeat(np.arange(n, dtype=np.int64), la)
            p_b = np.repeat(np.arange(n, dtype=np.int64), lb)
            k_a = p_a * V + flat_a
            k_b = p_b * V + flat_b
            if len(k_b):
                pos = np.searchsorted(k_b, k_a)
                pos[pos == len(k_b)] = 0  # valid slot; equality fails
                matched = k_b[pos] == k_a
                inter = np.bincount(p_a[matched], minlength=n)
            else:
                inter = np.zeros(n, dtype=np.int64)
            jacc = inter / (la + lb - inter)
            keep = jacc >= t
            if not keep.any():
                continue
            mask = paw.array(keep)
            yield paw.RecordBatch.from_arrays(
                [
                    tbl.column(0).filter(mask),
                    tbl.column(1).filter(mask),
                    paw.array(jacc[keep]),
                ],
                names=["a", "b", "jaccard"],
            )

    return fn


def allpairs_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity self-join via prefix filtering
    (AllPairs / SSJoin family — Bayardo et al., WWW'07; Chaudhuri et
    al., ICDE'06). No sketch, no miss probability: provably every pair
    with J >= threshold is produced, yet the join never goes O(n^2).

    Why it scales: under any one global total order on grams, two sets
    with overlap >= a must collide inside their first ``|X| - a + 1``
    grams (pigeonhole), and J >= t implies overlap >= ceil(t*max(|A|,
    |B|)). So each doc emits only its first ``|G| - ceil(t*|G|) + 1``
    grams (frequency-ascending order — rarest first, the strongest
    pruning), candidates come from a band-style equi-join on those
    prefix grams with a size-ratio filter (t*|A| <= |B| <= |A|/t), and
    the exact array_intersect verify runs on candidates only. Candidate
    volume ~ pairs sharing a *rare* gram, not pairs.

    This is the exact counterpart to :func:`near_dup_pairs` (MinHash,
    approximate) — the "n-gram Jaccard" dedup mode of the training-data
    pipeline suite. Reference analog: the pg_trgm ``%`` similarity join
    (``/root/reference/sql/create_metadata_tables.sql:84``), which is
    likewise an exact posting-prefilter + verify.
    """
    t = float(threshold)
    # float guard: t*s can land one ulp above an exact integer product
    # (0.6*5 -> 3.0000000000000004), which would shorten the prefix /
    # tighten the size filter and silently drop a boundary pair
    eps = 1e-9
    # r06: grams are hashed to int64 (xxhash64, JVM-side) immediately
    # after the shingle kernel, and EVERYTHING downstream — df counts,
    # prefix ordering, the candidate equi-join, the verify intersect —
    # runs on int64 instead of strings (smaller cache, cheaper join
    # keys, cheaper sorts; guide §2.3 "narrower types"). Result
    # equivalence: AllPairs is exact under ANY consistent global total
    # order on grams (the pigeonhole argument never references the
    # ordering's semantics), counts/intersections are invariant under an
    # injective gram mapping, and xxhash64 is injective here up to a
    # 2^-64-per-gram-pair collision (< 1e-10 at this vocabulary; a
    # 128-bit hash is the knob at larger vocabularies).
    raw = shingle_sets(docs, text_col, id_col, shingle_n, out_col="g").select(
        F.col(id_col).alias("_id"),
        F.transform("g", lambda s: F.xxhash64(s)).alias("g"),
    ).withColumn("s", F.size("g")).filter(F.col("s") > 0)

    # r06b: GLOBAL DENSE GRAM CODES in (df asc, gram asc) order — the
    # AllPairs total order becomes plain integer order. Three structural
    # wins over the r06a hash-array layout, all exactness-preserving
    # (the code mapping is a bijection that REPRESENTS the chosen global
    # order; candidates and intersections are invariant):
    #  1. the per-doc prefix is a HEAD SLICE of the code-sorted array —
    #     the corpus-wide explode+join+row_number window the prefix pass
    #     paid per build disappears,
    #  2. arrays sorted by code mean the verify kernel gets globally
    #     sorted (pair, code) keys for free and can binary-search-merge
    #     instead of sorting every batch (np.unique + intersect1d were
    #     two O(n log n) passes per 10k-pair batch),
    #  3. codes are int32 (vocab-bounded), halving the broadcast attach.
    ex0 = raw.select("_id", F.explode("g").alias("gram"))
    gram_df = ex0.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    gram_dict = gram_codes(gram_df)
    sets = cached(
        ex0.join(F.broadcast(gram_dict), "gram")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("code")).alias("g"))
        .withColumn("s", F.size("g"))
    )
    n_grams_total = gram_dict.count()  # V — the verify kernel's key base

    # prefix = first (s - ceil(t*s) + 1) codes (rarest-first by
    # construction) — a narrow slice+posexplode over the cached sets,
    # no shuffle, no window
    plen = F.col("s") - F.ceil(t * F.col("s") - eps) + 1
    # both sides of the candidate self-join read `prefix`
    prefix = cached(sets.select(
        "_id", "s",
        F.posexplode(F.slice("g", F.lit(1), plen)).alias("p0", "gram"),
    ).select("gram", "_id", "s", (F.col("p0") + 1).alias("rn")))
    left = prefix.select(
        F.col("gram"), F.col("_id").alias("a"),
        F.col("s").alias("sa"), F.col("rn").alias("pa"),
    )
    right = prefix.select(
        F.col("gram"), F.col("_id").alias("b"),
        F.col("s").alias("sb"), F.col("rn").alias("pb"),
    )
    # PPJoin positional filter (Xiao et al., WWW'08): a pair matched on
    # a prefix gram at ranks (pa, pb) can share at most
    # 1 + min(sa-pa, sb-pb) grams, and J >= t needs overlap
    # >= ceil(t/(1+t) * (sa+sb)); pairs that can't reach it are pruned
    # before the distinct/verify stages (measured 193k -> far fewer
    # candidates on the documents corpus at t=0.6).
    alpha = F.ceil(t / (1 + t) * (F.col("sa") + F.col("sb")) - eps)
    cand = (
        # shuffle-hash, not sort-merge: both sides are the same cached
        # 2M-row prefix frame; hashing skips two sorts (guide §3.1).
        left.join(right.hint("shuffle_hash"), "gram")
        .filter(
            (F.col("a") < F.col("b"))
            # size filter: J >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("sb") * t <= F.col("sa") + eps)
            & (F.col("sa") * t <= F.col("sb") + eps)
            & (
                F.lit(1)
                + F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
                >= alpha
            )
        )
        .select("a", "b")
        # NO pre-verify distinct (measured r06b: multi-gram duplicates
        # are ~2% of candidates on this corpus, so deduping 10M rows
        # through an exchange costs more than verifying the dups; the
        # tiny verified output is deduped instead, below)
    )
    # Verify stage (r06): the candidate volume on boilerplate-heavy
    # corpora is large (~10M pairs at sf1.0 for ~3k true pairs), and
    # per-pair `array_intersect` over string arrays was the query's
    # dominant cost (~20 s — interpreted, one hash set per pair side).
    # Candidates get the code-sorted int32 gram arrays, and one
    # vectorized Arrow kernel (_jaccard_verify_fn) intersects ALL pairs
    # of a batch in one pass; its searchsorted merge replaces the
    # np.unique + np.intersect1d sorts that dominated the r06a kernel
    # (guide §4.2).
    id_t = sets.schema["_id"].dataType.simpleString()
    # Attach strategy (guide §3.1 + §8): the verify only needs each
    # doc's code array — a lightweight corpus-wide proxy (~10 MB as
    # int32 at 50k docs). Within broadcast range, ship the WHOLE store
    # once as a spark broadcast (offsets + one flat code buffer) and
    # send ONLY (a, b) pairs through Arrow: the r06a broadcast-hash
    # attach re-materialized both arrays per candidate row — ~8 GB of
    # Arrow traffic for 10M pairs — where the pair stream is 160 MB.
    # Beyond broadcast range, fall back to the shuffled-hash attach. The
    # gate is the store's bytes, not its doc count: a few docs with long
    # gram arrays can outgrow the driver as surely as many short ones.
    n_docs, n_grams = sets.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("s"), F.lit(0))
    ).first()
    V = np.int64(n_grams_total + 1)
    if 8 * (3 * n_docs + n_grams) <= ALLPAIRS_BROADCAST_BYTES:
        spark = sets.sparkSession
        pdf = sets.select("_id", "g").toPandas()  # Arrow path, ~10 MB
        ids = pdf["_id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        arrs = pdf["g"].to_numpy()[order]
        lens = np.fromiter((len(a) for a in arrs), np.int64, len(arrs))
        offs = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        flat = (
            np.concatenate([np.asarray(a, np.int64) for a in arrs])
            if len(arrs) else np.array([], np.int64)
        )
        bc = spark.sparkContext.broadcast((ids, lens, offs, flat))

        def codes(tbl):
            """Each side's codes gathered from the broadcast store by id."""
            b_ids, b_lens, b_offs, b_flat = bc.value

            def gather(doc_col):
                idx = np.searchsorted(b_ids, doc_col)
                ln = b_lens[idx]
                st = b_offs[idx]
                tot = int(ln.sum())
                pos = (
                    np.arange(tot, dtype=np.int64)
                    - np.repeat(np.cumsum(ln) - ln, ln)
                    + np.repeat(st, ln)
                )
                return ln, b_flat[pos]

            return (
                gather(tbl.column(0).to_numpy(zero_copy_only=False)),
                gather(tbl.column(1).to_numpy(zero_copy_only=False)),
            )

        pairs = cand
    else:
        ga = sets.select(F.col("_id").alias("a"), F.col("g").alias("g_a"))
        gb = sets.select(F.col("_id").alias("b"), F.col("g").alias("g_b"))
        ga, gb = ga.hint("shuffle_hash"), gb.hint("shuffle_hash")

        def codes(tbl):
            """Each side's codes read from its attached list column."""

            def flat(col):
                off = col.offsets.to_numpy().astype(np.int64)
                return np.diff(off), col.flatten().to_numpy()

            return flat(tbl.column(2)), flat(tbl.column(3))

        pairs = cand.join(ga, "a").join(gb, "b").select("a", "b", "g_a", "g_b")
    verified = pairs.mapInArrow(
        _jaccard_verify_fn(codes, V, t), f"a {id_t}, b {id_t}, jaccard double"
    )
    # candidates skip the pre-verify distinct, so a pair reachable via
    # k prefix grams is verified k times — identical rows, collapsed
    # here on the (tiny) verified output
    return verified.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).distinct()


FP_BASE = 257                 # rolling polynomial base (> max byte)
FP_MOD = (1 << 31) - 1        # Mersenne prime 2^31-1


def rolling_min_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Winnowing-style document fingerprint: min over all char ``n``-gram
    polynomial hashes (base FP_BASE mod FP_MOD over codepoints).

    Replaces the md5-string variant VERDICT r02 flagged: that one
    materialized a 32-char digest per character position (~33x text
    amplification per row — an executor-OOM shape at web-document
    lengths). Here each Arrow batch is processed as ONE flat numpy
    codepoint array: the rolling hash is ``n`` vectorized passes
    (H = (H*B + c) mod M), window positions crossing a document boundary
    are masked to the sentinel M, and per-doc minima come from
    ``np.minimum.reduceat`` — peak memory is 8 bytes per character per
    batch, independent of document length. The polynomial is iterated-mod
    BIGINT arithmetic the DuckDB oracle replicates exactly.

    Input rows must satisfy ``length(text) >= n`` (filter upstream).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B, M = np.uint64(FP_BASE), np.uint64(FP_MOD)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf[text_col].tolist()
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            codes = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            n_pos = len(codes) - (n - 1)
            h = np.zeros(n_pos, dtype=np.uint64)
            for j in range(n):
                h = (h * B + codes[j : j + n_pos]) % M
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            ends = starts + lens
            # mask windows that straddle a doc boundary (each doc's last
            # n-1 positions); the final doc has none — the array ends
            tails = (ends[:, None] - np.arange(n - 1, 0, -1)[None, :]).ravel()
            tails = tails[(tails >= 0) & (tails < n_pos)]
            h[tails] = M  # sentinel: valid hashes are < M
            fp = np.minimum.reduceat(h, np.minimum(starts, n_pos - 1))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "fingerprint": fp.astype(np.int64),
                }
            )

    return spread_scan(df, [id_col, text_col]).mapInPandas(
        fn, f"{id_col} long, fingerprint long"
    )


def simhash_near_dup_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    sig_bits: int = 60,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Pairs (a < b) with Hamming(simhash_a, simhash_b) <= max_hamming,
    via band-of-bits candidate buckets — the missing half of the SimHash
    design (reference candidate-step analog: the LSH band query loop,
    ``lshserver/main.go:116-148``).

    Exactness by pigeonhole: a pair differing in at most ``max_hamming``
    bits can ruin at most ``max_hamming`` of the ``n_bands`` disjoint bit
    bands, so with ``max_hamming < n_bands`` the pair collides on at
    least one band — candidate recall is exactly 1, no probabilistic
    miss. The default (4 bands of 15 bits over the 60-bit signature,
    threshold 3) is the classic Manku/Jain/Sarma web-dedup setup shape.

    Scale shape: candidates come from an equi-join on (band_idx,
    band_value) — the only shuffle; verify is one ``bit_count(xor)`` per
    candidate pair. Never O(n^2) — with one caveat: boilerplate-heavy or
    near-empty corpora collapse many docs onto the SAME signature (all
    zero/low-token docs share simhash 0), rebuilding an O(bucket^2) join
    inside every band. ``bucket_cap``, when set, drops band buckets
    holding more than that many docs (:func:`_bucket_pairs`, the guard
    :func:`near_dup_pairs` uses). Setting it trades recall for cost: a
    pair colliding ONLY in capped buckets is lost, so the pigeonhole
    exactness guarantee holds only for pairs whose >= 1 colliding band
    is under the cap. Callers should also drop docs with an empty token
    multiset before :func:`simhash64` (their signature is 0 and the
    Hamming metric is meaningless for them) — q49 does.

    r06 — TWO-LEVEL banding: each outer band additionally sub-bands the
    COMPLEMENT bits (the signature minus that band) into
    ``max_hamming + 1`` inner chunks, and candidates must match on
    (outer band, inner chunk) rather than the outer band alone. Recall
    stays exactly 1 by a nested pigeonhole: >= 1 outer band is intact,
    and given that band intact ALL <= max_hamming differing bits lie in
    its complement, so >= 1 of the max_hamming+1 inner chunks is intact
    too. Precision improves ~quadratically per bucket: docs that share
    one 15-bit band but differ widely elsewhere (the dominant candidate
    class on clustered corpora — measured 27.9M raw join rows at sf1.0
    for 30k true pairs) now also have to agree on an 11-12-bit slice of
    the other 45 bits (raw rows drop to ~0.5M). Each doc emits
    n_bands x (max_hamming+1) rows instead of n_bands — trivial
    against the join saving. With ``bucket_cap`` set, the cap now
    applies to the finer (outer, inner) buckets: strictly closer to the
    exact result than the r05 outer-bucket cap for the same cap value,
    and the loss rule is unchanged in kind (pairs colliding only in
    over-cap buckets are lost).
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(pigeonhole exactness); got n_bands={n_bands}"
        )
    band_bits = sig_bits // n_bands
    mask = (1 << band_bits) - 1
    n_inner = max_hamming + 1
    comp_bits = sig_bits - band_bits
    outer = [
        F.shiftright(F.col(sig_col), i * band_bits).bitwiseAND(F.lit(mask))
        for i in range(n_bands)
    ]
    if comp_bits >= n_inner:
        # inner chunk widths over the complement: as even as possible
        base, rem = divmod(comp_bits, n_inner)
        widths = [base + 1] * rem + [base] * (n_inner - rem)
        offs = [sum(widths[:j]) for j in range(n_inner)]
        shift = max(widths)  # combined key: outer_val << shift | inner_val

        def comp(i: int):
            # signature with band i's bits removed: low | (high << i*bb)
            low = F.col(sig_col).bitwiseAND(F.lit((1 << (i * band_bits)) - 1))
            high_bits = sig_bits - (i + 1) * band_bits
            high = F.shiftright(
                F.col(sig_col), (i + 1) * band_bits
            ).bitwiseAND(F.lit((1 << high_bits) - 1))
            return low.bitwiseOR(F.shiftleft(high, i * band_bits))

        bands_arr = F.array(
            *[
                F.shiftleft(outer[i], shift).bitwiseOR(
                    F.shiftright(comp(i), offs[j]).bitwiseAND(
                        F.lit((1 << widths[j]) - 1)
                    )
                )
                for i in range(n_bands)
                for j in range(n_inner)
            ]
        )
    else:  # degenerate tiny signatures: plain single-level banding
        bands_arr = F.array(*outer)
    # the band's bits are themselves the bucket key
    bands = sigs.select(
        F.col(id_col), F.col(sig_col),
        F.posexplode(bands_arr).alias("band_idx", "band_hash"),
    )
    ham = F.bit_count(
        F.col(f"{sig_col}_a").bitwiseXOR(F.col(f"{sig_col}_b"))
    )
    return (
        _bucket_pairs(bands, id_col, bucket_cap, carry=sig_col)
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
