"""Sketch-engine tests (SURVEY §5 item 3: sketch parity).

The MinHash oracle is an independent SCALAR re-implementation of the
permutation scheme (one value at a time, python ints) — the vectorized
engine must agree bit-for-bit. Counters/sample/distinct rules are pinned
against the reference semantics in ``column_sketch.py:166-197,119-125``.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from findopendata_spark.config import SketchConfig
from findopendata_spark.sketch.column_sketch import sketch_columns
from findopendata_spark.sketch.hll import hll_count, hll_partial
from findopendata_spark.sketch.lsh import (
    bands_table,
    containment_expr,
    joinable_column_search,
    minhash_jaccard_expr,
    optimal_param,
)
from findopendata_spark.sketch.minhash import (
    MAX_HASH,
    MERSENNE_PRIME,
    MinHashPermutations,
    minhash_partial,
)


def test_sketch_config_options_inventory():
    """The sketcher's user-set options, pinned: a new knob must show up
    here as a reviewed diff. HLL precision and the LSH thresholds are
    module constants and call arguments, not options."""
    assert [f.name for f in dataclasses.fields(SketchConfig)] == [
        "minhash_size", "minhash_seed", "column_sample_size",
        "enable_word_vector_data",
    ]


def scalar_minhash(h32_values, perms: MinHashPermutations):
    """Slow, obviously-correct oracle: one value and one perm at a time."""
    out = [int(MAX_HASH)] * perms.num_perm
    for h in h32_values:
        hu = h & 0xFFFFFFFF
        for i in range(perms.num_perm):
            # a*h + b wraps mod 2^64 BEFORE the Mersenne mod — numpy uint64
            # semantics, which is also exactly what datasketch computes
            prod = (int(perms.a[i]) * hu + int(perms.b[i])) & 0xFFFFFFFFFFFFFFFF
            phv = (prod % int(MERSENNE_PRIME)) & int(MAX_HASH)
            out[i] = min(out[i], phv)
    return np.array(out, dtype=np.uint64)


def test_minhash_matches_scalar_oracle():
    perms = MinHashPermutations(64, 43)
    rng = np.random.RandomState(0)
    h = rng.randint(-(2**31), 2**31, size=500, dtype=np.int64)
    assert (minhash_partial(h, perms) == scalar_minhash(h.tolist(), perms)).all()


def test_minhash_partials_merge():
    perms = MinHashPermutations(128, 43)
    rng = np.random.RandomState(1)
    h = rng.randint(-(2**31), 2**31, size=1000, dtype=np.int64)
    whole = minhash_partial(h, perms)
    merged = np.minimum(minhash_partial(h[:300], perms), minhash_partial(h[300:], perms))
    assert (whole == merged).all()


def test_minhash_jaccard_accuracy(spark):
    """The JVM Jaccard the joinable search runs, over numpy signatures:
    identical sets give 1, disjoint ones 0, overlapping ones their
    Jaccard within MinHash error."""
    from findopendata_spark.crawler.graph import splitmix64

    perms = MinHashPermutations(256, 43)

    def sig(lo, hi):
        # elements must enter as (uniform) hashes — the reference feeds
        # farmhash32(value); sequential ints would break the
        # universal-hash uniformity assumption
        h = splitmix64(np.arange(lo, hi, dtype=np.uint64)).astype(np.int64)
        return [int(v) for v in minhash_partial(h, perms)]

    pairs = [(sig(0, 1000), sig(300, 1300)), (sig(0, 1000), sig(0, 1000)),
             (sig(0, 1000), sig(5000, 6000))]
    df = spark.createDataFrame(pairs, "a array<bigint>, b array<bigint>")
    got = [
        r["j"] for r in df.select(
            minhash_jaccard_expr(F.col("a"), F.col("b"), 256).alias("j")
        ).collect()
    ]
    assert abs(got[0] - 700 / 1300) < 0.1
    assert got[1:] == [1.0, 0.0]


def test_containment_reference_cases(spark):
    """The JVM containment the joinable search runs: the reference's
    edge cases (j == 1, j == 0, x == 0, q == 0) and its general formula
    max(j, min(min(x, q)/q, j(1+x)/(1-j)))."""
    j, x, q = 0.2, 50, 100
    cases = [
        (1.0, 5, 10, 1.0),
        (0.0, 5, 10, 0.0),
        (0.5, 0, 10, 0.0),
        (0.5, 10, 0, 0.0),
        (j, x, q, max(j, min(min(x, q) / q, j * (1 + x) / (1 - j)))),
    ]
    df = spark.createDataFrame(
        cases, "j double, x bigint, q bigint, want double"
    )
    rows = df.select(
        containment_expr(F.col("j"), F.col("x"), F.col("q")).alias("got"),
        "want",
    ).collect()
    assert [r["got"] for r in rows] == pytest.approx([r["want"] for r in rows])


def test_hll_estimate_tolerance():
    from findopendata_spark.crawler.graph import splitmix64

    # uniform full-range 64-bit hashes (the engine feeds xxhash64)
    h = splitmix64(np.arange(5000, dtype=np.uint64)).astype(np.int64)
    est = hll_count(hll_partial(h))
    assert abs(est - 5000) / 5000 < 0.15
    # merge = elementwise max
    merged = np.maximum(hll_partial(h[:2000]), hll_partial(h[2000:]))
    assert (merged == hll_partial(h)).all()


def test_optimal_param_sane():
    b, r = optimal_param(0.1, 256)
    assert b * r <= 256 and b >= 1 and r >= 1
    b5, r5 = optimal_param(0.5, 256)
    assert r5 > r  # higher threshold → longer bands


# ---------------------------------------------------------------------------
# End-to-end sketch_columns
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def records(spark):
    rows = []
    # col "a": 5 distinct values, dup-heavy, 2 empties, arrival order pinned
    vals = ["X", " Foo ", "bar", "", "foo", "42", None, "X", "zap", "  "]
    for i, v in enumerate(vals):
        rows.append(("f1", "a", i, v))
    # col "num": 80% numeric
    for i in range(10):
        rows.append(("f1", "num", i, str(i) if i < 8 else f"w{i}"))
    # 150 distinct values → sample capped at 100 (with cfg sample=100)
    for i in range(150):
        rows.append(("f2", "wide", i, f"v{i:03d}"))
    return spark.createDataFrame(
        rows, "file_id string, column_name string, ingest_key long, val string"
    )


@pytest.fixture(scope="module")
def sketches(spark, records):
    df = sketch_columns(records, SketchConfig(), n_salts=4)
    return {(r["file_id"], r["column_name"]): r.asDict() for r in df.collect()}


def test_counters_exact(sketches):
    a = sketches[("f1", "a")]
    # "" and "  " are empty; None → "null" (non-empty); "42" numeric
    assert a["count"] == 10
    assert a["empty_count"] == 2
    assert a["numeric_count"] == 1
    assert a["is_numeric"] is False
    num = sketches[("f1", "num")]
    assert num["numeric_count"] == 8 and num["is_numeric"] is True


def test_sample_arrival_order_distinct(sketches):
    a = sketches[("f1", "a")]
    # normalized arrival order: x, foo, bar, foo(dup), 42, null, x(dup), zap
    assert a["sample"] == ["x", "foo", "bar", "42", "null", "zap"]
    assert a["distinct_count"] == 6  # < sample_size → len(sample)


def test_sample_cap_and_distinct_rule(sketches):
    w = sketches[("f2", "wide")]
    assert len(w["sample"]) == 100
    assert w["sample"] == [f"v{i:03d}" for i in range(100)]  # arrival order
    assert w["distinct_count"] >= 100  # rule: max(len(sample), hll)
    assert abs(w["distinct_count"] - 150) <= 25


def test_minhash_matches_spark_hash_oracle(spark, sketches):
    """Engine minhash == scalar oracle over murmur3 hashes of the distinct
    normalized values (duplicates must not matter)."""
    vals = ["x", "foo", "bar", "42", "null", "zap"]
    h32 = [
        r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select(F.hash("v").alias("h"))
        .collect()
    ]
    perms = MinHashPermutations(256, 43)
    oracle = scalar_minhash(h32, perms)
    got = np.array(sketches[("f1", "a")]["minhash"], dtype=np.int64).view(np.uint64)
    assert (got == oracle).all()


def test_joinable_search_end_to_end(spark):
    # column q ⊂ column big (containment 1.0-ish), column other disjoint
    rows = []
    for i in range(60):
        rows.append(("qf", "q", i, f"k{i:04d}"))
    for i in range(80):
        rows.append(("xf", "big", i, f"k{i:04d}"))
    for i in range(80):
        rows.append(("xf", "other", i, f"z{i:04d}"))
    rec = spark.createDataFrame(
        rows, "file_id string, column_name string, ingest_key long, val string"
    )
    sk = sketch_columns(rec, SketchConfig(), n_salts=2).cache()
    res = joinable_column_search(
        sk.filter(F.col("file_id") == "qf"), sk, threshold=0.1, k=5
    ).collect()
    assert len(res) >= 1
    top = res[0]
    assert (top["file_id"], top["column_name"]) == ("xf", "big")
    assert top["containment"] > 0.7
    assert all((r["file_id"], r["column_name"]) != ("qf", "q") for r in res)


def test_bands_table_shape(spark):
    rec = spark.createDataFrame(
        [("f", "c", i, f"v{i}") for i in range(30)],
        "file_id string, column_name string, ingest_key long, val string",
    )
    sk = sketch_columns(rec, SketchConfig(), n_salts=2)
    b, r = optimal_param(0.5, 256)
    bt = bands_table(sk, b, r)
    assert bt.count() == b
    assert bt.select("band_idx").distinct().count() == b


def test_word_vector_sketch_fields(spark):
    """A8 full: word_vector_data = mean of per-value token-vector sums
    over in-vocabulary values; word_vector_column_name = sum of the
    name's token vectors (None when all name tokens are OOV); disabled
    mode emits NULL vectors and oov=0 (reference column_sketch.py:
    127-146,188-197; create_sketch_tables.sql:27-48)."""
    import numpy as np

    from findopendata_spark.config import SketchConfig
    from findopendata_spark.enrichment import _HashVectorModel
    from findopendata_spark.sketch.column_sketch import sketch_columns

    rows = [
        ("f", "city name", 1, "new york"),
        ("f", "city name", 2, "la"),          # all tokens < 3 chars -> OOV
        ("f", "city name", 3, "san diego"),
        ("f", "ab", 4, "boston"),             # column name fully OOV
    ]
    rec = spark.createDataFrame(
        rows, "file_id string, column_name string, ingest_key long, val string"
    )
    cfg = SketchConfig(enable_word_vector_data=True)
    out = {
        r["column_name"]: r
        for r in sketch_columns(rec, cfg, n_salts=2).collect()
    }
    city = out["city name"]
    assert city["out_of_vocabulary_count"] == 1
    model = _HashVectorModel()
    expected = np.zeros(16)
    for v in ("new york", "san diego"):
        vecs, _ = model.vectors(v.split())
        expected += vecs.sum(axis=0)
    expected /= 2.0
    np.testing.assert_allclose(city["word_vector_data"], expected, rtol=1e-6)
    nv, _ = model.vectors(["city", "name"])
    np.testing.assert_allclose(
        city["word_vector_column_name"], nv.sum(axis=0), rtol=1e-6
    )
    assert out["ab"]["word_vector_column_name"] is None

    off = sketch_columns(rec, SketchConfig(), n_salts=2).collect()
    assert all(r["word_vector_data"] is None for r in off)
    assert all(r["out_of_vocabulary_count"] == 0 for r in off)


def test_joinable_search_host_filter(spark):
    """F8 (apiserver/main.py:452-454): original_hosts restricts candidate
    files; self-exclusion still applies; exact variant honors it too."""
    from findopendata_spark.sketch.column_sketch import column_values
    from findopendata_spark.sketch.lsh import joinable_column_search_exact

    rows = []
    for i in range(60):
        rows.append(("qf", "q", i, f"k{i:04d}"))
    for fid in ("h1", "h2"):
        for i in range(80):
            rows.append((fid, "big", i, f"k{i:04d}"))
    rec = spark.createDataFrame(
        rows, "file_id string, column_name string, ingest_key long, val string"
    )
    sk = sketch_columns(rec, SketchConfig(), n_salts=2).cache()
    qf = sk.filter(F.col("file_id") == "qf")
    unfiltered = joinable_column_search(qf, sk, threshold=0.1, k=5).collect()
    assert {r["file_id"] for r in unfiltered} == {"h1", "h2"}
    only_h2 = joinable_column_search(
        qf, sk, threshold=0.1, k=5, original_hosts=["h2"]
    ).collect()
    assert {r["file_id"] for r in only_h2} == {"h2"}
    exact_h2 = joinable_column_search_exact(
        qf, sk, column_values(rec), threshold=0.1, k=5,
        original_hosts=["h2"],
    ).collect()
    assert {r["file_id"] for r in exact_h2} == {"h2"}
    assert exact_h2[0]["containment"] == 1.0  # q ⊂ big exactly


def test_exact_verify_scores_zero_overlap_candidates_at_threshold_zero(spark):
    """Exact verify over indexed value sets: column sizes are value
    counts after normalization (trim, lowercase, NULL as "null", empty
    skipped); a candidate that shares no value with the query scores 0
    and is kept at threshold 0, dropped above it."""
    from findopendata_spark.sketch.column_sketch import column_values
    from findopendata_spark.sketch.lsh import joinable_column_search_exact

    rows = [("qf", "q", i, f"k{i:04d}") for i in range(60)]
    rows += [("h1", "big", i, f"K{i:04d} ") for i in range(80)]
    rows += [("h2", "part", i, f"k{i + 50:04d}") for i in range(80)]
    rows += [("h3", "dup", i, f"k{i:04d}") for i in range(60)]
    rows += [
        ("h4", "sm", i, None if i == 0 else "" if i == 1 else f"k{i:04d}")
        for i in range(40)
    ]
    schema = "file_id string, column_name string, ingest_key long, val string"
    sk = sketch_columns(spark.createDataFrame(rows, schema), SketchConfig(), n_salts=2)
    qf = sk.filter(F.col("file_id") == "qf")
    # h3's sketch matches the query's, but its indexed values share none
    verify_rows = [
        (f, c, k, "z" + v if f == "h3" else v) for f, c, k, v in rows
    ]
    values = column_values(spark.createDataFrame(verify_rows, schema))

    sets: dict[tuple, set] = {}
    for f, c, _, v in verify_rows:
        v = "null" if v is None else v.strip().lower()
        if v:
            sets.setdefault((f, c), set()).add(v)
    q = sets[("qf", "q")]

    def scores(threshold):
        return {
            (r["file_id"], r["column_name"]): (r["jaccard"], r["containment"])
            for r in joinable_column_search_exact(
                qf, sk, values, threshold=threshold, k=10
            ).collect()
        }

    got = scores(0.0)
    assert set(got) == {("h1", "big"), ("h2", "part"), ("h3", "dup"), ("h4", "sm")}
    for key, (j, c) in got.items():
        x = sets[key]
        inter = len(x & q)
        assert j == round(inter / len(x | q), 6), key
        assert c == round(inter / len(q), 6), key
    assert got[("h3", "dup")] == (0.0, 0.0)
    assert set(scores(0.05)) == set(got) - {("h3", "dup")}
