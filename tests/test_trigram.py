"""Differential test of ``trigram_set_expr`` against the definition it
replaced: ``array_distinct(transform(sequence(1, len - 2), i ->
substr(t, i, 3)))``, one interpreted lambda call per character. The new
expression is a single codegen'd ``regexp_extract_all``; the two must
agree element for element (same grams, same first-occurrence order)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from findopendata_spark import config
from findopendata_spark.sketch.trigram_index import trigram_set_expr

INPUTS = [
    "Hello World",
    "open data portal",
    "Ççé àà Ünïcödé",                 # accented Latin
    "ΟΔΥΣΣΕΥΣ ΣΊΣ ως",                 # Greek, final sigma under lower()
    "日本語のテキスト検索",             # CJK
    "x😀yz😀😀ab",                     # non-BMP: surrogate pairs in UTF-16
    "😀😀😀",
    "ab\ncd\te\n",                      # grams spanning \n and \t
    "\n\n\n\n",
    "a\r\nb",
    "aaaaaa",                           # duplicates collapse
    "", "a", "ab", "abc", "😀", "😀a",   # length 0-3
    None,
]


def _trigram_set_reference(col):
    """The previous definition, kept as the oracle."""
    t = F.lower(col)
    return F.when(
        F.length(t) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 2),
                lambda i: F.substr(t, i, F.lit(3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _compare(df, col):
    return df.select(
        col.alias("t"),
        trigram_set_expr(col).alias("got"),
        _trigram_set_reference(col).alias("want"),
    )


def test_trigram_set_matches_reference_definition(spark):
    df = spark.createDataFrame([(s,) for s in INPUTS], "t string")
    rows = _compare(df, F.col("t")).collect()
    assert len(rows) == len(INPUTS)
    for r in rows:
        assert r["got"] == r["want"], (r["t"], r["got"], r["want"])
    by_text = {r["t"]: r["got"] for r in rows}
    assert by_text["😀😀😀"] == ["😀😀😀"]
    assert "\ncd" in by_text["ab\ncd\te\n"]
    assert by_text["aaaaaa"] == ["aaa"]
    assert by_text[None] == [] and by_text["ab"] == []


@pytest.mark.parametrize("pattern", [r"(?=(.{3}))", r"(?s)(?=(.{3}))"])
def test_naive_trigram_patterns_are_wrong(spark, pattern):
    """The pitfalls the pattern guards against are real: without (?s)
    grams across a newline vanish, and without the surrogate guard a
    gram starts mid-pair on emoji. The inputs above catch both."""
    df = spark.createDataFrame([(s,) for s in INPUTS], "t string")
    t = F.lower(F.col("t"))
    naive = F.when(
        F.length(t) >= 3,
        F.array_distinct(F.regexp_extract_all(t, F.lit(pattern), 1)),
    ).otherwise(F.array().cast("array<string>"))
    diff = (
        df.select(naive.alias("n"), _trigram_set_reference(F.col("t")).alias("w"))
        .filter(~F.col("n").eqNullSafe(F.col("w")))
        .count()
    )
    assert diff > 0


def test_trigram_set_matches_reference_on_documents(spark):
    """Every indexed field of the sf0.01 corpus (text, title = chars
    1-40, description = chars 41-240) yields identical gram arrays."""
    docs = spark.read.parquet(f"{config.testdata_dir('0.01')}/documents.parquet")
    fields = {
        "text": F.col("text"),
        "title": F.substring("text", 1, 40),
        "description": F.substring("text", 41, 200),
    }
    for name, col in fields.items():
        cmp = _compare(docs, col)
        bad = cmp.filter(~F.col("got").eqNullSafe(F.col("want")))
        assert bad.count() == 0, (name, bad.limit(3).collect())
        assert cmp.filter(F.size("got") > 0).count() > 0
