"""Property-style URL canonicalization tests (SURVEY §5 item 5):
idempotence + invariants over the full combinatorial component space,
evaluated in one Spark job."""

from __future__ import annotations

import itertools

from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from findopendata_spark.functions.urls import (
    canonicalize_url,
    canonicalize_url_uri,
    url_host,
)

SCHEMES = ["http", "https", "HTTP", "HtTpS"]
HOSTS = ["Example.ORG", "a.b.co", "data-7.example.net", "X9.example.org"]
PORTS = ["", ":80", ":443", ":8080"]
PATHS = ["", "/", "/d/000000000042", "/A/b/C/", "/x//y/"]
QUERIES = ["", "?b=2&a=1", "?z=9", "?a=1&a=0", "?k=v&c=d&b=x"]
FRAGS = ["", "#sec", "#a/b"]


def _all_urls():
    combos = itertools.product(SCHEMES, HOSTS, PORTS, PATHS, QUERIES, FRAGS)
    return [f"{s}://{h}{po}{pa}{q}{f}" for s, h, po, pa, q, f in combos]


def test_canonicalize_idempotent_and_invariants(spark):
    urls = _all_urls()  # 4*4*4*5*5*3 = 4800 combinations
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = (
        df.select(
            "url",
            canonicalize_url(F.col("url")).alias("c1"),
            url_host(F.col("url")).alias("h"),
        )
        .withColumn("c2", canonicalize_url(F.col("c1")))
        .withColumn("h2", url_host(F.col("c1")))
        .collect()
    )
    assert len(out) == 4800
    for r in out:
        # idempotence: the canonical form is a fixed point
        assert r["c2"] == r["c1"], (r["url"], r["c1"], r["c2"])
        # host extraction is stable across canonicalization
        assert r["h2"] == r["h"], (r["url"], r["h"], r["h2"])
        # invariants: no fragment, lowercase scheme, no trailing slash,
        # default ports dropped, query params sorted
        assert "#" not in r["c1"]
        scheme, rest = r["c1"].split("://", 1)
        assert scheme == scheme.lower()
        authority = rest.split("/")[0].split("?")[0]
        # only the SCHEME-MATCHING default port is dropped; http://h:443
        # is a real non-default port and must survive
        if scheme == "http":
            assert not authority.endswith(":80")
        if scheme == "https":
            assert not authority.endswith(":443")
        assert r["h"] == r["h"].lower()
        before_query = r["c1"].split("?")[0]
        assert not before_query.endswith("/")
        if "?" in r["c1"]:
            parts = r["c1"].split("?", 1)[1].split("&")
            assert parts == sorted(parts)
    # distinct canonical keys collapse exactly the case/port/fragment/
    # query-order variants: every (host-lower, path-stripped, sorted-query)
    # class maps to ONE canonical form
    canon = {r["c1"] for r in out}
    assert len(canon) < len(urls)  # real collapsing happened


def test_guarded_canonicalizer_matches_uri_reference(spark):
    """r06 differential test: the guarded passthrough canonicalizer must
    be byte-identical to the unguarded r05 java.net.URI implementation
    over an EXTENDED messy component space (userinfo, non-http schemes,
    odd ports, empty/dup-? queries, fragment edges, empty authority) AND
    over every canonical fixed point of that space (the rows where the
    fast-path guard actually fires)."""
    schemes = ["http", "https", "HTTP", "HtTpS", "ftp"]
    hosts = ["Example.ORG", "a.b.co", "data-7.example.net",
             "127.0.0.1", "User:pw@Host.COM"]
    ports = ["", ":80", ":443", ":8080", ":980"]
    paths = ["", "/", "/d/000000000042", "/A/b/C/", "/x//y/", "///",
             "/private/x"]
    queries = ["", "?b=2&a=1", "?a=1&a=0", "?", "?a?b"]
    frags = ["", "#sec", "#f?x=1"]
    urls = [
        f"{s}://{h}{po}{pa}{q}{f}"
        for s, h, po, pa, q, f in itertools.product(
            schemes, hosts, ports, paths, queries, frags
        )
    ] + ["http:///x", "https:///",
         "https://hot.example.net/d/000000000007"]
    # (malformed URLs — "http://", embedded spaces, scheme-less strings —
    # make ANSI-mode parse_url THROW, identically with or without the
    # guard, so they cannot appear in a collect-and-compare corpus)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    # round 1: messy inputs; round 2: their canonical forms (fast-path
    # rows) — both must agree with the unguarded reference
    canon = (
        df.select(canonicalize_url(F.col("url")).alias("url"))
        .filter(F.col("url").isNotNull())
        .distinct()
    )
    for frame in (df, canon):
        bad = (
            frame.select(
                "url",
                canonicalize_url(F.col("url")).alias("fast"),
                canonicalize_url_uri(F.col("url")).alias("uri"),
            )
            .filter(~F.col("fast").eqNullSafe(F.col("uri")))
            .collect()
        )
        assert bad == [], bad[:5]


def test_guarded_canonicalizer_throws_where_uri_reference_throws(spark):
    """Inputs on which the URI reference throws (ANSI ``parse_url``) must
    not slip through the fast-path guard. Java's ``$`` also matches
    before a final line terminator, so a ``$``-anchored guard returned
    ``https://abc.example.net/d/1\\n`` unchanged instead of failing the
    way the reference does; the guard is anchored with ``\\z``."""
    base = "https://abc.example.net/d/1"
    urls = [base + t for t in ("\n", "\r\n", "\r", "\u0085", " ")] + [
        "http://", "http://a b.example.net/x", "https://abc.example.net/%zz",
    ]

    def outcome(fn, url):
        df = spark.createDataFrame([(url,)], "url string")
        try:
            return ("ok", df.select(fn(F.col("url"))).collect()[0][0])
        except PySparkException as e:  # the failure is the outcome
            return ("throws", type(e).__name__)

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for u in urls:
            want = outcome(canonicalize_url_uri, u)
            assert want[0] == "throws", (u, want)  # corpus precondition
            assert outcome(canonicalize_url, u) == want, u
        # the well-formed prefix still takes the fast path unchanged
        assert outcome(canonicalize_url, base) == ("ok", base)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
