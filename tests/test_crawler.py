"""Crawler engine tests (SURVEY.md §5 strategy items 2/4/5).

The golden oracle is a pure-Python reference-style simulator that walks
the same synthetic portal graph with the reference harvester's scheduling
semantics — serial per-host scrolls under a politeness budget, seen-set
dedup before fetch (``ckan_crawler.py:255-273``), robots/format gating
before download (``:161-176``) — and must agree with the Spark engine on
(a) which URL is fetched in which wave per host (visit ordering), and
(b) the final URL-seen set.
"""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from findopendata_spark.config import CrawlConfig
from findopendata_spark.crawler import crawl
from findopendata_spark.crawler import graph as G
from findopendata_spark.crawler.bloom import bloom_size_bits, build_bloom, with_maybe_seen

GCFG = G.GraphConfig(graph_size=500)
CCFG = CrawlConfig(per_host_wave_budget=10)
WAVES = 4


@pytest.fixture(scope="module")
def crawl_state(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("crawl_a"))
    state = crawl(spark, d, waves=WAVES, cfg=CCFG, gcfg=GCFG)
    return state


# ---------------------------------------------------------------------------
# Reference-style simulator (the golden oracle)
# ---------------------------------------------------------------------------

def _spark_xxhash64(spark, urls):
    if not urls:
        return {}
    df = spark.createDataFrame([(u,) for u in sorted(urls)], "url string")
    return {r["url"]: r["h"] for r in df.select("url", F.xxhash64("url").alias("h")).collect()}


def simulate(spark, gcfg: G.GraphConfig, cfg: CrawlConfig, waves: int):
    robots = {r["host"]: r for _, r in G.robots_rows(gcfg).iterrows()}
    seeds = G.seed_portal_rows(gcfg)
    frontier: dict[str, tuple[str, int, float]] = {}  # url -> (host, depth, prio)
    seen: set[str] = set()
    visits: list[tuple[int, str, str]] = []  # (wave, host, url)

    def blocked(host, url):
        r = robots.get(host)
        if r is None:
            return False
        path = url.split("://", 1)[1]
        path = path[path.find("/"):] if "/" in path else ""
        return path.startswith(r["disallow_prefix"])

    for _, s in seeds[seeds.enabled].iterrows():
        if not blocked(s["host"], s["endpoint"]) and s["endpoint"] not in seen:
            frontier[s["endpoint"]] = (s["host"], 0, 1.0)
            seen.add(s["endpoint"])

    last_fetch: dict[str, int] = {}
    for wave in range(1, waves + 1):
        by_host: dict[str, list[str]] = {}
        for url, (host, depth, prio) in frontier.items():
            delay = robots.get(host, {"crawl_delay": cfg.default_crawl_delay_s})["crawl_delay"]
            if host not in last_fetch or wave >= last_fetch[host] + delay:
                by_host.setdefault(host, []).append(url)
        selected = []
        for host, urls in by_host.items():
            urls.sort(key=lambda u: (-frontier[u][2], u))
            take = urls[: cfg.per_host_wave_budget]
            selected += take
            last_fetch[host] = wave
            for u in take:
                visits.append((wave, host, u))
        # fetch + extract links
        hashes = _spark_xxhash64(spark, selected)
        cand: dict[str, int] = {}
        for u in selected:
            h = np.array([hashes[u]], dtype=np.int64).view(np.uint64)
            _, kind, text, _, _ = G.synth_fetch_pandas(
                pd.Series(h), pd.Series([frontier[u][1]]), gcfg
            )
            for t in text[kind == "link"]:
                host_t = t.split("://", 1)[1].split("/", 1)[0]
                if blocked(host_t, t):
                    continue
                d = frontier[u][1] + 1
                cand[t] = min(cand.get(t, d), d)
        for u in selected:
            del frontier[u]
        for t, d in cand.items():
            if t not in seen:
                seen.add(t)
                frontier[t] = (t.split("://", 1)[1].split("/", 1)[0], d, 1.0 / (d + 1))
    return visits, seen


@pytest.fixture(scope="module")
def sim(spark):
    return simulate(spark, GCFG, CCFG, WAVES)


def test_visit_ordering_parity(spark, crawl_state, sim):
    """(wave, host, url) fetch schedule matches the reference simulator."""
    visits_sim, _ = sim
    docs = crawl_state.cat.read_appended(spark, "docs")
    engine = sorted(
        (r["wave"], r["host"], r["url_canon"])
        for r in docs.select("wave", "host", "url_canon").collect()
    )
    assert engine == sorted(visits_sim)


def test_seen_set_parity(spark, crawl_state, sim):
    """Final URL-seen set equality (north rule)."""
    _, seen_sim = sim
    seen = crawl_state.cat.read_appended(spark, "seen")
    engine = {r["url_canon"] for r in seen.select("url_canon").collect()}
    assert engine == seen_sim


def test_seen_unique_and_frontier_disjoint(spark, crawl_state):
    seen = crawl_state.cat.read_appended(spark, "seen")
    assert seen.count() == seen.select("url_canon").distinct().count()
    docs = crawl_state.cat.read_appended(spark, "docs")
    frontier = crawl_state.cat.read(spark, "frontier")
    refetch = frontier.join(docs, "url_canon", "inner").count()
    assert refetch == 0  # nothing fetched stays in the frontier


def test_politeness_budget_and_delay(spark, crawl_state):
    docs = crawl_state.cat.read_appended(spark, "docs")
    per = docs.groupBy("wave", "host").count().collect()
    assert all(r["count"] <= CCFG.per_host_wave_budget for r in per)
    # crawl_delay=3 host: consecutive fetch waves spaced >= 3
    waves = sorted(
        r["wave"]
        for r in docs.filter(F.col("host") == "data-0.example.net")
        .select("wave").distinct().collect()
    )
    assert all(b - a >= 3 for a, b in zip(waves, waves[1:]))


def test_robots_disallow(spark, crawl_state):
    seen = crawl_state.cat.read_appended(spark, "seen")
    assert seen.filter(F.col("url_canon").contains("/private/")).count() == 0


def test_lineage_conservation(spark, crawl_state):
    """enqueued + deduped == candidates, per (wave, shard) and globally."""
    lin = crawl_state.cat.read_appended(spark, "lineage")
    bad = lin.filter(
        F.col("urls_candidates") != F.col("urls_enqueued") + F.col("urls_deduped")
    ).count()
    assert bad == 0
    tot = lin.agg(F.sum("urls_enqueued").alias("e")).collect()[0]["e"]
    seen_n = crawl_state.cat.read_appended(spark, "seen").count()
    n_seeds = GCFG.n_enabled
    assert tot + n_seeds == seen_n


def test_resume_exactness(spark, crawl_state, tmp_path):
    """Run 2 waves, kill (leave staged garbage), resume to 4 → state identical
    to the uninterrupted 4-wave run (north rule: exact resume)."""
    d = str(tmp_path / "crawl_b")
    st_b = crawl(spark, d, waves=2, cfg=CCFG, gcfg=GCFG)
    # simulate a mid-wave kill: stage wave-3 data but never commit it
    frontier = st_b.cat.read(spark, "frontier")
    st_b.cat.stage(frontier.limit(1), "frontier", 3)
    st_b.cat.stage_append(frontier.limit(1), "seen", 3)
    assert st_b.cat.current_wave() == 2
    st_b2 = crawl(spark, d, waves=WAVES, cfg=CCFG, gcfg=GCFG)  # resume
    for table in ("seen", "docs"):
        a = crawl_state.cat.read_appended(spark, table)
        b = st_b2.cat.read_appended(spark, table)
        key = "url_canon" if table == "seen" else "doc_id"
        assert a.count() == b.count()
        assert a.join(b, key, "left_anti").count() == 0
    fa = crawl_state.cat.read(spark, "frontier")
    fb = st_b2.cat.read(spark, "frontier")
    assert fa.count() == fb.count()
    assert fa.join(fb, "url_canon", "left_anti").count() == 0
    shutil.rmtree(d, ignore_errors=True)


def test_span_sequence_equality_vs_fixture(spark, crawl_state):
    """Per-row invariant (BASELINE.json input_hint): span sequences
    (kind, text, media_ref, order) of the first two waves are byte-equal
    to the committed fixture parquet — guards the doc generator, the
    fetch UDF, and the JVM-side span assembly against regressions."""
    docs = crawl_state.cat.read_appended(spark, "docs").filter(F.col("wave") <= 2)
    flat = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "s")
    ).select(
        "doc_id", "span_idx",
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    fixture = spark.read.parquet(
        "tests/fixtures/docs_spans_w2.parquet"
    ).select("doc_id", "span_idx", "kind", "text", "media_ref", "offset")
    assert flat.count() == fixture.count()
    assert flat.exceptAll(fixture).count() == 0
    assert fixture.exceptAll(flat).count() == 0


def test_rerun_wave_is_idempotent(spark, crawl_state, tmp_path):
    """Property: crawling to wave k then asking for k again adds nothing."""
    st = crawl_state
    before = st.cat.current_wave()
    st2 = crawl(spark, st.cat.root, waves=before, cfg=CCFG, gcfg=GCFG)
    assert st2.cat.current_wave() == before


def test_richness_priority_mode(spark, tmp_path):
    """North-star scoring rule: with priority_mode='richness', child
    priority derives from the parent document's span richness — so the
    frontier carries non-uniform, deterministic priorities and the
    politeness window fetches richer-parent URLs first."""
    cfg = CrawlConfig(per_host_wave_budget=10, priority_mode="richness")
    d1, d2 = str(tmp_path / "r1"), str(tmp_path / "r2")
    st1 = crawl(spark, d1, waves=3, cfg=cfg, gcfg=GCFG)
    st2 = crawl(spark, d2, waves=3, cfg=cfg, gcfg=GCFG)
    fr = st1.cat.read(spark, "frontier")
    prios = [r["priority"] for r in fr.select("priority").distinct().collect()]
    assert len(prios) > 1  # scoring is active, not constant
    # deterministic: identical runs agree on the fetched set per wave
    a = sorted(
        (r["wave"], r["url_canon"])
        for r in st1.cat.read_appended(spark, "docs").collect()
    )
    b = sorted(
        (r["wave"], r["url_canon"])
        for r in st2.cat.read_appended(spark, "docs").collect()
    )
    assert a == b
    # politeness budget still holds
    per = st1.cat.read_appended(spark, "docs").groupBy("wave", "host").count()
    assert all(r["count"] <= cfg.per_host_wave_budget for r in per.collect())


# ---------------------------------------------------------------------------
# Bloom filter unit tests
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_low_fp(spark):
    rng = np.random.RandomState(7)
    keys = rng.randint(-(2**62), 2**62, size=5000, dtype=np.int64)
    fresh = rng.randint(-(2**62), 2**62, size=5000, dtype=np.int64)
    fresh = np.setdiff1d(fresh, keys)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    m = bloom_size_bits(len(keys), 10)
    bloom = build_bloom(df, m, 7)
    bc = spark.sparkContext.broadcast(bloom)
    probe_df = spark.createDataFrame(
        [(int(k), True) for k in keys] + [(int(k), False) for k in fresh],
        "url_hash long, member boolean",
    )
    res = with_maybe_seen(probe_df, bc, m, 7).collect()
    members = [r for r in res if r["member"]]
    non = [r for r in res if not r["member"]]
    assert all(r["maybe_seen"] for r in members)  # zero false negatives
    fp = sum(r["maybe_seen"] for r in non) / len(non)
    assert fp < 0.05


# ---------------------------------------------------------------------------
# Sharded seen-filter tests (Bloom + cuckoo modes)
# ---------------------------------------------------------------------------

def test_cuckoo_mode_wave_parity(spark, sim, tmp_path):
    """The crawl under cfg.seen_filter='cuckoo' reproduces the same visit
    ordering and seen set as the simulator (and hence the Bloom mode)."""
    visits_sim, seen_sim = sim
    cfg = CrawlConfig(per_host_wave_budget=10, seen_filter="cuckoo")
    state = crawl(spark, str(tmp_path / "cuckoo"), waves=WAVES, cfg=cfg, gcfg=GCFG)
    docs = state.cat.read_appended(spark, "docs")
    engine = sorted(
        (r["wave"], r["host"], r["url_canon"])
        for r in docs.select("wave", "host", "url_canon").collect()
    )
    assert engine == sorted(visits_sim)
    seen = state.cat.read_appended(spark, "seen")
    assert {r["url_canon"] for r in seen.select("url_canon").collect()} == seen_sim


def test_sharded_filter_no_false_negatives_both_modes(spark):
    from findopendata_spark.crawler.seen import ShardedSeenFilter

    rng = np.random.RandomState(11)
    keys = rng.randint(-(2**62), 2**62, size=8000, dtype=np.int64)
    fresh = np.setdiff1d(
        rng.randint(-(2**62), 2**62, size=8000, dtype=np.int64), keys
    )
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    probe_df = spark.createDataFrame(
        [(int(k), True) for k in keys] + [(int(k), False) for k in fresh],
        "url_hash long, member boolean",
    )
    for mode in ("bloom", "cuckoo"):
        cfg = CrawlConfig(seen_filter=mode)
        filt = ShardedSeenFilter.build(df, len(keys) * 4, cfg)
        res = filt.with_maybe_seen(spark, probe_df).collect()
        members = [r for r in res if r["member"]]
        non = [r for r in res if not r["member"]]
        assert all(r["maybe_seen"] for r in members), mode
        fp = sum(r["maybe_seen"] for r in non) / len(non)
        assert fp < 0.05, (mode, fp)
        # incremental delta: inserted keys become maybe_seen
        delta = spark.createDataFrame([(int(k),) for k in fresh[:500]], "url_hash long")
        filt.or_delta(spark, delta)
        res2 = filt.with_maybe_seen(
            spark, spark.createDataFrame([(int(k),) for k in fresh[:500]], "url_hash long")
        ).collect()
        assert all(r["maybe_seen"] for r in res2), mode


def test_shard_bitset_size_stays_bounded(spark):
    """Per-shard blob size is ~total/S and grows with keys/S, not with the
    partition count or total key count at fixed keys-per-shard — the
    10^10 scale invariant (no monolithic driver bitset)."""
    from findopendata_spark.crawler.seen import ShardedSeenFilter

    cfg = CrawlConfig()  # bloom, 16 shards
    for n_keys in (10_000, 40_000):
        rng = np.random.RandomState(n_keys)
        keys = rng.randint(-(2**62), 2**62, size=n_keys, dtype=np.int64)
        df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long").repartition(32)
        filt = ShardedSeenFilter.build(df, n_keys * 4, cfg)
        assert len(filt.shards) == cfg.bloom_shards
        per_shard = {len(b) for b in filt.shards.values()}
        assert len(per_shard) == 1  # uniform shard sizing
        expected_bits = filt.m_bits_shard
        # each shard is sized for n/S keys (pow2-rounded), NOT for n keys
        assert expected_bits * cfg.bloom_shards <= 2 * (
            n_keys * 4 * cfg.bloom_bits_per_key * 2
        )
        assert per_shard.pop() == expected_bits // 8


def test_paginate_global_rank_is_distributed(spark):
    """paginate without partition_cols must not funnel the data through a
    single-task global window: the data-bearing window partitions by the
    range-partition id; only the tiny per-partition count frame sees an
    unpartitioned window. Coordinates stay byte-equal to the brute
    single-window rank."""
    from pyspark.sql import Window

    from findopendata_spark.sources.scroll import paginate

    df = spark.range(10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    paged = paginate(df, ["k"], page_size=50)
    plan = paged._jdf.queryExecution().executedPlan().toString()
    # the full-data window is keyed by _pid (spark_partition_id)
    assert "windowspecdefinition(_pid" in plan
    got = {(r["k"], r["page"], r["slot"]) for r in paged.collect()}
    w = Window.partitionBy().orderBy(F.asc("k"))
    rn = F.row_number().over(w) - 1
    brute = {
        (r["k"], r["page"], r["slot"])
        for r in df.withColumn("page", (rn / 50).cast("int"))
        .withColumn("slot", (rn % 50).cast("int"))
        .collect()
    }
    assert got == brute


def test_fetch_failure_accounting_and_resume(spark, tmp_path):
    """VERDICT r03 item 7: with a nonzero deterministic failure rate,
    permanently-failed fetches (a) appear in lineage as urls_failed,
    (b) never reach the docs table, (c) conserve exactly
    (fetched == distinct docs + failed per wave), and (d) resume stays
    exact because the failure mask is a pure function of the URL."""
    gcfg = G.GraphConfig(graph_size=500, fail_ppt=400, max_retries=2)
    # fail_ppt=400, 2 attempts -> permanent failure prob 0.16/url
    d = str(tmp_path / "crawl_fail")
    st = crawl(spark, d, waves=3, cfg=CCFG, gcfg=gcfg)
    lin = st.cat.read_appended(spark, "lineage")
    tot = lin.agg(
        F.sum("urls_fetched").alias("f"), F.sum("urls_failed").alias("x")
    ).collect()[0]
    assert tot["x"] > 0, "no failures with fail_ppt=400"
    # per-wave conservation: attempts == ok docs + failures
    docs = st.cat.read_appended(spark, "docs")
    per_wave_docs = {
        r["wave"]: r["n"]
        for r in docs.groupBy("wave").agg(
            F.countDistinct("url_canon").alias("n")
        ).collect()
    }
    for r in lin.groupBy("wave").agg(
        F.sum("urls_fetched").alias("f"), F.sum("urls_failed").alias("x")
    ).collect():
        assert r["f"] == per_wave_docs.get(r["wave"], 0) + r["x"], r
    # failed URLs never produce doc rows
    assert docs.filter(F.col("spans").isNull()).count() == 0
    # resume exactness with failures enabled
    d2 = str(tmp_path / "crawl_fail_resume")
    crawl(spark, d2, waves=2, cfg=CCFG, gcfg=gcfg)
    st2 = crawl(spark, d2, waves=3, cfg=CCFG, gcfg=gcfg)
    a, b = st.cat.read_appended(spark, "seen"), st2.cat.read_appended(spark, "seen")
    assert a.count() == b.count()
    assert a.join(b, "url_canon", "left_anti").count() == 0
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(d2, ignore_errors=True)


def test_adaptive_topk_parity(spark, tmp_path):
    """The salted pre-rank is purely a skew guard — the exact per-host
    window IS the selection spec. With a budget large enough that
    frontier_count <= salt * budget, 'auto' skips the guard (saving a
    full frontier shuffle+sort); the crawl must be IDENTICAL to a run
    with the guard forced on, and to one with it forced off."""
    results = {}
    for mode in ("always", "auto", "never"):
        cfg = CrawlConfig(per_host_wave_budget=5000, hot_host_salt=8,
                          two_phase_topk=mode)
        d = str(tmp_path / f"topk_{mode}")
        st = crawl(spark, d, waves=2, cfg=cfg, gcfg=GCFG)
        seen = {
            (r["url_canon"], r["first_wave"])
            for r in st.cat.read_appended(spark, "seen").collect()
        }
        frontier = {
            r["url_canon"] for r in st.cat.read(spark, "frontier").collect()
        }
        results[mode] = (seen, frontier)
        shutil.rmtree(d, ignore_errors=True)
    # seed frontier is small => budget*salt >= frontier => auto == never
    assert results["auto"] == results["always"] == results["never"]
    # and with a SMALL budget (pre-rank active and pruning), auto keeps
    # the guard and still matches the forced-on run
    small = {}
    for mode in ("always", "auto"):
        cfg = CrawlConfig(per_host_wave_budget=10, hot_host_salt=8,
                          two_phase_topk=mode)
        d = str(tmp_path / f"topk_small_{mode}")
        st = crawl(spark, d, waves=2, cfg=cfg, gcfg=GCFG)
        small[mode] = {
            (r["url_canon"], r["first_wave"])
            for r in st.cat.read_appended(spark, "seen").collect()
        }
        shutil.rmtree(d, ignore_errors=True)
    assert small["auto"] == small["always"]


def test_fetch_adapter_seam_flaky_http(spark, tmp_path):
    """VERDICT r03 item 5: the fetch backend is an injectable adapter.
    A 2-wave crawl through HttpFetchAdapter with a deterministic flaky
    transport: transient failures are retried and produce docs with the
    parsed interleaved spans; permanent failures land in lineage as
    urls_failed and never reach docs; conservation holds per wave.
    (Transport/parser defined in-function so cloudpickle ships them by
    VALUE — executors cannot import the tests module.)"""
    from findopendata_spark.crawler.fetch import HttpFetchAdapter

    class FlakyTransport:
        """Deterministic fake HTTP transport: per URL (by md5 first
        byte) ~25% fail every attempt (permanent), ~25% fail only the
        first attempt (retry succeeds), rest succeed immediately.
        Attempt state lives in the instance — retries happen inside one
        fetch_batch call."""

        def __init__(self):
            self.calls = {}

        def __call__(self, url: str) -> bytes:
            import hashlib

            b = hashlib.md5(url.encode()).digest()[0]
            n = self.calls[url] = self.calls.get(url, 0) + 1
            if b < 64:
                raise OSError(f"connection refused: {url}")
            if b < 128 and n == 1:
                raise TimeoutError(f"timeout: {url}")
            return f"body of {url}".encode()

    def parse_with_link(url: str, body: bytes) -> list:
        import hashlib

        tid = int.from_bytes(hashlib.md5(body).digest()[:4], "big") % 500
        target = f"https://data-0.example.net/d/{tid:012d}"
        return [
            ("text", body.decode(), None, 0),
            ("media", None, url + "#img", 1),
            ("link", target, None, 2),
        ]

    adapter = HttpFetchAdapter(
        FlakyTransport(), parse=parse_with_link, max_retries=3
    )
    d = str(tmp_path / "crawl_http")
    st = crawl(spark, d, waves=2, cfg=CCFG, gcfg=GCFG, fetch_adapter=adapter)
    lin = st.cat.read_appended(spark, "lineage")
    tot = lin.agg(
        F.sum("urls_fetched").alias("f"), F.sum("urls_failed").alias("x")
    ).collect()[0]
    assert tot["f"] > 0 and tot["x"] > 0  # both outcomes exercised
    docs = st.cat.read_appended(spark, "docs")
    # md5-first-byte < 64 is a permanent failure: no doc may exist for one
    import hashlib

    for r in docs.select("url_canon").collect():
        assert hashlib.md5(r["url_canon"].encode()).digest()[0] >= 64
    # parsed spans came through the adapter in interleaved shape
    row = docs.first()
    spans = sorted(row["spans"], key=lambda s: s["offset"])
    assert [s["kind"] for s in spans] == ["text", "media", "link"]
    assert spans[0]["text"].startswith("body of ")
    assert spans[1]["media_ref"].endswith("#img")
    # conservation per wave: fetched == ok docs + failed
    per_wave_docs = {
        r["wave"]: r["n"]
        for r in docs.groupBy("wave").agg(
            F.countDistinct("url_canon").alias("n")).collect()
    }
    for r in lin.groupBy("wave").agg(
        F.sum("urls_fetched").alias("f"), F.sum("urls_failed").alias("x")
    ).collect():
        assert r["f"] == per_wave_docs.get(r["wave"], 0) + r["x"], r
    # wave 2 crawled links DISCOVERED by the adapter's parser (dedup'd)
    w2 = docs.filter(F.col("wave") == 2).count()
    assert w2 > 0
    shutil.rmtree(d, ignore_errors=True)


def test_sharded_probe_parity_and_residency(spark):
    """VERDICT r03 item 6: the cogroup probe must (a) agree exactly with
    the broadcast probe for both filter kinds, and (b) hand each task at
    most ONE shard's bytes (per-task filter residency)."""
    from findopendata_spark.crawler.seen import ShardedSeenFilter

    n = 4000
    seen_df = (
        spark.range(n)
        .select(
            F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias(
                "url_canon"
            )
        )
        .withColumn("url_hash", F.xxhash64("url_canon"))
    )
    probe_df = (
        spark.range(3 * n)
        .select(
            F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias(
                "url_canon"
            )
        )
        .withColumn("url_hash", F.xxhash64("url_canon"))
    )
    for kind in ("bloom", "cuckoo"):
        cfg = CrawlConfig(seen_filter=kind, bloom_shards=8)
        filt = ShardedSeenFilter.build(seen_df, n * 4, cfg)
        a = {
            r["url_canon"]: r["maybe_seen"]
            for r in filt.with_maybe_seen(spark, probe_df).collect()
        }
        sharded = filt.with_maybe_seen(
            spark, probe_df, mode="sharded", debug_bytes=True
        )
        rows = sharded.collect()
        b = {r["url_canon"]: r["maybe_seen"] for r in rows}
        assert a == b, f"{kind}: sharded probe diverges from broadcast"
        # every inserted key must still be maybe_seen (no false negatives)
        inserted = {r["url_canon"] for r in seen_df.collect()}
        assert all(b[u] for u in inserted), kind
        # residency: each task saw exactly one shard's bytes
        shard_bytes = {len(v) for v in filt.shards.values()}
        assert {r["_probe_bytes"] for r in rows} <= shard_bytes, kind


def test_wave_parity_sharded_probe_mode(spark, crawl_state, tmp_path):
    """A crawl run with seen_probe='sharded' must produce the identical
    seen set and frontier as the default broadcast-probe run."""
    d = str(tmp_path / "crawl_sharded")
    cfg = CrawlConfig(per_host_wave_budget=10, seen_probe="sharded")
    st = crawl(spark, d, waves=WAVES, cfg=cfg, gcfg=GCFG)
    for table in ("seen",):
        a = crawl_state.cat.read_appended(spark, table)
        b = st.cat.read_appended(spark, table)
        assert a.count() == b.count()
        assert a.join(b, "url_canon", "left_anti").count() == 0
    fa = crawl_state.cat.read(spark, "frontier")
    fb = st.cat.read(spark, "frontier")
    assert fa.count() == fb.count()
    assert fa.join(fb, "url_canon", "left_anti").count() == 0
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("filt", ["bloom", "cuckoo"])
def test_recrawl_stale_refreshes_and_refetches(spark, tmp_path, filt):
    """Freshness recrawl (reference: stale work list + freshness upsert):
    URLs last enqueued <= cutoff and not pending re-enter the frontier at
    recrawl priority and have their seen wave stamp refreshed via the
    append compaction — but REMAIN seen-set members throughout (ADVICE
    r03: evicting them broke the pending-URLs-are-in-seen invariant that
    run_wave's dedup relies on, allowing duplicate frontier rows when a
    link rediscovered a pending recrawl URL). The next wave re-fetches
    them under the same budgets without ever re-enqueueing them as new."""
    from findopendata_spark.crawler import recrawl_stale
    from findopendata_spark.crawler.wave import CrawlState, init_state, run_wave
    from findopendata_spark.catalog import SnapshotCatalog

    cfg = CrawlConfig(per_host_wave_budget=10, seen_filter=filt)
    d = str(tmp_path / f"recrawl_{filt}")
    state = crawl(spark, d, waves=2, cfg=cfg, gcfg=GCFG)
    cat = state.cat

    seen_before = {
        r["url_canon"]: r["first_wave"]
        for r in cat.read_appended(spark, "seen").collect()
    }
    frontier_before = {
        r["url_canon"] for r in cat.read(spark, "frontier").collect()
    }
    # invariant: every pending frontier URL is a seen-set member
    assert frontier_before <= set(seen_before)
    # age cutoff: everything last enqueued at wave <= 1 and not still
    # pending in the frontier must be re-enqueued for recrawl
    expect_recrawled = {
        u for u, w in seen_before.items()
        if w <= 2 - 1 - 0 and u not in frontier_before
    }
    stats = recrawl_stale(spark, state, max_age_waves=0)
    assert stats["wave"] == 3
    assert stats["recrawled"] == len(expect_recrawled) > 0

    seen_mid = {
        r["url_canon"]: r["first_wave"]
        for r in cat.read_appended(spark, "seen").collect()
    }
    # membership unchanged; recrawled rows' stamp refreshed to this wave
    assert set(seen_mid) == set(seen_before)
    assert all(seen_mid[u] == 3 for u in expect_recrawled)
    # time travel below the compaction wave (ADVICE r03 catalog fix):
    # upto=2 must resolve the append_base floor from wave 2's log entry
    # (no floor yet), not the current pointer's (floor=3), and so see
    # the exact pre-compaction historical view
    assert {
        r["url_canon"]: r["first_wave"]
        for r in cat.read_appended(spark, "seen", upto=2).collect()
    } == seen_before
    front_mid = cat.read(spark, "frontier")
    re_rows = front_mid.filter(F.col("priority") == 2.0)
    assert {r["url_canon"] for r in re_rows.collect()} == expect_recrawled
    # no duplicate frontier rows; invariant still holds mid-recrawl
    assert front_mid.count() == front_mid.select("url_canon").distinct().count()
    assert {r["url_canon"] for r in front_mid.collect()} <= set(seen_mid)

    # next wave re-fetches the recrawled URLs: dedup must BLOCK any link
    # that rediscovers them (they are still seen), so none re-enters as a
    # "new" URL and no duplicate frontier row appears
    run_wave(spark, state, 4)
    seen_after = {
        r["url_canon"]: r["first_wave"]
        for r in cat.read_appended(spark, "seen").collect()
    }
    assert set(seen_after) >= set(seen_mid)
    newly_enqueued = {u for u, w in seen_after.items() if w == 4}
    assert not (newly_enqueued & expect_recrawled)
    seen_df = cat.read_appended(spark, "seen")
    assert seen_df.count() == seen_df.select("url_canon").distinct().count()
    front_after = cat.read(spark, "frontier")
    assert front_after.count() == front_after.select("url_canon").distinct().count()
    # the recrawled URLs actually got fetched (left the frontier) —
    # budget permitting at least some must be gone
    still_pending = {
        r["url_canon"]
        for r in front_after.filter(F.col("priority") == 2.0).collect()
    }
    assert still_pending < expect_recrawled  # strictly fewer pending

    # resume from disk sees the compaction (append_base survives commit)
    state2 = CrawlState(SnapshotCatalog(d), cfg, GCFG)
    init_state(spark, state2)
    assert {
        r["url_canon"]: r["first_wave"]
        for r in state2.cat.read_appended(spark, "seen").collect()
    } == seen_after


def test_fetch_adapter_real_socket_loopback(spark, tmp_path):
    """VERDICT r04 item 9: drive HttpFetchAdapter through a REAL socket —
    a stdlib ThreadingHTTPServer on 127.0.0.1 (no external network). The
    transport maps each synthetic URL onto the local server and fetches
    with urllib over TCP; the server deterministically 503s some paths
    forever (permanent failure) and others only on their first hit
    (transient, retried) — failure accounting must be identical to the
    injected-callable test. (Transport/parser defined in-function so
    cloudpickle ships them by value.)"""
    import hashlib
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from findopendata_spark.crawler.fetch import HttpFetchAdapter

    hits: dict[str, int] = {}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            with lock:
                n = hits[self.path] = hits.get(self.path, 0) + 1
            b = hashlib.md5(self.path.encode()).digest()[0]
            if b < 48 or (b < 96 and n == 1):
                self.send_response(503)
                self.end_headers()
                return
            body = f"served {self.path}".encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        def transport(url: str) -> bytes:
            # map the synthetic URL onto the loopback server: the path
            # carries the original URL so behavior is per-URL
            import urllib.parse
            import urllib.request

            local = f"http://127.0.0.1:{port}/{urllib.parse.quote(url, safe='')}"
            return urllib.request.urlopen(local, timeout=5).read()

        def parse_with_link(url: str, body: bytes) -> list:
            import hashlib as h

            tid = int.from_bytes(h.md5(body).digest()[:4], "big") % 500
            target = f"https://data-0.example.net/d/{tid:012d}"
            return [
                ("text", body.decode(), None, 0),
                ("link", target, None, 1),
            ]

        adapter = HttpFetchAdapter(
            transport, parse=parse_with_link, max_retries=3
        )
        d = str(tmp_path / "crawl_loopback")
        st = crawl(spark, d, waves=2, cfg=CCFG, gcfg=GCFG,
                   fetch_adapter=adapter)
        lin = st.cat.read_appended(spark, "lineage")
        tot = lin.agg(
            F.sum("urls_fetched").alias("f"), F.sum("urls_failed").alias("x")
        ).collect()[0]
        assert tot["f"] > 0 and tot["x"] > 0
        docs = st.cat.read_appended(spark, "docs")
        n_docs = docs.select("url_canon").distinct().count()
        # conservation: fetched == ok docs + failed (across both waves)
        assert tot["f"] == n_docs + tot["x"]
        # the bytes really crossed the socket, and retries really re-hit
        with lock:
            assert sum(hits.values()) > 0
            assert any(n >= 2 for n in hits.values()), "no retry observed"
        # every served doc's span came from the HTTP body
        row = docs.first()
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        assert spans[0]["text"].startswith("served /")
    finally:
        httpd.shutdown()
        httpd.server_close()
    shutil.rmtree(d, ignore_errors=True)


def test_wave_partitions_scale_with_frontier(spark, tmp_path):
    """wave_partitions='auto' sizes shuffle partitions from the TRACKED
    frontier count (r05: the XL-wave profile showed 2*cores partitions
    produce straggler tasks at 3x wave size — task granularity must
    follow data, not core count)."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler.wave import CrawlState, _wave_partitions
    from findopendata_spark.catalog import SnapshotCatalog

    def mk(fcount, **kw):
        st = CrawlState(
            cat=SnapshotCatalog(str(tmp_path / "c")),
            cfg=CrawlConfig(**kw), gcfg=None,
        )
        st._frontier_count = fcount
        return st

    floor = 2 * spark.sparkContext.defaultParallelism
    # small frontier: floor wins (never fewer tasks than 2x cores)
    assert _wave_partitions(spark, mk(1000)) == floor
    # XL shape: data-scaled (8.4M / 150k = 56)
    assert _wave_partitions(spark, mk(8_400_000)) == max(56, floor)
    # 10^10 shape: capped
    assert _wave_partitions(spark, mk(10_000_000_000)) == 4096
    # pinned int mode
    assert _wave_partitions(spark, mk(8_400_000, wave_partitions=7)) == 7
    # session mode / unknown count: leave the session value alone
    assert _wave_partitions(spark, mk(8_400_000, wave_partitions="session")) is None
    assert _wave_partitions(spark, mk(None)) is None


def test_wave_sets_adaptive_partitions(spark, tmp_path):
    """An actual crawl under 'auto' RESTORES spark.sql.shuffle.partitions
    to the session value after every wave (ADVICE r05: the override must
    not leak into non-crawl SQL), and results are identical to a
    'session' run — partitioning never changes content."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler import crawl
    from findopendata_spark.crawler.graph import GraphConfig

    gcfg = GraphConfig(graph_size=5_000, out_links_min=2, out_links_max=4)
    outs = {}
    for mode in ("auto", "session"):
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        d = str(tmp_path / f"crawl_{mode}")
        st = crawl(spark, d, waves=2,
                   cfg=CrawlConfig(per_host_wave_budget=50,
                                   wave_partitions=mode),
                   gcfg=gcfg, bulk_seeds=2_000)
        seen = st.cat.read_appended(spark, "seen")
        outs[mode] = sorted(r["url_canon"] for r in seen.collect())
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    assert outs["auto"] == outs["session"]
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_fetch_partitions_not_host_skewed(spark, tmp_path):
    """The docs staging write inherits the fetch's partitioning: with a
    hot host owning ~half the frontier, no single output file may carry
    anything close to the hot host's whole share — the explicit
    (host, salt) repartition must actually spread it (r05: Catalyst
    elides the groupBy exchange when the window's hash(host)
    partitioning already clusters the keys, so without the explicit
    exchange one task fetched the hot host's entire budget)."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler import crawl
    from findopendata_spark.crawler.graph import GraphConfig

    gcfg = GraphConfig(graph_size=40_000, out_links_min=2, out_links_max=4)
    d = str(tmp_path / "crawl_skew")
    # AQE coalesces these tiny partitions into one (size-based, so it
    # cannot reintroduce HOST skew at scale) — pin the AQE-off plan
    # shape the bench/cluster sessions run with
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        st = crawl(spark, d, waves=1,
                   cfg=CrawlConfig(per_host_wave_budget=100_000,
                                   hot_host_salt=32, wave_partitions=32),
                   gcfg=gcfg, bulk_seeds=40_000)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    docs = st.cat.read_appended(spark, "docs")
    per_file = (
        docs.groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("host").alias("hosts"))
    ).collect()
    n_hot = docs.filter(F.col("host") == "hot.example.net").count()
    total = docs.count()
    assert n_hot > total * 0.3, "fixture must actually have a hot host"
    biggest = max(r["n"] for r in per_file)
    # hot host spread over ~32 salt lanes: the biggest file must hold a
    # small fraction of the hot share, not all of it
    assert biggest < n_hot * 0.5, (
        f"fetch output skewed: biggest file {biggest} vs hot {n_hot}"
    )


def test_wave_restores_partitions_when_selection_fails(spark, tmp_path,
                                                       monkeypatch):
    """The per-wave shuffle-partitions override is restored on every
    exit path — including a job that fails during selection, before the
    wave's staging executor exists."""
    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.crawler import wave as W

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "7"
    st = W.CrawlState(
        SnapshotCatalog(str(tmp_path / "crawl_fail")),
        CrawlConfig(per_host_wave_budget=10, wave_partitions=7), GCFG,
    )
    W.init_state(spark, st)

    def failing_host(url):
        # evaluated per row inside the selection checkpoint job
        return F.coalesce(
            F.raise_error(F.lit("injected selection failure")).cast("string"),
            url,
        )

    monkeypatch.setattr(W, "url_host", failing_host)
    with pytest.raises(Exception, match="injected selection failure"):
        W.run_wave(spark, st, 1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_steady_state_wave_reuses_generated_code(spark, tmp_path):
    """A steady-state wave finds its generated classes in Spark's codegen
    cache instead of compiling them again. With the default 100-entry
    cache every wave evicted and recompiled ~130 classes; sized for the
    wave's working set, only the classes that inline the wave id as a
    literal are new (6). Bulk seeds keep the seen filter from
    rebuilding and the pre-rank is pinned on, so wave 3 runs the same
    plan shapes as wave 2."""
    cfg = CrawlConfig(per_host_wave_budget=10, index_fields=("text",),
                      two_phase_topk="always")
    gcfg = G.GraphConfig(graph_size=5_000, out_links_min=2, out_links_max=4)
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    after_wave: list[tuple[int, int]] = []
    crawl(spark, str(tmp_path / "crawl_codegen"), waves=3, cfg=cfg,
          gcfg=gcfg, bulk_seeds=2_000,
          log=lambda s: after_wave.append((s["fetched"], compiles.getCount())))
    assert len(after_wave) == 3
    fetched, n3 = after_wave[2]
    assert fetched > 0
    compiled_in_wave_3 = n3 - after_wave[1][1]
    assert compiled_in_wave_3 <= 10, compiled_in_wave_3
