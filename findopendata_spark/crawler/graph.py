"""Deterministic synthetic open-data portal web (seeded CKAN/Socrata shape).

The reference crawls live CKAN ``package_search`` scrolls and Socrata
discovery APIs (``findopendata/ckan/__init__.py:8-37``,
``findopendata/socrata_crawler.py:157-173``). This sandbox has no network,
and the north rule demands a 10^10-URL-shape frontier — so the "web" here
is a pure function: every page's spans (interleaved text + media + link,
per BASELINE.json input_hint) derive from a 64-bit hash of its canonical
URL via splitmix64. That makes the graph

- unbounded: any ``graph_size`` up to 10^10 without materializing it;
- deterministic: same URL → same document, on any executor, any run;
- fetchable with zero I/O and zero per-row Python: the engine computes
  ``url_hash = xxhash64(url_canon)`` JVM-side, and the fetch UDF
  (:func:`synth_fetch_pandas`) expands hashes to span rows with vectorized
  numpy only (north-rule axis A).

URL space: ``https://{host}/d/{id:012d}`` with hosts =
``portal-{i}.example.org`` (seeds) + ``data-{j}.example.net`` + one
``hot.example.net`` receiving ``hot_pct`` of all links (hot-host skew per
SURVEY §4 — drives the salting path). Zero-padded ids make lexical URL
order equal numeric order (visit-ordering determinism, SURVEY §2.5 W4).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# splitmix64 constants (public domain PRNG finalizer, Steele et al. 2014)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + _SM_GAMMA).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(30))) * _SM_M1).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(27))) * _SM_M2).astype(np.uint64)
        return z ^ (z >> np.uint64(31))


def mix(x: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return splitmix64(x.astype(np.uint64) ^ np.uint64(salt & 0xFFFFFFFFFFFFFFFF))


@dataclass(frozen=True)
class GraphConfig:
    """Shape of the synthetic portal web (all knobs deterministic)."""

    n_portals: int = 8          # seed endpoints (FIXTURES.md §2: 8 portals)
    n_enabled: int = 6          # 2 disabled → filter F1 coverage
    n_data_hosts: int = 24      # distinct non-hot content hosts
    graph_size: int = 20_000    # distinct dataset ids (10^10 at prod shape)
    out_links_min: int = 4      # links per fetched page
    out_links_max: int = 12
    hot_pct: int = 50           # % of links pointing at hot.example.net
    private_pct: int = 5        # % of links into /private/ (robots-blocked)
    n_text_spans: int = 4       # prose spans per doc
    media_pct: int = 40         # % of docs carrying a media span
    fail_ppt: int = 0           # per-attempt fetch failure rate (parts/1000)
    max_retries: int = 3        # bounded retry before a permanent failure

    @property
    def hot_host(self) -> str:
        return "hot.example.net"


def portal_host(i: int) -> str:
    return f"portal-{i}.example.org"


def seed_portal_rows(cfg: GraphConfig) -> pd.DataFrame:
    """Seed portal registry (mirrors ckan_apis/socrata_discovery_apis rows,
    ``sql/create_crawler_tables.sql:5-14,49-61``): enabled flag exercised,
    two portals share a host (politeness contention)."""
    rows = []
    for i in range(cfg.n_portals):
        # the last two *enabled* portals share a host (politeness contention)
        host = portal_host(i if i != cfg.n_enabled - 1 else cfg.n_enabled - 2)
        rows.append(
            {
                "portal_id": f"portal-{i}",
                "api_kind": "ckan" if i % 2 == 0 else "socrata",
                "endpoint": f"https://{host}/d/{i:012d}",
                "host": host,
                "enabled": i < cfg.n_enabled,
            }
        )
    return pd.DataFrame(rows)


def robots_rows(cfg: GraphConfig) -> pd.DataFrame:
    """Synthetic robots.txt table: every host allows ``/d/``, disallows
    ``/private/``; the hot host gets crawl_delay=0, portal hosts 1 wave,
    and data-0 a long delay (forces multi-wave scheduling)."""
    hosts = (
        [portal_host(i) for i in range(cfg.n_portals)]
        + [f"data-{j}.example.net" for j in range(cfg.n_data_hosts)]
        + [cfg.hot_host]
    )
    rows = []
    for h in hosts:
        delay = 1.0
        if h == cfg.hot_host:
            delay = 0.0
        elif h == "data-0.example.net":
            delay = 3.0
        rows.append({"host": h, "crawl_delay": delay, "disallow_prefix": "/private/"})
    return pd.DataFrame(rows)


def seed_frontier(spark, cfg: GraphConfig):
    """Enabled seed portals → initial frontier DataFrame (depth 0)."""
    from pyspark.sql import functions as F

    pdf = seed_portal_rows(cfg)
    df = spark.createDataFrame(pdf[pdf.enabled][["endpoint"]])
    from findopendata_spark.functions.urls import canonicalize_url, url_host

    return (
        df.select(canonicalize_url(F.col("endpoint")).alias("url_canon"))
        .distinct()
        .select(
            "url_canon",
            url_host(F.col("url_canon")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("priority"),
            F.lit(0).alias("discovered_wave"),
        )
    )


def bulk_seed_frontier(spark, cfg: GraphConfig, n: int):
    """n-URL synthetic frontier for scale benchmarks (the 10^10 shape knob).

    Pure JVM expressions over ``spark.range(n)`` — no data materialized on
    the driver, so ``n`` scales to any size the cluster can hold. Host
    skew matches the link generator (hot host gets ``hot_pct``%)."""
    from pyspark.sql import functions as F

    df = spark.range(n)
    is_hot = F.pmod(F.xxhash64("id"), F.lit(100)) < F.lit(cfg.hot_pct)
    hostj = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(cfg.n_data_hosts))
    host = F.when(is_hot, F.lit(cfg.hot_host)).otherwise(
        F.concat(F.lit("data-"), hostj.cast("string"), F.lit(".example.net"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/d/"),
        F.lpad((F.col("id") % cfg.graph_size).cast("string"), 12, "0"),
    )
    out = df.select(
        url.alias("url_canon"),
        host.alias("host"),
        F.lit(0).alias("depth"),
        F.lit(1.0).alias("priority"),
        F.lit(0).alias("discovered_wave"),
    )
    # uniqueness by construction: the path id is ``id % graph_size`` and
    # ids range over [0, n), so for n <= graph_size every URL is distinct
    # regardless of host — the dedup shuffle would remove nothing. Only
    # wrap-around seed counts (n > graph_size) can collide and pay it.
    if n > cfg.graph_size:
        out = out.dropDuplicates(["url_canon"])
    return out


def page_has_media(h: np.ndarray, cfg: GraphConfig) -> np.ndarray:
    """Deterministic media-span coin per page (shared by the span
    generator and the richness scorer — one derivation, no drift)."""
    return (mix(h, 0xBEEF) % np.uint64(100)) < np.uint64(cfg.media_pct)


def page_richness(h: np.ndarray, cfg: GraphConfig) -> np.ndarray:
    """Metadata richness of a page: text spans + 2x media spans — the
    quantity run_wave's 'richness' priority mode scores children by.
    Computed directly from the page hash so the fetch UDF can attach it
    to link rows (no per-doc aggregation or join downstream)."""
    return (
        cfg.n_text_spans + 2 * page_has_media(h, cfg).astype(np.int64)
    ).astype(np.float64)


def fetch_failure_mask(h: np.ndarray, cfg: GraphConfig) -> np.ndarray:
    """Deterministic per-URL permanent-failure mask under bounded retry.

    Attempt ``a`` of page ``h`` fails iff ``mix(h, 0xFA11+a) % 1000 <
    fail_ppt`` — an independent coin per attempt, pure function of the
    URL. A URL fails permanently iff all ``max_retries`` attempts fail
    (the reference retries 3x with a sleep and then swallows-and-logs:
    ``findopendata/ckan/__init__.py:24-31``, ``ckan_crawler.py:186-202``).
    Same URL → same outcome on any executor and any re-run, so resume
    stays exact."""
    if cfg.fail_ppt <= 0:
        return np.zeros(len(h), dtype=bool)
    failed = np.ones(len(h), dtype=bool)
    for a in range(max(cfg.max_retries, 1)):
        failed &= (mix(h, 0xFA11 + a) % np.uint64(1000)) < np.uint64(cfg.fail_ppt)
    return failed


# ---------------------------------------------------------------------------
# The synthetic fetch: url_hash (uint64, computed JVM-side) → span rows.
# ---------------------------------------------------------------------------

def synth_fetch_pandas(url_hash: pd.Series, depth: pd.Series, cfg: GraphConfig):
    """Expand page hashes into flat span rows — vectorized numpy only.

    Returns (doc_index, kind, text, media_ref, offset) numpy arrays where
    doc_index points back into the input batch. Span layout per doc:
    ``n_text`` prose spans, an optional media span, then ``n_links`` link
    spans — offsets strictly increasing (input_hint per-row invariant).
    """
    h = url_hash.to_numpy(dtype=np.uint64, copy=False)
    n = len(h)
    if n == 0:
        empty = np.array([], dtype=object)
        return (np.array([], dtype=np.int64), empty, empty, empty,
                np.array([], dtype=np.int32))

    r_links = mix(h, 0xA11CE)
    n_links = (
        cfg.out_links_min + (r_links % np.uint64(cfg.out_links_max - cfg.out_links_min + 1))
    ).astype(np.int64)
    has_media = page_has_media(h, cfg)
    n_text = np.full(n, cfg.n_text_spans, dtype=np.int64)
    n_spans = n_text + has_media.astype(np.int64) + n_links

    doc_idx = np.repeat(np.arange(n, dtype=np.int64), n_spans)
    # per-span slot index within its doc
    starts = np.concatenate(([0], np.cumsum(n_spans)[:-1]))
    slot = np.arange(len(doc_idx), dtype=np.int64) - starts[doc_idx]

    d_text = n_text[doc_idx]
    d_media = has_media[doc_idx].astype(np.int64)
    is_text = slot < d_text
    is_media = (slot >= d_text) & (slot < d_text + d_media)
    is_link = slot >= d_text + d_media
    link_no = np.where(is_link, slot - d_text - d_media, 0)

    h_span = h[doc_idx]
    # --- link targets -----------------------------------------------------
    t = mix(h_span ^ (link_no.astype(np.uint64) + np.uint64(1)) * _SM_GAMMA, 0x11)
    tid = (t % np.uint64(cfg.graph_size)).astype(np.int64)
    is_hot = ((t >> np.uint64(32)) % np.uint64(100)) < np.uint64(cfg.hot_pct)
    is_private = ((t >> np.uint64(16)) % np.uint64(100)) < np.uint64(cfg.private_pct)
    host_j = ((t >> np.uint64(8)) % np.uint64(cfg.n_data_hosts)).astype(np.int64)

    host = np.where(
        is_hot,
        cfg.hot_host,
        pd.Series(host_j).map(lambda j: f"data-{j}.example.net").to_numpy(),
    )
    seg = np.where(is_private, "/private/", "/d/")
    ids = pd.Series(tid).astype(str).str.zfill(12).to_numpy()
    link_url = (
        pd.Series(np.where(is_link, "https://", ""))
        .str.cat([np.where(is_link, host, ""), np.where(is_link, seg, ""),
                  np.where(is_link, ids, "")])
        .to_numpy()
    )

    # --- text / media payloads --------------------------------------------
    word = mix(h_span ^ slot.astype(np.uint64), 0x7E)
    prose = (
        "title page " + pd.Series(h_span.astype(np.int64)).astype(str)
        + " span " + pd.Series(slot).astype(str)
        + " token " + pd.Series((word % np.uint64(9973)).astype(np.int64)).astype(str)
    ).to_numpy()
    media = (
        "blob://media/" + pd.Series((h_span % np.uint64(10**9)).astype(np.int64)).astype(str)
        + "/img.png"
    ).to_numpy()

    kind = np.where(is_text, "text", np.where(is_media, "media", "link"))
    text = np.where(is_text, prose, np.where(is_link, link_url, None))
    media_ref = np.where(is_media, media, None)
    offset = slot.astype(np.int32)
    return doc_idx, kind, text.astype(object), media_ref.astype(object), offset


def synth_fetch_arrow(url_hash: pd.Series, depth: pd.Series, cfg: GraphConfig):
    """Arrow-native :func:`synth_fetch_pandas` — identical output bytes,
    an order of magnitude less Python time.

    The pandas version spends its whole budget in object-dtype string
    machinery (profiled: ``str.cat`` + ``astype(str)`` ≈ 8 s per 100k
    URLs single-core — ~123 core-s per 1.5M-URL wave, the reason the
    fetch stage's JVM sat 91% idle waiting on python workers). Here every
    string is built by vectorized Arrow C++ kernels: int→string casts,
    ``utf8_lpad`` for the zero-padded ids, dictionary decode for the
    bounded host/segment vocabularies, one ``binary_join_element_wise``
    per payload class, and ``if_else`` to interleave the three span
    kinds. Numeric span layout (splitmix64 mixing, counts, slots) is the
    same numpy as before. Returns (doc_idx np.int64, kind pa.Array,
    text pa.Array, media_ref pa.Array, offset np.int32).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    h = url_hash.to_numpy(dtype=np.uint64, copy=False)
    n = len(h)
    if n == 0:
        empty = pa.array([], type=pa.string())
        return (np.array([], dtype=np.int64), empty, empty, empty,
                np.array([], dtype=np.int32))

    r_links = mix(h, 0xA11CE)
    n_links = (
        cfg.out_links_min
        + (r_links % np.uint64(cfg.out_links_max - cfg.out_links_min + 1))
    ).astype(np.int64)
    has_media = page_has_media(h, cfg)
    n_text = np.full(n, cfg.n_text_spans, dtype=np.int64)
    n_spans = n_text + has_media.astype(np.int64) + n_links

    doc_idx = np.repeat(np.arange(n, dtype=np.int64), n_spans)
    starts = np.concatenate(([0], np.cumsum(n_spans)[:-1]))
    slot = np.arange(len(doc_idx), dtype=np.int64) - starts[doc_idx]

    d_text = n_text[doc_idx]
    d_media = has_media[doc_idx].astype(np.int64)
    is_text = slot < d_text
    is_media = (slot >= d_text) & (slot < d_text + d_media)
    is_link = slot >= d_text + d_media
    link_no = np.where(is_link, slot - d_text - d_media, 0)

    h_span = h[doc_idx]
    # --- link targets (same mixing as the pandas path) --------------------
    t = mix(h_span ^ (link_no.astype(np.uint64) + np.uint64(1)) * _SM_GAMMA, 0x11)
    tid = (t % np.uint64(cfg.graph_size)).astype(np.int64)
    is_hot = ((t >> np.uint64(32)) % np.uint64(100)) < np.uint64(cfg.hot_pct)
    is_private = ((t >> np.uint64(16)) % np.uint64(100)) < np.uint64(cfg.private_pct)
    host_j = ((t >> np.uint64(8)) % np.uint64(cfg.n_data_hosts)).astype(np.int64)

    def _s(x):  # int64 numpy -> arrow string
        return pc.cast(pa.array(x), pa.string())

    host_codes = np.where(is_hot, cfg.n_data_hosts, host_j).astype(np.int32)
    host_vocab = pa.array(
        [f"data-{j}.example.net" for j in range(cfg.n_data_hosts)]
        + [cfg.hot_host]
    )
    host_str = pc.cast(
        pa.DictionaryArray.from_arrays(pa.array(host_codes), host_vocab),
        pa.string(),
    )
    seg_str = pc.cast(
        pa.DictionaryArray.from_arrays(
            pa.array(is_private.astype(np.int32)), pa.array(["/d/", "/private/"])
        ),
        pa.string(),
    )
    link_url = pc.binary_join_element_wise(
        "https://", host_str, seg_str,
        pc.utf8_lpad(_s(tid), width=12, padding="0"), "",
    )

    # --- text / media payloads -------------------------------------------
    word = mix(h_span ^ slot.astype(np.uint64), 0x7E)
    prose = pc.binary_join_element_wise(
        "title page ", _s(h_span.astype(np.int64)),
        " span ", _s(slot),
        " token ", _s((word % np.uint64(9973)).astype(np.int64)), "",
    )
    media = pc.binary_join_element_wise(
        "blob://media/", _s((h_span % np.uint64(10**9)).astype(np.int64)),
        "/img.png", "",
    )

    pa_text = pa.array(is_text)
    pa_media = pa.array(is_media)
    null_str = pa.scalar(None, pa.string())
    kind = pc.if_else(
        pa_text, pa.scalar("text"),
        pc.if_else(pa_media, pa.scalar("media"), pa.scalar("link")),
    )
    text = pc.if_else(
        pa_text, prose, pc.if_else(pa.array(is_link), link_url, null_str)
    )
    media_ref = pc.if_else(pa_media, media, null_str)
    offset = slot.astype(np.int32)
    return doc_idx, kind, text, media_ref, offset
