"""The crawl wave: politeness-scheduled fetch micro-batches over the frontier.

One wave = one deterministic sequence of Spark jobs (a steady wave runs
33, pinned by ``test_steady_state_wave_job_count``), the re-expression
of the reference's Celery fan-out (``harvest_datasets.py:16-19`` →
``ckan_crawler.py:278-297`` per-endpoint tasks → per-package → per-resource
tasks). Stage map:

| reference                                   | here                         |
|---------------------------------------------|------------------------------|
| one scroll task per endpoint (serial pages)  | politeness window per host   |
| freshness/seen dict probe (`:255-273`)       | Bloom prefilter + anti-join  |
| HTTP GET + parse (`download.py`, parsers)    | synth fetch `applyInPandas`  |
| upsert registries (`:52-63,214-227`)         | atomic wave commit (catalog) |
| task log lines (`:44-45,131-132`)            | lineage rows per host shard  |

Determinism: the wave clock is the wave id (not wall time); selection
order inside a host is (priority desc, url_canon asc) — the explicit
re-expression of the reference's (endpoint order, page asc, slot asc)
visit ordering (SURVEY §2.5 W4); all content derives from url_hash.

Scale notes (the 1000-executor story):
- frontier and seen are only ever shuffled on ``url_canon`` (dedup) and
  ``host`` (politeness window + fetch groups) — two key spaces, both
  bucket-able in Iceberg for shuffle-free reuse across waves;
- hot-host skew: selection limits each host to the budget per map
  partition before the host exchange (``_select`` says when Spark can);
  fetch groups are (host, salt) with
  ``salt = pmod(url_hash, hot_host_salt)``, so one hot host fans across
  executors; the politeness budget cap bounds any group absolutely;
- the Bloom prefilter keeps definite-new URLs (the vast majority in an
  expanding crawl) out of the anti-join shuffle;
- per-wave appends are O(wave delta); no O(total-state) rewrite.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from findopendata_spark.catalog import SnapshotCatalog
from findopendata_spark.config import CrawlConfig
from findopendata_spark.crawler import graph as G
from findopendata_spark.crawler.seen import ShardedSeenFilter
from findopendata_spark.functions.urls import canonicalize_url, url_host
from findopendata_spark.indexing import crawl_deltas

# One NESTED row per fetched document — the interleaved input_hint shape
# (doc_id, spans array<struct<kind,text,media_ref,offset>>) comes straight
# out of the fetch UDF. r02 emitted one FLAT row per span (~20x the rows),
# then re-aggregated them into docs with a full-wave groupBy + array_sort
# shuffle; profiling showed that docs assembly and the flat-span
# materialization were the two heaviest phases of the wave. The spans
# array is built zero-copy in Arrow (ListArray over the flat numpy
# columns), so no Python-level per-doc loop exists either.
FETCH_DOC_SCHEMA = (
    "url_canon string, host string, depth int, doc_id string, "
    "failed boolean, spans array<struct"
    "<kind:string,text:string,media_ref:string,offset:int>>"
)
# richness mode adds ONE doc-level parent score column (r02 carried it
# on every span row)
FETCH_DOC_SCHEMA_RICH = FETCH_DOC_SCHEMA + ", rich double"
# crawl delay (in waves) of a host without a robots row
DEFAULT_CRAWL_DELAY = 1.0
# lineage rows per wave: one per pmod(xxhash64(host), HOST_SHARDS)
HOST_SHARDS = 32


@dataclass
class CrawlState:
    cat: SnapshotCatalog
    cfg: CrawlConfig = field(default_factory=CrawlConfig)
    gcfg: G.GraphConfig = field(default_factory=G.GraphConfig)
    # injectable fetch backend (None = deterministic synthetic pages);
    # see findopendata_spark.crawler.fetch for the adapter contract
    fetch_adapter: object | None = None
    # driver-side incremental seen-filter cache (rebuilt from tables on
    # resume)
    _seen_filter: ShardedSeenFilter | None = None
    _seen_count: int = 0
    _frontier_count: int | None = None  # tracked incrementally per wave
    # pending seen-filter delta (r05): the per-wave filter update runs on
    # this state-owned thread and is awaited lazily by the NEXT wave's
    # probe (_get_seen_filter) — off the committing wave's critical path.
    # Driver-cache maintenance only: commits never depend on it, and a
    # resume rebuilds the filter from the seen table regardless.
    _seen_delta_fut: object | None = None
    _bg_ex: object | None = None


def _shard(col, k: int):
    return F.pmod(F.xxhash64(col), F.lit(k)).cast("int")


def init_state(
    spark: SparkSession, state: CrawlState, bulk_seeds: int = 0
) -> None:
    """Wave 0: seeds → frontier + seen; robots table registered.

    ``bulk_seeds > 0`` replaces the portal seed list with an n-URL
    synthetic frontier (scale benchmarks; the 10^10-shape knob)."""
    cat, gcfg = state.cat, state.gcfg
    if cat.current_wave() >= 0:
        if state._frontier_count is None:  # resume: footer-only count
            state._frontier_count = cat.read(spark, "frontier").count()
        return
    robots = spark.createDataFrame(G.robots_rows(gcfg))
    base = (
        G.bulk_seed_frontier(spark, gcfg, bulk_seeds)
        if bulk_seeds > 0
        else G.seed_frontier(spark, gcfg)
    )
    seeds = (
        base
        .join(F.broadcast(robots.select("host", "disallow_prefix")), "host", "left")
        .filter(~_is_blocked_expr())
        .drop("disallow_prefix")
    )
    seeds = seeds.withColumn("url_hash", F.xxhash64("url_canon"))
    # r06: the frontier AND seen writes both consume `seeds`, whose plan
    # contains the bulk generator's dropDuplicates shuffle — uncached,
    # wave-0 paid that shuffle twice, serially. One localCheckpoint +
    # concurrent staging halves the init tail that sits inside every
    # bench leg's timed wall (guide §2.6 overlap independent jobs).
    seeds = seeds.localCheckpoint()
    frontier = seeds.select("url_canon", "depth", "priority", "url_hash")
    seen0 = seeds.select(
        "url_canon", "url_hash", F.lit(0).alias("first_wave")
    )
    host_state = spark.createDataFrame([], "host string, last_fetch_wave int")
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as ex0:
        f_frontier = ex0.submit(cat.stage, frontier, "frontier", 0)
        f_hosts = ex0.submit(cat.stage, host_state, "host_state", 0)
        f_robots = ex0.submit(cat.stage, robots, "robots", 0)
        f_seen = ex0.submit(cat.stage_append, seen0, "seen", 0)
        staged = {
            "frontier": f_frontier.result(),
            "host_state": f_hosts.result(),
            "robots": f_robots.result(),
        }
        f_seen.result()
    cat.commit_wave(0, staged)
    # parquet-footer count of the committed snapshot (metadata-only scan):
    # wave 1 sizes its shuffle partitions from it
    state._frontier_count = cat.read(spark, "frontier").count()


def _is_blocked_expr():
    path = F.regexp_extract(F.col("url_canon"), r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    return F.col("disallow_prefix").isNotNull() & path.startswith(
        F.col("disallow_prefix")
    )


def _make_fetch_fn(gcfg: G.GraphConfig, with_rich: bool = False,
                   adapter=None):
    import pyarrow as pa

    from findopendata_spark.crawler.fetch import SyntheticFetchAdapter

    ad = adapter if adapter is not None else SyntheticFetchAdapter(gcfg)

    def fetch(tbl: "pa.Table") -> "pa.Table":
        """Fetch one (host, salt) group through the injected adapter
        (default: deterministic synthetic pages; a requests-backed
        ``HttpFetchAdapter`` is one constructor argument away — see
        :mod:`findopendata_spark.crawler.fetch`).

        Emits ONE nested row per input URL: the doc's spans in offset
        order as a ListArray built directly over the flat span columns
        (zero-copy assembly, no per-doc Python loop). Permanent fetch
        failures (bounded retry, part of the adapter contract) get
        ``failed=true`` and an empty span list; run_wave routes those to
        lineage accounting (the reference swallows-and-logs,
        ``ckan_crawler.py:186-202``)."""
        h = tbl.column("url_hash").to_numpy().astype(np.int64).view(np.uint64)
        n = len(h)
        res = ad.fetch_batch(
            tbl.column("url_canon"), h, tbl.column("depth").to_numpy()
        )
        # spans-per-doc counts in row order: doc_idx is full-batch indexed
        # and nondecreasing per contract; failed rows have no spans
        counts = (
            np.bincount(res.doc_idx, minlength=n)
            if len(res.doc_idx)
            else np.zeros(n, dtype=np.int64)
        )
        offsets = np.concatenate(([0], np.cumsum(counts)))

        # adapters may hand back Arrow string arrays directly (the
        # synthetic one builds them with C++ kernels — see
        # graph.synth_fetch_arrow); only object arrays pay a conversion
        def _pa_str(x):
            return (
                x.combine_chunks() if isinstance(x, pa.ChunkedArray)
                else x if isinstance(x, pa.Array)
                else pa.array(x, type=pa.string())
            )

        struct = pa.StructArray.from_arrays(
            [
                _pa_str(res.kind),
                _pa_str(res.text),
                _pa_str(res.media_ref),
                pa.array(res.offset, type=pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        )
        spans = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), struct
        )
        # unsigned doc-id rendering via Arrow uint64→string cast (the
        # pandas astype(str) path was per-row object work)
        import pyarrow.compute as pc

        doc_ids = pc.binary_join_element_wise(
            "doc-", pc.cast(pa.array(h), pa.string()), ""
        )
        cols = [
            tbl.column("url_canon"),
            tbl.column("host"),
            tbl.column("depth"),
            doc_ids,
            pa.array(res.failed),
            spans,
        ]
        names = ["url_canon", "host", "depth", "doc_id", "failed", "spans"]
        if with_rich:
            # doc-level parent richness; the link scorer reads it off the
            # exploded link rows — no per-doc aggregation or join
            if res.rich is None:
                raise ValueError(
                    "priority_mode='richness' needs an adapter that "
                    "provides rich scores"
                )
            cols.append(pa.array(res.rich))
            names.append("rich")
        return pa.Table.from_arrays(cols, names=names)

    return fetch


def _await_seen_delta(state: CrawlState) -> None:
    """Join the previous wave's in-flight filter delta (if any) before
    anyone reads the filter. A failed delta (e.g. session torn down
    mid-update) marks the filter for rebuild rather than risking a
    false negative from a half-applied OR."""
    fut = state._seen_delta_fut
    if fut is None:
        return
    state._seen_delta_fut = None
    try:
        fut.result()
    except Exception:  # noqa: BLE001 — rebuild is always safe
        if state._seen_filter is not None:
            state._seen_filter.force_rebuild = True


def _get_seen_filter(spark, state: CrawlState, seen: DataFrame):
    """Driver-cached sharded seen filter over the committed seen set.

    Built once (or on resume), then maintained incrementally by
    :func:`run_wave`; rebuilt from the table only when the key count
    outgrows the 4x headroom (keeps fpp ≈ target as the crawl expands).
    """
    _await_seen_delta(state)
    if state._seen_filter is None or state._seen_filter.needs_rebuild(
        state._seen_count
    ):
        n = seen.count()
        state._seen_filter = ShardedSeenFilter.build(
            seen, max(n, 1) * 4, state.cfg
        )
        state._seen_count = n
    return state._seen_filter


# r05: per-wave shuffle partitioning scaled to the TRACKED frontier size
# instead of the session's core-derived default. The XL-wave profile
# (BENCH/BASELINE.md r05) showed the scale-killer at 3x wave size was
# task GRANULARITY, not orchestration: 2*cores partitions put 9M-row map
# tasks on 2-core legs and a 255 s straggler task on the 8-core leg
# (stage wall == max task). Each wave therefore sets
# spark.sql.shuffle.partitions to clamp(ceil(frontier /
# WAVE_PARTITION_ROWS), 2*defaultParallelism, 4096) — deterministic
# (results are partitioning-independent), no AQE barriers, and at the
# 10^10 frontier the 4096 cap keeps task counts bounded while waves stay
# ~2.4M rows/task.
WAVE_PARTITION_ROWS = 150_000  # target frontier rows per task


def _wave_partitions(spark: SparkSession, state: CrawlState) -> int | None:
    """Shuffle-partition count for THIS wave, scaled to the tracked
    frontier size. Returns None when the session value should stand: no
    tracked count yet (e.g. a fresh resume before the first footer
    count)."""
    fcount = state._frontier_count
    if fcount is None:
        return None
    floor = 2 * spark.sparkContext.defaultParallelism
    return int(min(max(-(-fcount // WAVE_PARTITION_ROWS), floor), 4096))


def _select(ready: DataFrame, budget: int) -> DataFrame:
    """Each host's top ``budget`` ready URLs by (priority desc, url_canon
    asc); exact, since ``url_canon`` is unique in the frontier. priority
    is dropped: it has no consumer past selection.

    Filtering the row number directly lets Spark (for budgets up to
    ``spark.sql.optimizer.windowGroupLimitThreshold``, default 1000) keep
    only each host's top ``budget`` rows per map partition before the
    host exchange, so the final per-host sort sees at most budget x
    map-partitions rows. That holds while ``ready`` arrives without a
    host partitioning: host_state broadcast, or AQE on (the benchmark
    and test sessions). With AQE off and host_state sort-merge joined,
    ``ready`` is already hash-partitioned by host, Spark drops the
    partial limit with the exchange, and a hot host's whole slice is
    sorted in one task (an open ROADMAP item). Larger budgets plan the plain
    exchange and sort."""
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_canon"))
    return (
        ready.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= budget)
        .select("url_canon", "host", "depth", "url_hash")
    )


def run_wave(spark: SparkSession, state: CrawlState, wave: int) -> dict:
    n_part = _wave_partitions(spark, state)
    if n_part is None:
        return _run_wave(spark, state, wave)
    # session conf is the only per-wave override channel; snapshot and
    # restore it (ADVICE r05) so non-crawl SQL in the same session never
    # inherits a frontier-derived partition count — on every exit path,
    # a failing selection job included. Partition count never changes
    # results, so the background seen-delta job racing the restore is at
    # most a perf wobble.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        return _run_wave(spark, state, wave)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_wave(spark: SparkSession, state: CrawlState, wave: int) -> dict:
    import os as _os
    import time as _time

    _timing = _os.environ.get("SPARK_GRAFT_WAVE_TIMING") == "1"
    _t0 = _time.time()

    def _mark(label: str) -> None:
        nonlocal _t0
        if _timing:
            now = _time.time()
            print(f"WAVETIME {wave} {label} {now - _t0:.2f}", flush=True)
            _t0 = now

    cat, cfg, gcfg = state.cat, state.cfg, state.gcfg
    assert cat.current_wave() == wave - 1, "waves must be sequential"
    rich_mode = cfg.priority_mode == "richness"

    # frontier stores only (url_canon, depth, priority, url_hash) — host is
    # re-derived on read (one parse_url pass) because writing the host
    # string per row measurably dominates the wave at scale: state I/O is
    # memory-bandwidth-bound, so fewer bytes beats fewer instructions.
    frontier = cat.read(spark, "frontier").withColumn(
        "host", url_host(F.col("url_canon"))
    )
    host_state = cat.read(spark, "host_state")
    robots = cat.read(spark, "robots")
    seen = cat.read_appended(spark, "seen").select("url_canon", "url_hash")

    # 1. politeness eligibility: wave clock vs per-host crawl_delay
    f = (
        frontier.join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
        .withColumn(
            "crawl_delay", F.coalesce("crawl_delay", F.lit(DEFAULT_CRAWL_DELAY))
        )
        .join(host_state, "host", "left")
    )
    eligible_cond = F.col("last_fetch_wave").isNull() | (
        F.lit(wave) >= F.col("last_fetch_wave") + F.col("crawl_delay")
    )
    fr_cols = ["url_canon", "depth", "priority", "url_hash"]
    f = f.select(*fr_cols, "host", eligible_cond.alias("_elig"))
    f.cache()  # reused: selection window, lineage count, AND the next
    # frontier's base (staging must not re-read + re-join state)
    ready = f.filter(F.col("_elig")).drop("_elig")

    # 2. per-host selection window (W7/W4): priority desc, url asc, capped.
    # (r06 note: a "rank shortcut" — probe per-host counts, skip the
    # window when every host fits the budget — was implemented and
    # REVERTED: A/B'd at both legs it cost 1.5-2 s MORE than the window
    # (select is one fused job: scan+joins+sort+checkpoint; splitting it
    # into probe-then-checkpoint added a serial job's fixed latency,
    # while the per-host sorts were already parallel and cheap).
    # localCheckpoint (not cache): truncates the logical plan, so the
    # several downstream actions (fetch, host_state, lineage, the next
    # frontier's base) plan against a materialized RDD instead of
    # re-analyzing the whole window+join tree — Catalyst planning time
    # was the dominant SERIAL per-wave cost.
    selected = _select(ready, cfg.per_host_wave_budget).localCheckpoint()
    _mark("select_ckpt")

    # Staging executor opens EARLY: every per-wave output whose inputs are
    # already checkpointed starts writing immediately and overlaps the
    # rest of the wave's compute (FAIR scheduler interleaves the jobs).
    # On the latency-bound high-core leg this removes the docs/hosts
    # writes from the critical path entirely; on the saturated low-core
    # leg wall time is work-bound either way.
    from concurrent.futures import ThreadPoolExecutor

    ex = ThreadPoolExecutor(max_workers=6)
    try:
        # seen-filter warm-up OFF the critical path (r06b, event-log
        # finding): the filter depends only on the wave-start committed
        # seen table, yet _get_seen_filter used to run synchronously at
        # probe time — on a cold filter (wave 1, resume, rebuild) its
        # seen.count() + shard-build collects sat ~5 s between fetch and
        # cand at 8 cores. Building it here overlaps selection staging +
        # fetch; the probe joins the future. Single consumer: only this
        # future touches state._seen_filter until .result().
        f_seen_filter = ex.submit(_get_seen_filter, spark, state, seen)

        fetched_hosts = (
            selected.select("host").distinct().withColumn("last_fetch_wave", F.lit(wave))
        )
        host_state_next = host_state.join(
            fetched_hosts.select("host"), "host", "left_anti"
        ).unionByName(fetched_hosts)
        f_hosts = ex.submit(cat.stage, host_state_next, "host_state", wave)
        # next-frontier BASE = every frontier row not selected (leftover
        # ∪ not-ready). ~98% of the next frontier is known the moment
        # selection lands, so its (big) write starts NOW and overlaps
        # fetch + candidate compute; only the small new-URL delta part
        # remains for the post-dedup tail. Profiling showed the
        # monolithic frontier write was the largest serial block between
        # dedup and commit.
        cat.prepare_snap("frontier", wave)
        f_frontier_base = ex.submit(
            cat.stage,
            f.select(*fr_cols).join(
                selected.select("url_canon"), "url_canon", "left_anti"
            ),
            "frontier", wave, "base",
        )

        # 3. fetch: salted (host, salt) groups → one NESTED row per doc.
        # The repartition is LOAD-BEARING, not redundant with the groupBy:
        # `selected` leaves the politeness window hash-partitioned by
        # host alone, and Catalyst elides the groupBy's exchange because
        # HashPartitioning(host) already satisfies
        # ClusteredDistribution(host, salt) — without the explicit
        # exchange every host's ENTIRE wave budget runs as one fetch
        # task (event-log r05: a 1M-row straggler task == the stage
        # wall, and the cand map downstream inherited the same skewed
        # layout, one task reading 1.6 GB of cached docs vs 400 MB
        # peers). RepartitionByExpression survives planning, so the
        # salt actually spreads the hot host here.
        fetched = (
            selected.withColumn(
                "salt", F.pmod(F.col("url_hash"), F.lit(cfg.hot_host_salt))
            )
            .repartition("host", "salt")
            .groupBy("host", "salt")
            .applyInArrow(
                _make_fetch_fn(gcfg, with_rich=rich_mode,
                               adapter=state.fetch_adapter),
                FETCH_DOC_SCHEMA_RICH if rich_mode else FETCH_DOC_SCHEMA,
            )
        )
        fetched = fetched.localCheckpoint()  # reused: docs write + links + lineage
        _mark("fetch_ckpt")
        # permanent fetch failures carry failed=true + empty spans: they
        # feed lineage accounting only — never the docs table or links.
        # With failures impossible (synthetic adapter, fail_ppt=0) the
        # split is skipped (identical plan); any INJECTED adapter can
        # fail regardless of the synthetic failure knob.
        if gcfg.fail_ppt > 0 or state.fetch_adapter is not None:
            failed_fetches = fetched.filter(F.col("failed")).select(
                "url_canon", "host"
            )
            okdocs = fetched.filter(~F.col("failed"))
        else:
            failed_fetches = fetched.limit(0).select("url_canon", "host")
            okdocs = fetched

        # 4. docs table (interleaved input_hint shape): the fetch UDF
        # already emits it — staging is a plain append, no shuffle/sort
        docs = okdocs.select("doc_id", "url_canon", "host", "spans")
        f_docs = ex.submit(cat.stage_append, docs, "docs", wave)

        # 4b. per-wave index maintenance in the SAME atomic commit (the
        # reference's one-harvest-upserts-all-tables shape,
        # indexing.py:59-192): the families cfg turns on append this
        # wave's docs as plain catalog tables, probe-able any time through
        # IncrementalIndexes. A first IVF wave also stages the centroids
        # it trained.
        index_appends, index_snaps = crawl_deltas(spark, cat, cfg, docs, wave)
        f_index = [
            ex.submit(cat.stage_append, df, table, wave)
            for table, df in index_appends
        ]
        extra_snaps = {t: cat.stage(df, t, wave) for t, df in index_snaps.items()}

        # 5. link extraction + canonicalization + robots gate (pre-enqueue, the
        #    reference checks before download: ckan_crawler.py:161-176).
        # Exploding only the link spans is a narrow op over the nested
        # checkpoint — no flat-span shuffle or materialization exists.
        # NOTE (r05, measured): explode-then-filter beats filtering the
        # array first — ArrayFilter/ArrayTransform are CodegenFallback
        # (interpreted per row), and putting one under the Generate costs
        # ~2x on the explode stage, far more than the text/media rows the
        # pre-filter would have saved.
        links = okdocs.select(
            F.explode("spans").alias("s"), "depth",
            *(["rich"] if rich_mode else []),
        ).filter(F.col("s.kind") == "link").select(
            canonicalize_url(F.col("s.text")).alias("url_canon"),
            (F.col("depth") + 1).alias("depth"),
            *(["rich"] if rich_mode else []),  # doc-level parent richness
        )

        # intra-wave dedup: min depth wins (multiple parents); priority per
        # cfg.priority_mode — 'richness' scores a child by its best parent's
        # metadata richness (text + 2x media span counts, the analog of the
        # reference preferring packages with fuller metadata), damped by
        # depth; 'bfs' is pure 1/(depth+1) (visit-ordering parity mode).
        # The parent score rides on each link row straight from the fetch
        # UDF, so the whole scoring collapses into the ONE candidate
        # groupBy — r02's plan spent an extra 36M-row per-doc aggregation
        # plus a 6M-row join on the critical path for the same quantity.
        # The groupBy keys on url_canon ALONE (host is a pure function of
        # it), and host derivation + the robots probe moved POST-dedup:
        # at the XL wave that is one parse_url + one broadcast hash probe
        # + one prefix test per DISTINCT candidate (37M) instead of per
        # occurrence (73M). The robots-blocked fraction now rides through
        # the groupBy instead of being dropped before it — a few percent
        # more shuffle rows for ~2x fewer per-row scalars; the blocked
        # set is identical because blocked-ness is per-url_canon.
        if rich_mode:
            cand = (
                links.groupBy("url_canon")
                .agg(
                    F.min("depth").alias("depth"),
                    F.max(F.coalesce("rich", F.lit(0.0))).alias("_rich"),
                )
                .withColumn("priority", F.col("_rich") / (F.col("depth") + 1))
                .drop("_rich")
            )
        else:
            cand = (
                links.groupBy("url_canon")
                .agg(F.min("depth").alias("depth"))
                .withColumn("priority", F.lit(1.0) / (F.col("depth") + 1))
            )
        cand = (
            cand.withColumn("host", url_host(F.col("url_canon")))
            .join(
                F.broadcast(robots.select("host", "disallow_prefix")),
                "host", "left",
            )
            .filter(~_is_blocked_expr())
            .drop("disallow_prefix")
            .withColumn("url_hash", F.xxhash64("url_canon"))
        )
        # downstream needs only the lineage SHARD of the host, never the
        # string: folding it here drops ~20 bytes/row from the candidate
        # checkpoint (r05 — at 17M candidates/wave that is hundreds of MB
        # of checkpoint write+read that memory-bandwidth-bound legs pay)
        cand = cand.withColumn(
            "host_shard", _shard(F.col("host"), HOST_SHARDS)
        ).drop("host")

        # 6. URL-seen dedup: Bloom prefilter → exact anti-join on maybes only
        _mark("plan_build")
        seen_filter = f_seen_filter.result()  # built since wave start
        cand = seen_filter.with_maybe_seen(spark, cand)
        cand = cand.localCheckpoint()  # probe runs once; both branches reuse
        _mark("cand_ckpt")

        # lineage HEAD START (r05): everything except the enqueued count
        # is known now — aggregate the big tag sets (17M candidates +
        # frontier eligibles) CONCURRENTLY with the dedup anti-join
        # below, so the post-dedup tail joins two <=shards-row frames
        # instead of shuffling ~20M tag rows on the critical path.
        def tagged(df, tag):
            return df.select(
                _shard(F.col("host"), HOST_SHARDS).alias("host_shard"),
                F.lit(tag).alias("_t"),
            )

        pre_counts = (
            tagged(f.filter(F.col("_elig")), "e")
            .unionByName(tagged(selected, "f"))
            .unionByName(tagged(failed_fetches, "x"))
            .unionByName(cand.select("host_shard", F.lit("c").alias("_t")))
            .groupBy("host_shard")
            .agg(
                F.sum(F.when(F.col("_t") == "e", 1).otherwise(0)).alias("urls_eligible"),
                F.sum(F.when(F.col("_t") == "f", 1).otherwise(0)).alias("urls_fetched"),
                F.sum(F.when(F.col("_t") == "x", 1).otherwise(0)).alias("urls_failed"),
                F.sum(F.when(F.col("_t") == "c", 1).otherwise(0)).alias("urls_candidates"),
            )
        )
        f_lineage_pre = ex.submit(pre_counts.localCheckpoint)
        definite_new = cand.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe_new = (
            cand.filter(F.col("maybe_seen"))
            .drop("maybe_seen")
            .join(seen.select("url_canon"), "url_canon", "left_anti")
        )
        new = definite_new.unionByName(maybe_new)
        new = new.localCheckpoint()
        _mark("dedup_ckpt")

        # 7. next state: the base part (leftover ∪ not-ready) has been
        # writing since selection; only the new-URL delta lands here.
        new_seen = new.select("url_canon", "url_hash", F.lit(wave).alias("first_wave"))

        # 8. lineage per (wave, host_shard) — the per-partition audit rows.
        # The heavy tag aggregation (e/f/x/c) started at cand_ckpt
        # (lineage_pre, overlapped with the dedup anti-join); here only
        # the enqueued count over `new` plus a <=shards-row join remain.
        n_counts = new.groupBy("host_shard").agg(
            F.count(F.lit(1)).alias("urls_enqueued")
        )
        lineage = (
            f_lineage_pre.result()
            .join(n_counts, "host_shard", "left")
            .withColumn(
                "urls_enqueued", F.coalesce("urls_enqueued", F.lit(0))
            )
            .withColumn(
                "urls_deduped", F.col("urls_candidates") - F.col("urls_enqueued")
            )
            .coalesce(1)  # <= HOST_SHARDS rows: one file, one reduce task
        )

        # 9. stage the remaining outputs on the SAME executor (docs and
        # host_state have been writing since their inputs checkpointed) and
        # overlap the seen-filter shard delta. The atomic publish still
        # happens only after every write lands; the filter is driver state,
        # safe to update pre-commit (rebuilt from tables on resume).
        f_frontier_delta = ex.submit(
            cat.stage, new.select(*fr_cols), "frontier", wave, "delta"
        )
        futs = [
            f_docs,
            f_frontier_base,
            *f_index,
            ex.submit(cat.stage_append, new_seen, "seen", wave),
            ex.submit(cat.stage_append, lineage, "lineage", wave),
        ]
        # seen-filter shard delta: driver-cache maintenance, rebuilt from
        # tables on resume — only the NEXT wave's probe needs it. r04
        # awaited it at the end of run_wave, which left the whole delta
        # job (shuffle + shard stage + driver OR) ON the wave's critical
        # path (measured 5-19 s at 16 cores depending on window). r05:
        # it runs on the state-owned thread and the next wave's
        # _get_seen_filter joins it — overlapped with that wave's
        # select/fetch, core-count-independent cost removed from F.
        if state._bg_ex is None:
            state._bg_ex = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="seen-delta"
            )
        state._seen_delta_fut = state._bg_ex.submit(
            seen_filter.or_delta, spark, new.select("url_hash"),
        )
        staged = {
            "frontier": f_frontier_delta.result(),
            "host_state": f_hosts.result(),
            **extra_snaps,
        }
        for fut in futs:
            fut.result()
        cat.commit_wave(wave, staged)
        _mark("stage_commit")
    finally:
        ex.shutdown(wait=True)

    # stats from the already-written lineage parquet (one tiny read — no
    # recount jobs over the big frames)
    lin_agg = (
        cat.read_append_wave(spark, "lineage", wave)
        .agg(
            F.sum("urls_fetched").alias("f"), F.sum("urls_enqueued").alias("e")
        )
        .collect()[0]
    )
    n_fetched = int(lin_agg["f"] or 0)
    n_new = int(lin_agg["e"] or 0)
    state._seen_count += n_new
    f.unpersist()
    # checkpointed RDDs (selected/spans/cand/new) are reclaimed by the
    # ContextCleaner once these references drop
    if state._frontier_count is None:  # resume: count once
        state._frontier_count = cat.read(spark, "frontier").count()
    else:
        state._frontier_count += n_new - n_fetched
    _mark("post_commit")
    return {
        "wave": wave,
        "fetched": n_fetched,
        "enqueued": n_new,
        "frontier": state._frontier_count,
    }


def recrawl_stale(
    spark: SparkSession, state: CrawlState, max_age_waves: int,
    recrawl_priority: float = 2.0,
) -> dict:
    """Freshness-driven recrawl: re-enqueue stale URLs — committed as its
    own wave — WITHOUT ever removing them from the seen set.

    The reference recrawls by re-harvesting endpoints and letting the
    freshness-conditioned upsert decide what changed
    (``ckan_crawler.py:161-171``, ``generate_metadata.py:18-94``'s stale
    work list). Here staleness is explicit: every seen row carries the
    wave that last enqueued it (``first_wave``); rows with
    ``first_wave <= current - max_age_waves`` and not currently pending

    1. re-enter the frontier at ``recrawl_priority`` (> any 1/(depth+1)
       child score, so refreshes front-run discovery) with depth 0;
    2. have their seen-row wave stamp REFRESHED to this wave via an
       append-table COMPACTION (all rows rewritten as this wave's single
       append dir; the catalog's ``append_base`` makes older dirs
       invisible atomically with the commit — Iceberg's
       rewrite-manifests move).

    Crucially the URLs REMAIN seen-set members throughout (ADVICE r03):
    ``run_wave``'s dedup relies on the invariant that every pending
    frontier URL is in seen — evicting re-enqueued URLs let a link that
    rediscovered one before its re-fetch pass dedup and duplicate the
    frontier row (double fetch, double politeness spend), and re-entry
    into seen depended on later rediscovery (one guaranteed redundant
    fetch each). Refresh-at-enqueue matches run_wave's own stamp rule
    (new URLs record their enqueue wave, not their fetch wave), so the
    next staleness scan measures from the re-enqueue. No seen-filter
    mutation is needed at all — membership is unchanged — so the Bloom
    filter, which cannot delete, never has to rebuild for a recrawl.

    The next ordinary wave then re-fetches them subject to the same
    budgets; the conservation and uniqueness invariants the crawler
    tests pin hold throughout.
    """
    cat = state.cat
    wave = cat.current_wave() + 1
    seen = cat.read_appended(spark, "seen")
    frontier = cat.read(spark, "frontier")
    cutoff = wave - 1 - max_age_waves
    # a URL enqueued long ago but still PENDING in the frontier must not
    # be re-added (it would duplicate a frontier row and double-spend
    # politeness budget) — recrawl applies to fetched-and-gone URLs only
    stale = (
        seen.filter(F.col("first_wave") <= cutoff)
        .select("url_canon", "url_hash")
        .join(frontier.select("url_canon"), "url_canon", "left_anti")
    )
    stale = stale.localCheckpoint()  # read before the compaction overwrites
    n_stale = stale.count()
    kept = seen.join(
        stale.select("url_canon"), "url_canon", "left_anti"
    ).select("url_canon", "url_hash", "first_wave")
    refreshed = stale.select(
        "url_canon", "url_hash", F.lit(wave).alias("first_wave")
    )
    re_rows = stale.select(
        "url_canon",
        F.lit(0).alias("depth"),
        F.lit(float(recrawl_priority)).alias("priority"),
        "url_hash",
    )
    cat.prepare_snap("frontier", wave)
    snap = cat.stage(frontier.unionByName(re_rows), "frontier", wave)
    cat.stage_append(kept.unionByName(refreshed), "seen", wave)
    cat.commit_wave(wave, {"frontier": snap}, append_base={"seen": wave})

    # seen-set membership unchanged: the driver filter and count stay valid
    if state._frontier_count is not None:
        state._frontier_count += n_stale
    return {"wave": wave, "recrawled": n_stale, "evicted": n_stale}


def crawl(
    spark: SparkSession,
    state_dir: str,
    waves: int,
    cfg: CrawlConfig | None = None,
    gcfg: G.GraphConfig | None = None,
    log=None,
    bulk_seeds: int = 0,
    fetch_adapter=None,
) -> CrawlState:
    """Driver wave loop with exact resume from the last committed wave.

    ``fetch_adapter`` swaps the fetch backend (None = synthetic pages);
    see :mod:`findopendata_spark.crawler.fetch`."""
    state = CrawlState(
        SnapshotCatalog(state_dir), cfg or CrawlConfig(), gcfg or G.GraphConfig(),
        fetch_adapter=fetch_adapter,
    )
    init_state(spark, state, bulk_seeds=bulk_seeds)
    start = state.cat.current_wave() + 1
    try:
        for wave in range(start, waves + 1):
            stats = run_wave(spark, state, wave)
            if log:
                log(stats)
            if stats["frontier"] == 0:
                break  # politeness gaps can fetch 0 in a wave; only
                # empty ends it
    finally:
        # join the last wave's in-flight seen-filter delta and release
        # its worker thread (ADVICE r05): without this the non-daemon
        # delta thread outlives crawl(), fails invisibly if the caller
        # stops the SparkSession, and blocks interpreter exit on the
        # executor's atexit join.
        _await_seen_delta(state)
        if state._bg_ex is not None:
            state._bg_ex.shutdown(wait=True)
            state._bg_ex = None
    return state
