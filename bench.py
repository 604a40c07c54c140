"""Round benchmark: headline queries at $SPARK_GRAFT_SF_DIR + crawl scaling.

Prints ONE COMPACT JSON line (< 1.9 KB — the grading driver parses the
JSON out of the last 2000 chars of stdout, see _emit):
  {"metric": "...", "sf": ..., "value": <total query sec>, "unit": "sec",
   "queries": {"qNN": sec, ...}, "sf2": ..., "value_sf2": ...,
   "crawl": {"lo"/"hi": urls/s at the 2->8-core pair, "raw_eff",
             "ctl_eff", "vs_ctl", "probe_int"/"probe_str",
             "W_core_s"/"F_s" model fit, "xl_*": XL-wave leg},
   "detail": "BENCH/last_run.json"}
The FULL result (long query names, per-run lists, controls, probes,
both scale points) is written to BENCH/last_run.json.

The crawl block evidences BASELINE.json's two-cluster-size rule in-sandbox.
HEADLINE (r05): the DECISION-GRADE 2->8-core multi-JVM pair —
local-cluster[1,2,mem] vs local-cluster[4,2,mem] (N vs 4N executor JVMs,
per-executor shape constant, package shipped via --py-files), interleaved
best-of-2 with a paired zero-coordination control, in the core region
where the host grants near-ideal parallelism (4->16 saturates this
sandbox's DRAM bandwidth and caps even the control at ~0.63-0.68 — see
BENCH/BASELINE.md). Second leg: the XL wave (3x seeds+budget) on the
SAME topology, probe-labeled — the W/F latency-model fit (_wf_fit)
predicts raw efficiency rises with wave size, and this leg tests the
>=0.8 prediction. The r04 4->16 pair and the single-JVM pair remain
env-gated (SPARK_GRAFT_BENCH_416=1 / SPARK_GRAFT_BENCH_SINGLE_JVM=1)
for continuity runs. Throughput = (urls scheduled + deduped)/sec from
lineage rows. Set SPARK_GRAFT_BENCH_CRAWL=0 to skip the crawl block.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# N vs 4N levels. We use cpus/8 vs cpus/2 (4 vs 16 here) rather than
# 8 vs 32: measured per-core throughput on this host is flat up to 16
# active cores but drops ~40% at 32 (turbo/memory-bandwidth), which
# caps ANY workload's 8→32 efficiency at ~0.72 — see BENCH/BASELINE.md.
N_LO = max(2, CPUS // 8)
N_HI = max(4, CPUS // 2)


def _new_spark(cores: int):
    from findopendata_spark.session import get_spark

    return get_spark(f"bench-{cores}", cores=cores, shuffle_partitions=cores)


def bench_queries(spark) -> dict[str, float]:
    """Best-of-2 per query: the first pass pays one-time JVM codegen +
    python-worker startup for whichever query touches a code path first
    (measured: q22 cold 15.0 s vs steady-state 2.6 s), which made
    single-pass totals order-dependent noise."""
    import __spark_entry__ as entry

    out: dict[str, float] = {}
    for name, q in sorted(entry.queries().items()):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            q(spark, SF_DIR).collect()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def bench_crawl(
    cores: int, bulk_seeds: int = 700_000, budget: int = 30_000,
    master: str | None = None,
) -> dict:
    """Fixed synthetic frontier (seed 42), W waves; returns throughput.

    Run in a FRESH process per parallelism level (see main): JVM options
    (GC) and local[N] sizing only apply at JVM launch.

    ``bulk_seeds``/``budget`` scale the wave: the default (700k/30k) is
    the r01/r02-comparable protocol; the large-wave datapoint (4x work:
    2.8M seeds, 120k budget) evidences that the fixed per-wave
    orchestration cost F amortizes with wave size — the 10^10 shape."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler import crawl
    from findopendata_spark.crawler.graph import GraphConfig

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from findopendata_spark.session import get_spark

    # AQE off for the crawl: its per-shuffle materialization barriers
    # serialize this many-stage pipeline; partition counts and skew are
    # already managed explicitly (salted fetch groups, the per-host
    # top-k limit).
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    conf = {
        "spark.sql.adaptive.enabled": "false",
        # tmpfs shuffle dir: isolates the measurement from the noisy
        # shared-host disk; the crawl state dir lives there too
        "spark.local.dir": os.path.join(shm, "spark-local"),
    }
    if "SPARK_GRAFT_LOCALITY_WAIT" in os.environ:
        # multi-JVM A/B knob: delay-scheduling waits stall wide stages
        # that read another executor's checkpointed blocks; loopback
        # transfer is cheaper than waiting for this bandwidth-bound shape
        conf["spark.locality.wait"] = os.environ["SPARK_GRAFT_LOCALITY_WAIT"]
    conf.update(_cluster_conf(master))
    if bulk_seeds >= 1_500_000 and "SPARK_GRAFT_JVM_OPTS" not in os.environ:
        # GC by live-set size (A/B'd same-host, quiet windows): the
        # large wave's checkpoint/cache live set thrashes ParallelGC at
        # 16 threads (hi leg 183.8 s -> 134.6 s under G1, lo 240.7 ->
        # 166.8), while the small wave's young-gen-heavy churn favors
        # ParallelGC (hi leg 22.7 s PGC vs 42.5 s G1). Fresh JVM per
        # leg, so the option applies cleanly.
        conf["spark.driver.extraJavaOptions"] = "-XX:+UseG1GC"
        conf["spark.executor.extraJavaOptions"] = "-XX:+UseG1GC"
    spark = get_spark(
        f"bench-crawl-{cores}",
        cores=cores,
        shuffle_partitions=2 * cores,
        master=master,
        extra_conf=conf,
    )
    cfg = CrawlConfig(per_host_wave_budget=budget, hot_host_salt=32)
    gcfg = GraphConfig(graph_size=8_000_000, out_links_min=8, out_links_max=24)
    # warmup: a miniature crawl with identical query shapes, so JIT/
    # whole-stage-codegen compilation (cold-JVM cost, core-count
    # independent — measured ~50 s) is excluded from the measurement.
    # A real cluster amortizes this across long-lived executors.
    wd = tempfile.mkdtemp(prefix=f"bench-warm-{cores}-", dir=shm)
    crawl(spark, wd, waves=1,
          cfg=CrawlConfig(per_host_wave_budget=500, hot_host_salt=32),
          gcfg=gcfg, bulk_seeds=10_000)
    shutil.rmtree(wd, ignore_errors=True)

    d = tempfile.mkdtemp(prefix=f"bench-crawl-{cores}-", dir=shm)
    try:
        t0 = time.time()
        state = crawl(spark, d, waves=1, cfg=cfg, gcfg=gcfg,
                      bulk_seeds=bulk_seeds)
        wall = time.time() - t0
        lin = state.cat.read_appended(spark, "lineage")
        agg = lin.agg(
            F.sum("urls_fetched").alias("fetched"),
            F.sum("urls_candidates").alias("scheduled"),
            F.sum("urls_deduped").alias("deduped"),
            F.sum("urls_enqueued").alias("enqueued"),
        ).collect()[0]
        work = int(agg["scheduled"]) + int(agg["deduped"])
        return {
            "cores": cores,
            "wall_s": round(wall, 2),
            "urls_fetched": int(agg["fetched"]),
            "urls_scheduled": int(agg["scheduled"]),
            "urls_deduped": int(agg["deduped"]),
            "throughput_urls_per_s": round(work / wall, 1),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


def host_scaling_probe(lo: int, hi: int, kind: str = "int") -> dict:
    """~15 s pure-python multiprocessing probe: how much extra CPU does
    this host actually grant from `lo` to `hi` workers RIGHT NOW?

    Two variants, no Spark in either:
    - ``int``: register-bound integer loops — pure scheduler/CPU grant.
    - ``str``: string synthesis + hashing (the crawl's instruction
      class) — adds allocator + DRAM-bandwidth demand. The two
      efficiencies BRACKET any workload on this host: when ``int``
      holds ~1.0 while ``str`` caps at ~0.5–0.7, the gap is memory-
      subsystem saturation, not scheduling — the residual no engine
      (and no zero-coordination job) can scale past. Recording both
      per-run lets a reader attribute the crawl's raw ratio precisely
      (probes swing 0.27–0.98 between windows on this host)."""
    import multiprocessing as mp

    burn = _burn if kind == "int" else _burn_str
    n = 3_000_000 if kind == "int" else 300_000

    def _thr(procs: int) -> float:
        with mp.Pool(procs) as p:
            t0 = time.time()
            p.map(burn, [n] * procs * 4)
            return procs * 4 * n / (time.time() - t0)

    t_lo, t_hi = _thr(lo), _thr(hi)
    return {
        "kind": kind,
        "lo_workers": lo,
        "hi_workers": hi,
        "mops_lo": round(t_lo / 1e6, 1),
        "mops_hi": round(t_hi / 1e6, 1),
        "probe_efficiency": round(t_hi / (t_lo * hi / lo), 3),
    }


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def _burn_str(n: int) -> int:
    # the crawl's instruction class: format + concat + hash per "URL"
    s = 0
    for i in range(n):
        u = f"https://data-{i & 1023}.example.net/d/{i:012d}?b=2&a=1"
        s ^= hash(u.lower())
    return s


def _cluster_conf(master: str | None) -> dict[str, str]:
    """local-cluster[n,c,memMB] legs: size the executor request to the
    worker's grant (default spark.executor.memory=1g would waste the
    worker) and keep the driver lean — the work happens in executors."""
    if not master or not master.startswith("local-cluster["):
        return {}
    n, c, mem = master[len("local-cluster["):-1].split(",")
    # executors are separate JVMs with their own python workers: the
    # package ships as the real --py-files artifact (the exact zip
    # spark-submit would distribute on a cluster)
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "scripts"))
    try:
        import package_pyfiles
    finally:
        _sys.path.pop(0)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    zip_path = os.path.join(shm, "findopendata_spark_pyfiles.zip")
    # rebuild unconditionally (cheap): a stale cached zip would ship
    # outdated package code to the executor JVMs after source edits
    package_pyfiles.build(zip_path)
    return {
        "spark.executor.memory": f"{int(mem) - 512}m",
        "spark.driver.memory": "8g",
        "spark.submit.pyFiles": zip_path,
    }


def bench_control(
    cores: int, master: str | None = None, n_urls: int = 1_500_000
) -> dict:
    """Perfectly-parallel control: the crawl's per-URL instruction mix
    (string synthesis, canonicalization, xxhash64, Arrow round-trip
    through the synthetic fetch UDF, parquet write) with ZERO
    coordination — one stage, no shuffle, no window, no join, no commit
    barrier. Its N→4N efficiency is the ceiling this host's memory
    bus/allocator allows ANY embarrassingly-parallel version of this
    workload; the crawl's efficiency is judged against it
    (``efficiency_vs_control``)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from findopendata_spark.crawler.graph import GraphConfig, synth_fetch_pandas
    from findopendata_spark.functions.urls import canonicalize_url, url_host

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from findopendata_spark.session import get_spark

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    spark = get_spark(
        f"bench-control-{cores}", cores=cores, shuffle_partitions=2 * cores,
        master=master,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.local.dir": os.path.join(shm, "spark-local"),
            **_cluster_conf(master),
        },
    )
    gcfg = GraphConfig(graph_size=8_000_000, out_links_min=8, out_links_max=24)
    n = n_urls  # default sized so one control leg stays ~1 min at N_LO;
    # pass 3x for an XL-volume control (does the host's string/DRAM
    # ceiling itself move at XL data volume?)

    def job(n_urls: int, out_dir: str) -> int:
        import pandas as pd

        df = spark.range(n_urls, numPartitions=4 * cores)
        hostj = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(gcfg.n_data_hosts))
        host = F.concat(
            F.lit("data-"), hostj.cast("string"), F.lit(".example.net")
        )
        messy = F.concat(
            F.lit("HTTPS://"), host, F.lit(":443/d/"),
            F.lpad((F.col("id") % gcfg.graph_size).cast("string"), 12, "0"),
            F.lit("?b=2&a=1#frag"),
        )
        urls = df.select(canonicalize_url(messy).alias("url_canon")).select(
            "url_canon",
            url_host(F.col("url_canon")).alias("host"),
            F.xxhash64("url_canon").alias("url_hash"),
            F.lit(1).alias("depth"),
        )

        def fetch(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                h = pdf["url_hash"].to_numpy("int64").view("uint64")
                doc_idx, kind, text, media_ref, offset = synth_fetch_pandas(
                    pd.Series(h), pdf["depth"], gcfg
                )
                yield pd.DataFrame(
                    {
                        "url_canon": pdf["url_canon"].to_numpy()[doc_idx],
                        "kind": kind,
                        "text": text,
                        "media_ref": media_ref,
                        "offset": offset,
                    }
                )

        spans = urls.mapInPandas(
            fetch,
            "url_canon string, kind string, text string, "
            "media_ref string, offset int",
        )
        spans.write.mode("overwrite").parquet(out_dir)
        return n_urls

    warm = tempfile.mkdtemp(prefix=f"ctl-warm-{cores}-", dir=shm)
    job(50_000, warm)
    shutil.rmtree(warm, ignore_errors=True)
    out = tempfile.mkdtemp(prefix=f"ctl-{cores}-", dir=shm)
    try:
        t0 = time.time()
        work = job(n, out)
        wall = time.time() - t0
        return {
            "cores": cores,
            "wall_s": round(wall, 2),
            "urls": work,
            "throughput_urls_per_s": round(work / wall, 1),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


def _subprocess_bench(fn_name: str, cores: int, **kwargs) -> dict:
    """Run bench_<fn>(cores, **kwargs) in a fresh python/JVM process."""
    import subprocess

    kw = "".join(f", {k}={v!r}" for k, v in kwargs.items())
    code = (
        "import json, bench; print('BENCHJSON:'+json.dumps(bench.%s(%d%s)))"
        % (fn_name, cores, kw)
    )
    # 2-core XL legs legitimately run 12-18 min; leave headroom for a
    # degraded host window rather than killing a still-progressing leg
    leg_timeout = int(os.environ.get("SPARK_GRAFT_LEG_TIMEOUT", "2700"))
    last_err = ""
    for attempt in range(2):
        try:
            out = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                timeout=leg_timeout,
            )
        except subprocess.TimeoutExpired:
            last_err = f"leg timeout after {leg_timeout}s"
            continue
        for line in out.stdout.splitlines():
            if line.startswith("BENCHJSON:"):
                return json.loads(line[len("BENCHJSON:"):])
        # transient host stalls can kill python workers mid-leg
        # (observed: a 57 ms hrtimer stall -> socket reset -> job
        # abort); one retry in a fresh JVM rides it out
        last_err = out.stderr[-2000:]
    raise RuntimeError(f"{fn_name} failed at {cores} cores: {last_err}")


def _best_of_interleaved(
    fn_name: str, lo_cores: int, hi_cores: int, runs: int,
    lo_extra: dict | None = None, hi_extra: dict | None = None, **kwargs
) -> tuple[dict, dict, list[float], list[float]]:
    """Run lo,hi,lo,hi,... so a multi-minute interference episode on this
    shared host degrades BOTH legs instead of silently skewing the
    efficiency ratio one way; best-of per leg. ``lo_extra``/``hi_extra``
    add per-leg kwargs (e.g. each leg's local-cluster master)."""
    lo_kw = {**kwargs, **(lo_extra or {})}
    hi_kw = {**kwargs, **(hi_extra or {})}
    lo_runs, hi_runs = [], []
    for _ in range(runs):
        lo_runs.append(_subprocess_bench(fn_name, lo_cores, **lo_kw))
        hi_runs.append(_subprocess_bench(fn_name, hi_cores, **hi_kw))
    key = lambda r: r["throughput_urls_per_s"]  # noqa: E731
    return (
        max(lo_runs, key=key),
        max(hi_runs, key=key),
        [key(r) for r in lo_runs],
        [key(r) for r in hi_runs],
    )


def _wf_fit(lo: dict, hi: dict, c_lo: int) -> dict:
    """Two-point fit of the wave latency model ``wall = F + W/c`` to an
    (c_lo, 4*c_lo) pair: W = parallelizable work (core-seconds), F =
    core-count-independent time (driver orchestration, stage-scheduling
    latency, barriers). The model quantifies the scaling question the
    north rule asks: raw N->4N efficiency = (F + W/c_lo)/(4F + W/c_lo),
    so raw 0.8 requires W/c_lo >= 11*F — a property of WAVE SIZE, not of
    the engine alone. ``wave_scale_for_0.8`` is the factor this pair's
    wave would need to grow for 0.8 at the same c_lo (at the 10^10-URL
    frontier the rule describes, waves are ~3 orders larger and the
    predicted efficiency approaches W-limited ideal)."""
    t_lo, t_hi = lo["wall_s"], hi["wall_s"]
    c_hi = 4 * c_lo
    w = max((t_lo - t_hi) / (1.0 / c_lo - 1.0 / c_hi), 0.0)
    f = max(t_lo - w / c_lo, 0.0)
    return {
        "W_core_s": round(w, 1),
        "F_s": round(f, 1),
        "eff_model_at_pair": round(
            (f + w / c_lo) / (4 * f + w / c_lo), 3
        ) if (f or w) else None,
        "wave_scale_for_0.8": (
            round(11.0 * f * c_lo / w, 2) if w > 0 else None
        ),
    }


def main() -> None:
    global SF_DIR
    # CRAWL LEGS RUN FIRST, the 32-core queries phase LAST: sustained
    # full-width CPU on this sandbox triggers throttling that decays over
    # many minutes (measured: a 16-core crawl leg does 222-230k urls/s
    # cold, 135k immediately after a 100 s 32-core queries phase, and
    # three back-to-back 16-core legs show NO mutual degradation). With
    # the old order every hi leg ran inside the post-queries throttle
    # window and the efficiency ratio was silently halved.
    result = {
        "metric": "headline query wall time (sum) + crawl URLs scheduled+deduped/sec",
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    }
    if os.environ.get("SPARK_GRAFT_BENCH_CRAWL", "1") != "0":
        # Best-of-N per level, default 2: this host shows ±20-50%
        # interference between identical runs (BENCH/BASELINE.md records
        # identical code measuring 45.6 s and 63.3 s an hour apart);
        # max-throughput is the least-disturbed run.
        runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
        ratio = N_HI / N_LO

        def _eff(lo_r, hi_r):
            return round(
                hi_r["throughput_urls_per_s"]
                / (ratio * lo_r["throughput_urls_per_s"]), 3
            )

        # HEADLINE (r05): the DECISION-GRADE 2->8-core multi-JVM pair
        # (VERDICT r04 item 1) — local-cluster[1,2,mem] vs
        # local-cluster[4,2,mem]: N vs 4N separate executor JVMs with
        # identical per-executor cores/heap, in the core-count region
        # where this host grants near-ideal parallelism (the r02 control
        # measured 0.885 at 2->8; at 4->16 the host's DRAM bandwidth
        # saturates and caps even zero-coordination jobs at ~0.63-0.68).
        # Paired zero-coordination control on the SAME topology; the W/F
        # latency-model fit quantifies what raw efficiency this wave
        # size can express at all (see _wf_fit).
        seeds = int(os.environ.get("SPARK_GRAFT_LARGE_SEEDS", "2800000"))
        probe_pre = host_scaling_probe(N_LO, N_HI)
        probe_str = host_scaling_probe(N_LO, N_HI, kind="str")
        crawl = {
            "headline": "multi_jvm_cluster_2to8",
            "host_probe": probe_pre,
            "host_probe_str": probe_str,
            "host_probe_2to8": host_scaling_probe(2, 8),
            "host_probe_str_2to8": host_scaling_probe(2, 8, kind="str"),
            "parallelism_ratio": ratio,
            "bulk_seeds": seeds,
            "budget": 120_000,
        }
        mem = int(os.environ.get("SPARK_GRAFT_CLUSTER_MEM_MB", "16384"))

        def _cluster_pair(c, n_hi, runs_, seeds_, budget_) -> dict:
            """One N vs 4N executor-JVM pair, per-executor shape constant,
            interleaved best-of-``runs_``, with the W/F model fit."""
            m_lo = f"local-cluster[1,{c},{mem}]"
            m_hi = f"local-cluster[{n_hi},{c},{mem}]"
            klo, khi, klo_all, khi_all = _best_of_interleaved(
                "bench_crawl", c, c * n_hi, runs_,
                lo_extra={"master": m_lo}, hi_extra={"master": m_hi},
                bulk_seeds=seeds_, budget=budget_,
            )
            return {
                "master_lo": m_lo, "master_hi": m_hi,
                "executors_lo": 1, "executors_hi": n_hi,
                "bulk_seeds": seeds_, "budget": budget_,
                "n_lo": klo, "n_hi": khi,
                "all_runs_lo": klo_all, "all_runs_hi": khi_all,
                "scaling_efficiency": _eff(klo, khi),
                "model": _wf_fit(klo, khi, c),
            }

        def _paired_control(block: dict, c, n_hi, runs_) -> None:
            """Zero-coordination ceiling under the block's topology."""
            xlo, xhi, xlo_all, xhi_all = _best_of_interleaved(
                "bench_control", c, c * n_hi, runs_,
                lo_extra={"master": block["master_lo"]},
                hi_extra={"master": block["master_hi"]},
            )
            xeff = xhi["throughput_urls_per_s"] / (
                ratio * xlo["throughput_urls_per_s"]
            )
            block["control"] = {
                "n_lo": xlo, "n_hi": xhi,
                "all_runs_lo": xlo_all, "all_runs_hi": xhi_all,
                "control_efficiency": round(xeff, 3),
            }
            block["efficiency_vs_control"] = round(
                block["scaling_efficiency"] / xeff, 3
            )

        if os.environ.get("SPARK_GRAFT_BENCH_CLUSTER", "1") != "0":
            pair = _cluster_pair(2, 4, runs, seeds, 120_000)
            if os.environ.get("SPARK_GRAFT_BENCH_CONTROL", "1") != "0":
                _paired_control(pair, 2, 4, runs)
            crawl["cluster_2to8"] = pair

        # XL wave at the SAME decision topology (VERDICT r04 item 1's
        # second half, now paired + probe-labeled): 3x the headline wave.
        # The W/F model predicts raw efficiency RISES with wave size
        # (W/c_lo grows, F fixed) — this leg tests the >=0.8 prediction
        # where the host can actually grant the parallelism.
        if os.environ.get("SPARK_GRAFT_BENCH_XL", "1") != "0":
            xl_seeds = int(os.environ.get("SPARK_GRAFT_XL_SEEDS", "8400000"))
            xl_runs = int(os.environ.get("SPARK_GRAFT_XL_RUNS", "1"))
            crawl["xl_probe_pre"] = host_scaling_probe(2, 8)
            try:
                xl = _cluster_pair(2, 4, xl_runs, xl_seeds, 360_000)
            except RuntimeError as e:  # a dead XL leg must not void the run
                xl = {"error": str(e)[:500]}
            crawl["xl_probe_post"] = host_scaling_probe(2, 8)
            crawl["xl_2to8"] = xl

        # r04-comparable 4->16 pair (1x4 vs 4x4 JVMs) — env-gated now
        # that 2->8 is the headline; run it manually for continuity
        # numbers (BENCH/BASELINE.md records them per round).
        if os.environ.get("SPARK_GRAFT_BENCH_416", "0") != "0":
            c = N_LO
            pair = _cluster_pair(c, N_HI // c, runs, seeds, 120_000)
            if os.environ.get("SPARK_GRAFT_BENCH_CONTROL", "1") != "0":
                _paired_control(pair, c, N_HI // c, runs)
            crawl["cluster"] = pair

        # single-JVM local[N] vs local[4N] (r01-r03 comparability; its
        # known limiter is shared-heap allocator/GC contention) — env-gated.
        if os.environ.get("SPARK_GRAFT_BENCH_SINGLE_JVM", "0") != "0":
            llo, lhi, llo_all, lhi_all = _best_of_interleaved(
                "bench_crawl", N_LO, N_HI, runs,
                bulk_seeds=seeds, budget=120_000,
            )
            single = {
                "n_lo": llo,
                "n_hi": lhi,
                "all_runs_lo": llo_all,
                "all_runs_hi": lhi_all,
                "scaling_efficiency": _eff(llo, lhi),
                "model": _wf_fit(llo, lhi, N_LO),
            }
            if os.environ.get("SPARK_GRAFT_BENCH_CONTROL", "1") != "0":
                clo, chi, clo_all, chi_all = _best_of_interleaved(
                    "bench_control", N_LO, N_HI, runs
                )
                ceff = chi["throughput_urls_per_s"] / (
                    ratio * clo["throughput_urls_per_s"]
                )
                single["control"] = {
                    "n_lo": clo,
                    "n_hi": chi,
                    "all_runs_lo": clo_all,
                    "all_runs_hi": chi_all,
                    "control_efficiency": round(ceff, 3),
                }
                single["efficiency_vs_control"] = round(
                    single["scaling_efficiency"] / ceff, 3
                )
            crawl["single_jvm"] = single
        if os.environ.get("SPARK_GRAFT_BENCH_SMALL", "0") != "0":
            # optional: the 700k-seed wave, directly comparable to r01/r02
            slo, shi, slo_all, shi_all = _best_of_interleaved(
                "bench_crawl", N_LO, N_HI, runs
            )
            crawl["small_wave"] = {
                "n_lo": slo,
                "n_hi": shi,
                "all_runs_lo": slo_all,
                "all_runs_hi": shi_all,
                "scaling_efficiency": _eff(slo, shi),
            }
        crawl["host_probe_str_post"] = host_scaling_probe(
            N_LO, N_HI, kind="str"
        )
        result["crawl"] = crawl
        # cooldown: sustained multi-core crawl legs trigger sandbox CPU
        # throttling that decays over minutes; without it the queries
        # phase silently measures the throttle, not the engine. 240 s:
        # the r05 official run showed 90 s is not enough after the
        # ~27-min XL legs (queries leg read 42 s vs 26.5 s in a clean
        # window, q22 8.1 s vs ~1.3 — pure throttle artifacts).
        time.sleep(int(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN", "240")))
    spark = _new_spark(CPUS)
    queries = bench_queries(spark)
    result["value"] = round(sum(queries.values()), 3)
    result["unit"] = "sec"
    result["queries"] = queries
    if os.environ.get("SPARK_GRAFT_BENCH_SF2", "1") != "0":
        # Second scale point for the query suite (VERDICT r02 item 10):
        # same queries at sf2 (default sf0.01, 10x smaller) — per-query
        # scaling evidence for the "plans survive 100x" claim.
        sf2 = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")
        main_sf, SF_DIR = SF_DIR, sf2
        try:
            q2 = bench_queries(spark)
        finally:
            SF_DIR = main_sf
        result["sf2"] = sf2.rstrip("/").rsplit("sf", 1)[-1]
        result["queries_sf2"] = q2
        result["value_sf2"] = round(sum(q2.values()), 3)
    _emit(result)


def _crawl_compact(crawl: dict) -> dict:
    """Decision-grade crawl summary small enough for the compact line:
    headline pair throughputs + raw/control/vs-control efficiencies,
    host-probe grants for the same windows, W/F model fit, XL-leg
    result. Defensive: any missing block just drops its keys."""
    c: dict = {}
    pair = crawl.get("cluster_2to8") or {}
    try:
        c["lo"] = pair["n_lo"]["throughput_urls_per_s"]
        c["hi"] = pair["n_hi"]["throughput_urls_per_s"]
        c["raw_eff"] = pair["scaling_efficiency"]
        c["W_core_s"] = pair["model"]["W_core_s"]
        c["F_s"] = pair["model"]["F_s"]
        c["ctl_eff"] = pair["control"]["control_efficiency"]
        c["vs_ctl"] = pair["efficiency_vs_control"]
    except (KeyError, TypeError):
        pass
    for src, dst in (
        ("host_probe_2to8", "probe_int"),
        ("host_probe_str_2to8", "probe_str"),
    ):
        try:
            c[dst] = crawl[src]["probe_efficiency"]
        except (KeyError, TypeError):
            pass
    xl = crawl.get("xl_2to8") or {}
    try:
        c["xl_lo"] = xl["n_lo"]["throughput_urls_per_s"]
        c["xl_hi"] = xl["n_hi"]["throughput_urls_per_s"]
        c["xl_raw_eff"] = xl["scaling_efficiency"]
    except (KeyError, TypeError):
        pass
    return c


def _emit(result: dict) -> None:
    """Print ONE compact JSON line (< ~1.9 KB) and write the full result
    to BENCH/last_run.json.

    The grading driver keeps only the LAST 2000 characters of stdout and
    parses the JSON line out of that window — the full result (51
    queries x 2 scale points + the crawl block) is ~6 KB and has
    therefore been unparseable-by-driver since r02 (BENCH_r02..r04.json:
    "parsed": null). The compact line carries the contract fields
    (metric/value/unit/sf/queries) with qNN-shortened query keys plus
    the decision-grade crawl summary; everything else lives in the
    detail file, which the round notes (BENCH/BASELINE.md) quote."""
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "BENCH", "last_run.json")
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    except OSError:
        detail_path = None
    compact = {
        "metric": result["metric"],
        "sf": result["sf"],
        "value": result.get("value"),
        "unit": result.get("unit"),
        # qNN-short keys: the driver's example shape is {"q1": sec}
        "queries": {
            name.split("_", 1)[0]: round(sec, 2)
            for name, sec in (result.get("queries") or {}).items()
        },
    }
    if "value_sf2" in result:
        compact["sf2"] = result.get("sf2")
        compact["value_sf2"] = result["value_sf2"]
    if "crawl" in result:
        compact["crawl"] = _crawl_compact(result["crawl"])
    if detail_path:
        compact["detail"] = "BENCH/last_run.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never exceed the driver's tail window
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
