"""``crawl_revisit``: the production crawl shape, driven through
``crawler.wave.crawl``.

A 20k-id graph is seeded with more bulk URLs than it has distinct ones, a
small per-host budget keeps the frontier far above ``hot_host_salt`` x
budget (so the salted pre-rank runs), and every wave indexes its fetched
text in the same commit. Waves run back to back on one catalog: select,
the seen probe, the anti-join, the frontier rewrite and the index writes
dominate, fetch is small. The first ``WARMUP_WAVES`` waves are set-up;
the waves after them are measured, each by its wall time and by the CPU
time of the whole process tree while it ran.

``GraphConfig.seed`` is never read by the graph generator, so the run
seed reaches the inputs through ``graph_size`` (within +-1% of 20k),
which moves every link target and which bulk seeds collide.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys
import time

from perfbench import checks
from perfbench.harness import (
    CpuClock, median, read_event_log, start_spark, stop_spark, time_left,
    wrap_method,
)

SHAPE = {"graph_size": 20_000, "bulk_seeds": 150_000, "budget": 40,
         "index_fields": ("text",)}
# unmeasured waves: wave 1 runs cold (JIT, first seen-filter build)
WARMUP_WAVES = 1
# measured waves: one, or more until --seconds have passed; a wave takes
# ~8 s on a quiet 4-core host, more when other tenants share its cores
MIN_WAVES = 1
WAVE_TIMEOUT_S = 60.0
# the warm-up wave runs the hot code long enough for C2 to compile it
C1_ONLY = False
# the traced run's low-core leg (session start, warm-up wave and one
# measured wave on N cores) takes 45-70 s; it is skipped when less than
# LOW_LEG_MIN_S of the run's budget (harness.RUN_LIMIT_S) is left
LOW_LEG_TIMEOUT_S = 100
LOW_LEG_MIN_S = 60
# WAVETIME mark -> per-layer phase name
PHASES = {
    "select_ckpt": "wave.select_s", "fetch_ckpt": "wave.fetch_s",
    "plan_build": "wave.plan_s", "cand_ckpt": "wave.candidate_s",
    "dedup_ckpt": "wave.dedup_s", "stage_commit": "wave.commit_s",
    "post_commit": "wave.post_commit_s",
}
STAGED_TABLES = ("frontier", "docs", "seen", "lineage", "host_state",
                 "trigram_postings_text")


def seeded_graph_size(base: int, seed: int) -> int:
    return base + base * ((seed * 2654435761) % 2001 - 1000) // 100_000


def configs(seed: int):
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler.graph import GraphConfig

    gcfg = GraphConfig(graph_size=seeded_graph_size(SHAPE["graph_size"], seed))
    cfg = CrawlConfig(per_host_wave_budget=SHAPE["budget"],
                      index_fields=SHAPE["index_fields"])
    return cfg, gcfg


class _Enough(Exception):
    """Raised from crawl()'s per-wave log hook to end a time-bounded crawl;
    crawl() still joins the seen-filter delta on the way out."""


class _WaveMarks(io.TextIOBase):
    """stdout stand-in that keeps ``WAVETIME`` marks (with the wall time
    they were printed at) and forwards every other line."""

    def __init__(self, out):
        self.out, self.marks, self._buf = out, [], ""

    def write(self, s):
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            parts = line.split()
            if len(parts) == 4 and parts[0] == "WAVETIME":
                self.marks.append((time.time(), int(parts[1]), parts[2],
                                   float(parts[3])))
            else:
                self.out.write(line + "\n")
        return len(s)


def lineage(spark, cat, wave: int) -> dict:
    from pyspark.sql import functions as F

    cols = ["urls_eligible", "urls_fetched", "urls_candidates",
            "urls_deduped", "urls_enqueued"]
    row = (cat.read_append_wave(spark, "lineage", wave)
           .agg(*[F.sum(c).alias(c) for c in cols]).collect()[0])
    return {c: int(row[c] or 0) for c in cols}


def fingerprint(df, col: str) -> tuple:
    """Order-insensitive (count, two independent hash sums) of a column."""
    from pyspark.sql import functions as F

    m = F.lit(2_147_483_647)
    r = df.agg(F.count(F.lit(1)),
               F.sum(F.pmod(F.xxhash64(col), m)),
               F.sum(F.pmod(F.xxhash64(col, F.lit(7)), m))).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class _Layers:
    """Traced-run wrappers around the catalog and seen-filter layers."""

    def __init__(self, tracer):
        from findopendata_spark.catalog import SnapshotCatalog
        from findopendata_spark.crawler.seen import ShardedSeenFilter

        self.probed: list = []
        self.maybes: list[tuple[float, int]] = []  # (time, maybe-seen rows)

        def count_maybes(df, *args, **kwargs):
            df = df.cache()
            n = df.filter("maybe_seen").count()
            tracer.add("seen.probe_maybe", n)
            self.maybes.append((time.time(), n))
            self.probed.append(df)
            return df

        self.undo = [
            wrap_method(SnapshotCatalog, "stage", tracer,
                        lambda _s, _df, table, *a, **k: f"catalog.stage.{table}"),
            wrap_method(SnapshotCatalog, "stage_append", tracer,
                        lambda _s, _df, table, *a, **k: f"catalog.stage.{table}"),
            wrap_method(SnapshotCatalog, "commit_wave", tracer,
                        lambda *a, **k: "catalog.commit"),
            wrap_method(ShardedSeenFilter, "build", tracer,
                        lambda *a, **k: "seen.build"),
            wrap_method(ShardedSeenFilter, "or_delta", tracer,
                        lambda *a, **k: "seen.delta"),
            wrap_method(ShardedSeenFilter, "with_maybe_seen", tracer,
                        lambda *a, **k: "seen.probe", after=count_maybes),
        ]

    def close(self):
        for df in self.probed:
            df.unpersist()
        for undo in self.undo:
            undo()


def _crawl_leg(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    """init_state, the warm-up wave, then measured waves until both
    ``seconds`` and ``MIN_WAVES`` are reached."""
    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.crawler import wave as W

    cfg, gcfg = configs(seed)
    base = os.path.join(work, "catalog")
    W.init_state(spark, W.CrawlState(SnapshotCatalog(base), cfg, gcfg),
                 bulk_seeds=SHAPE["bulk_seeds"])

    walls: list[tuple[int, float, float]] = []  # (wave, start, end)
    # wave -> (process-tree CPU seconds at its start, CPU seconds it took)
    cpu: dict[int, tuple[float, float]] = {}
    after: dict[int, dict] = {}  # wave -> run_wave stats + catalog bytes
    raw_run_wave = W.run_wave

    def timed_run_wave(spark_, state, wave):
        start, clock = time.time(), CpuClock()
        with tracer.span("crawler.wave.run_wave"):
            out = raw_run_wave(spark_, state, wave)
        walls.append((wave, start, time.time()))
        cpu[wave] = (clock.c0, clock.read()[1])
        return out

    def log(stats):
        after[stats["wave"]] = {**stats, "bytes": _du(base)}
        measured = walls[WARMUP_WAVES:]
        if len(measured) >= MIN_WAVES and time.time() - measured[0][1] >= seconds:
            raise _Enough

    layers = _Layers(tracer) if tracer.enabled else None
    marks = _WaveMarks(sys.stdout)
    failed = 0
    W.run_wave = timed_run_wave
    if tracer.enabled:
        os.environ["SPARK_GRAFT_WAVE_TIMING"] = "1"
    try:
        with contextlib.redirect_stdout(marks):
            W.crawl(spark, base, waves=10_000, cfg=cfg, gcfg=gcfg, log=log)
    except _Enough:
        pass
    except Exception as e:  # noqa: BLE001 - counted; measured waves stand
        failed += 1
        print(f"crawl failed after {len(walls)} waves: {e!r}", file=sys.stderr)
    finally:
        W.run_wave = raw_run_wave
        os.environ.pop("SPARK_GRAFT_WAVE_TIMING", None)
        if layers is not None:
            layers.close()
    measured = walls[WARMUP_WAVES:]
    failed += max(0, MIN_WAVES - len(measured))
    failed += sum(1 for (_w, s, e) in measured if e - s > WAVE_TIMEOUT_S)
    return {
        "cfg": cfg, "gcfg": gcfg, "base": base, "measured": measured,
        "cpu": cpu, "after": after, "marks": marks.marks,
        "maybes": layers.maybes if layers is not None else [],
        "attempted": max(MIN_WAVES, len(measured)), "failed": failed,
    }


def _leg_results(spark, leg: dict, traced: bool) -> dict:
    """Lineage of every measured wave and the output checks; traced runs
    add the first measured wave's postings count and fingerprints of the
    seen and fetched sets as of that wave (the scaling pair compares
    them)."""
    from findopendata_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(leg["base"])
    waves = [{"wave": w, "wall": e - s, "cpu": leg["cpu"][w][1],
              **lineage(spark, cat, w)}
             for w, s, e in leg["measured"]]
    if not waves:
        raise RuntimeError("no measured crawl wave completed")
    n_hosts = 1 + leg["gcfg"].n_data_hosts + leg["gcfg"].n_portals
    problems = []
    for w in waves:
        problems += checks.lineage_problems(
            w, leg["cfg"].per_host_wave_budget, n_hosts)
    seen = cat.read_appended(spark, "seen")
    problems += checks.unique_problems(
        seen.count(), seen.select("url_canon").distinct().count(), "seen")
    out = {"waves": waves, "problems": problems}
    if traced:
        first = waves[0]["wave"]
        out["fingerprint"] = (
            fingerprint(cat.read_appended(spark, "seen", upto=first), "url_canon"),
            fingerprint(cat.read_appended(spark, "docs", upto=first), "url_canon"))
        out["postings_rows"] = cat.read_append_wave(
            spark, "trigram_postings_text", first).count()
    return out


def _run_low_leg(args, work: str, cores: int, timeout: float) -> dict:
    """The low-core leg of the scaling pair: one measured wave in a fresh
    JVM (a child process of this benchmark), traced like the high leg so
    both walls carry the same tracing cost."""
    out = os.path.join(work, "low_leg.json")
    cmd = [sys.executable, os.path.abspath(sys.argv[0]),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", "0", "--trace", str(args.trace), "--cores", str(cores),
           "--leg-json", out]
    subprocess.run(cmd, check=True, timeout=timeout,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def run(args, work: str, tracer, cores: int) -> dict:
    t0 = time.time()
    setup = CpuClock()
    spark = start_spark(work, cores, tracer.enabled, args.workload)
    session_s = time.time() - t0
    try:
        leg = _crawl_leg(spark, args.seed, args.seconds, work, tracer)
        res = _leg_results(spark, leg, tracer.enabled)
    finally:
        stop_spark(spark)
    waves = res["waves"]
    walls = [w["wall"] for w in waves]
    cpus = [w["cpu"] for w in waves]
    # set-up: session start, init_state and the warm-up waves, up to the
    # start of the first measured wave
    w0, t_meas = leg["measured"][0][:2]
    out = {
        "attempted": leg["attempted"],
        "failed": leg["failed"],
        "problems": res["problems"],
        "e2e": {
            "throughput_per_cpu_s": median(
                [(w["urls_candidates"] + w["urls_deduped"]) / w["cpu"]
                 for w in waves]),
            "cpu_ms_per_op": median(cpus) * 1e3,
            "setup_s": leg["cpu"][w0][0] - setup.c0,
        },
        "wall": {
            "throughput_per_s": median(
                [(w["urls_candidates"] + w["urls_deduped"]) / w["wall"]
                 for w in waves]),
            "latency_p50_ms": median(walls) * 1e3,
            "setup_s": t_meas - t0,
        },
        "first_wave_s": walls[0],
    }
    if not tracer.enabled:
        return out
    out["fingerprint"] = res["fingerprint"]

    first = waves[0]
    layer: dict[str, float] = {
        "session.start_s": session_s,
        "wave.eligible": first["urls_eligible"],
        "wave.fetched": first["urls_fetched"],
        "wave.candidates": first["urls_candidates"],
        "wave.deduped": first["urls_deduped"],
        "wave.enqueued": first["urls_enqueued"],
        "wave.frontier_rows": leg["after"][first["wave"]]["frontier"],
        "wave.dedup_yield": first["urls_enqueued"] / max(1, first["urls_candidates"]),
        "index.postings_rows": res["postings_rows"],
    }
    measured = {w["wave"] for w in waves}
    for label, name in PHASES.items():
        vals = [m[3] for m in leg["marks"] if m[2] == label and m[1] in measured]
        layer[name] = median(vals) if vals else 0.0
    # per-wave layer times and counts over the measured waves: everything
    # that starts at or after the first of them (a wave's background
    # seen-filter delta may end after the wave does). The seen filter is
    # built before that, in set-up.
    t_meas, n = leg["measured"][0][1], len(waves)
    for table in STAGED_TABLES:
        layer[f"catalog.stage_s.{table}"] = tracer.total(
            f"catalog.stage.{table}", since=t_meas) / n
    layer["catalog.commit_s"] = tracer.total("catalog.commit", since=t_meas) / n
    layer["seen.build_s"] = tracer.total("seen.build", until=t_meas)
    layer["seen.delta_s"] = tracer.total("seen.delta", since=t_meas) / n
    maybes = sum(c for t, c in leg["maybes"] if t >= t_meas) / n
    layer["seen.probe_maybe"] = maybes
    layer["seen.useful_ratio"] = (
        median([w["urls_deduped"] for w in waves]) / maybes if maybes else 0.0)
    growth = [leg["after"][w]["bytes"] - leg["after"][w - 1]["bytes"]
              for w in sorted(measured)]
    layer["catalog.bytes_written"] = median(growth)
    layer["catalog.bytes_per_enqueued"] = median(growth) / max(
        1, median([w["urls_enqueued"] for w in waves]))
    layer["wave.select.max_task_frac"] = _select_skew(work, leg)
    out["layer"] = layer

    c_lo = max(1, cores // 4)
    if c_lo == cores:  # fewer than 2 cores: no scaling pair to take
        return out
    left = time_left()
    if left < LOW_LEG_MIN_S:
        out["notes"] = [f"low-core leg skipped: {left:.0f} s of the run's "
                        "budget left"]
        return out
    try:
        low = _run_low_leg(args, work, c_lo, min(LOW_LEG_TIMEOUT_S, left))
    except (subprocess.SubprocessError, OSError) as e:
        out["failed"] += 1
        out["problems"].append(f"low-core leg: {e!r}"[:300])
        return out
    out["attempted"] += 1
    out["failed"] += low["failed"]
    out["problems"] += low["problems"]
    t_hi, t_lo = walls[0], low["first_wave_s"]
    layer["wave.scaling_eff"] = (t_lo / t_hi) / (cores / c_lo)
    # two-point fit of wave = W/c + F over the first measured wave
    w_work = (t_lo - t_hi) / (1 / c_lo - 1 / cores)
    layer["wave.fixed_s"] = t_hi - w_work / cores
    out["problems"] += checks.same_fingerprints(
        [out["fingerprint"], low["fingerprint"]])
    return out


def _select_skew(work: str, leg: dict) -> float:
    """max task / stage wall of the longest stage that ran inside the
    select phase (wave start .. select_ckpt mark), median over waves."""
    stages = read_event_log(os.path.join(work, "eventlog"))["stages"]
    fracs = []
    for w, start, _end in leg["measured"]:
        ends = [m[0] for m in leg["marks"]
                if m[1] == w and m[2] == "select_ckpt" and m[0] >= start]
        inside = [s for s in stages if ends and s["submit"] >= start
                  and s["complete"] <= ends[0] + 0.05]
        if inside:
            top = max(inside, key=lambda s: s["wall"])
            fracs.append(min(1.0, top["max_task"] / top["wall"]))
    return median(fracs) if fracs else 0.0
