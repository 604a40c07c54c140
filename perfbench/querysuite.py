"""``query_suite``: the analyst path over the engine's sf 0.01 test tables.

Every run times a fixed subset of the registry that keeps a member of
each heavy kernel family plus cheap relational queries whose cost is
per-job latency. Each subset query runs once untimed (session caches
fill), then ``WARM_PASSES`` more times untimed, then in timed passes in
an order shuffled by the run's seed; each timed execution records its
wall time and the CPU time of the whole process tree. Traced runs time
the same subset executions, so their subset timings compare with
untraced runs, and also time every other registry query twice after one
untimed run; their untimed runs go ``cores`` at a time. Traced runs then
measure the serving layer on the same session and tables (``serve.py``).
Every execution's result is checked against the query's stored DuckDB
oracle result.
"""

from __future__ import annotations

import math
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, serve
from perfbench.checks import SF_DIR
from perfbench.harness import (
    STARTED, CpuClock, geomean, median, start_spark, stop_spark,
)

# one query per heavy kernel family plus two cheap relational ones
SUBSET = ("q01_pricing_summary", "q13_no_order_customers",
          "q29_keyword_search", "q17_trigram_similarity",
          "q49_simhash_near_dup", "q14_column_sketch_counters")
# short jobs: C2 would still be compiling through the timed passes
C1_ONLY = True
# untimed passes over the subset after the first one: with C1 code only,
# a query's CPU per execution is flat from its second execution on
WARM_PASSES = 1
# timed executions per query, untraced and traced runs, at the least.
# Traced runs time two of every registry query, to stay inside their
# time limit.
MIN_SAMPLES = {False: 4, True: 2}
# a traced run starts no further timed pass over the rest of the registry
# this long after its session started (a pass takes 25-40 s on a 4-core
# host, serving and shutdown 20-40 s more): a slow host keeps one sample
# of each instead of running past the 180 s limit
REST_PASS_DEADLINE_S = 90
# and no further execution at all this long after the run started: a
# slower host leaves the last queries of the pass untimed (they read 0)
REST_STOP_S = 115


def short(name: str) -> str:
    return name.split("_", 1)[0]


def run(args, work: str, tracer, cores: int) -> dict:
    import __spark_entry__ as E  # at the repo root, which run.py puts on sys.path

    registry = E.queries()
    refs: dict = {}
    problems: list[str] = []
    batch = {}  # results the serving routes must reproduce
    count = {"attempted": 0, "failed": 0}
    notes: list[str] = []
    lock = threading.Lock()
    rng = random.Random(args.seed)

    def execute(name: str):
        """One execution, checked against the query's stored oracle result:
        its (wall, CPU) seconds, or None after counting a failure. The CPU
        time is the process tree's, so it is only the query's own when no
        other query runs beside it."""
        with lock:
            count["attempted"] += 1
        with tracer.span(f"query.{short(name)}"):
            clock = CpuClock()
            try:
                got = registry[name](spark, SF_DIR).toPandas()
            except Exception as e:  # noqa: BLE001 - counted, suite goes on
                with lock:
                    count["failed"] += 1
                problems.append(f"{name}: {e!r}"[:300])
                return None
            dt = clock.read()
        ref = refs.get(name)
        if ref is None:
            ref = refs[name] = checks.load_ref(name)
        problems.extend(checks.frame_problems(name, got, ref))
        if name in serve.PARITY:
            batch[name] = got
        return dt

    def warm(names, passes: int, threads: int = 1) -> list[str]:
        """Untimed passes, ``threads`` queries at a time; returns the names
        that never failed."""
        ok = list(names)
        with ThreadPoolExecutor(max_workers=threads) as pool:
            for _ in range(passes):
                ok = [n for n, dt in zip(ok, pool.map(execute, ok))
                      if dt is not None]
        return ok

    def timed(names, min_samples: int, seconds: float, until: float = math.inf,
              stop: float = math.inf) -> dict[str, tuple[float, float]]:
        """Seeded-order passes until ``seconds`` have passed and every
        query has ``min_samples`` times, or no new pass after the clock
        reads ``until`` and no new execution after it reads ``stop``;
        per-query medians of wall and of CPU seconds of the queries
        timed."""
        samples: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
        t_loop = time.time()
        while samples and (time.time() - t_loop < seconds
                           or min(map(len, samples.values())) < min_samples):
            if min(map(len, samples.values())) and time.time() > until:
                break
            order = list(samples)
            rng.shuffle(order)
            for name in order:
                if time.time() > stop:
                    break
                dt = execute(name)
                if dt is None:
                    del samples[name]  # no more passes for it
                else:
                    samples[name].append(dt)
            if time.time() > stop:
                break
        return {n: (median([w for w, _c in s]), median([c for _w, c in s]))
                for n, s in samples.items() if s}

    t0 = time.time()
    setup = CpuClock()
    spark = start_spark(work, cores, tracer.enabled, args.workload)
    session_s = time.time() - t0
    try:
        if tracer.enabled:
            # a traced run's set-up does not compare with an untraced
            # run's, and it must time every registry query within its
            # time limit: the untimed runs, which fill caches and compile
            # plans of latency-bound queries, go side by side
            ok = warm(registry, 1, cores)
            subset = warm([n for n in SUBSET if n in ok], WARM_PASSES, cores)
            rest = [n for n in ok if n not in SUBSET]
        else:
            subset = warm(SUBSET, 1 + WARM_PASSES)
        setup_wall, setup_cpu = setup.read()
        medians = timed(subset, MIN_SAMPLES[tracer.enabled], args.seconds)
        served = None
        if tracer.enabled:
            timed_rest = timed(rest, MIN_SAMPLES[True], 0,
                               until=t0 + REST_PASS_DEADLINE_S,
                               stop=STARTED + REST_STOP_S)
            if len(timed_rest) < len(rest):
                notes.append(f"{len(rest) - len(timed_rest)} registry "
                             "queries left untimed: time limit")
            medians.update(timed_rest)
            served = serve.run(spark, SF_DIR, args.seed, cores, tracer, batch)
    finally:
        stop_spark(spark)

    subset = [n for n in subset if n in medians]
    walls = [medians[n][0] for n in subset]
    cpus = [medians[n][1] for n in subset]
    out = {
        "attempted": count["attempted"],
        "failed": count["failed"],
        "problems": problems,
        "notes": notes,
        "e2e": {
            "throughput_per_cpu_s": len(subset) / sum(cpus),
            "cpu_ms_per_op": geomean(cpus) * 1e3,
            "setup_s": setup_cpu,
        },
        "wall": {
            "throughput_per_s": len(subset) / sum(walls),
            "latency_p50_ms": geomean(walls) * 1e3,
            "setup_s": setup_wall,
        },
    }
    if tracer.enabled:
        layer = {f"query.{short(n)}.median_s": w for n, (w, _c) in medians.items()}
        layer["query.total_s"] = sum(w for w, _c in medians.values())
        layer["session.start_s"] = session_s
        layer.update(served["layer"])
        out["layer"] = layer
        out["attempted"] += served["attempted"]
        out["failed"] += served["failed"]
        out["problems"] += served["problems"]
    return out
