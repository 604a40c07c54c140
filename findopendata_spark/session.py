"""SparkSession factory tuned for the engine, and the two session-scoped
caches every query and serving path shares.

Local mode is single-JVM (the sandbox), but every setting here is the one
you'd ship to a 1000-executor cluster: AQE with skew-join handling on,
Arrow for every pandas-UDF hop, shuffle partitions sized to cores (cluster:
2-3x total cores), broadcast threshold left at default so small dims
(region/nation/robots/seeds) broadcast automatically.

Queries never change session conf: they run in whatever session the
caller hands them (a vanilla one has 200 shuffle partitions and the
host's time zone) and leave it as they found it.
:func:`cached` is the one way a query or serving path caches a frame, so
a cached frame's partition count comes from the cluster's cores, not
from the session's shuffle setting.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

T = TypeVar("T")

# (applicationId, *key) -> what build() returned, and the lock that lets
# one thread build it while others asking for the same entry wait
_SESSION_CACHE: dict[tuple, Any] = {}
_BUILD_LOCKS: dict[tuple, threading.Lock] = {}
_BUILD_LOCKS_LOCK = threading.Lock()


def get_spark(
    app_name: str = "findopendata-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — e.g.
    ``local-cluster[4,4,6144]`` launches 4 separate executor JVMs with 4
    cores each (the in-sandbox stand-in for a 4-executor cluster: each
    executor owns its heap, GC, and python workers, like a real node)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Generated classes the codegen cache keeps resident (see
    # spark.sql.codegen.cache.maxEntries below) keep their JIT-compiled
    # code in the code cache too. A C1-only JVM (-XX:TieredStopAtLevel=1)
    # reserves just 48 MB for it, which the 50-query registry filled:
    # "Out of space in CodeCache for adapters" then kills the JVM.
    # 240 MB is HotSpot's tiered default. Listed first, so a flag in
    # SPARK_GRAFT_JVM_OPTS still wins.
    jvm_opts = "-XX:ReservedCodeCacheSize=240m " + os.environ.get(
        "SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC"
    )

    # Under spark-submit the master comes from the launcher (--master
    # yarn/k8s/local-cluster...); calling .master() here would silently
    # override it (SparkConf() has no JVM attached pre-launch, so reading
    # spark.master off it always returns None — verified: spark-submit
    # --master local[3] ran as local[N]). The launcher is detectable by the
    # env it injects into the python child (PYSPARK_GATEWAY_PORT via
    # PythonRunner, PYSPARK_SUBMIT_ARGS via the pyspark shell): in that
    # case skip .master() entirely unless the caller forced one. Plain
    # `python x.py` runs default to local[cores].
    # PYSPARK_SUBMIT_ARGS alone is NOT proof of a launcher: findspark /
    # conda activation scripts export PYSPARK_SUBMIT_ARGS='pyspark-shell'
    # with no --master, and treating that as launcher-managed would make
    # plain `python script.py` die with "A master URL must be set"
    # (ADVICE r04). Only honor it when it actually carries --master.
    launcher_managed = master is None and (
        "PYSPARK_GATEWAY_PORT" in os.environ
        or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    )
    builder = SparkSession.builder.appName(app_name)
    if not launcher_managed:
        builder = builder.master(master or f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # ParallelGC: URL/string-heavy operators are allocation-bound; G1's
        # default pacing collapses at 32 local threads (measured 3.3x slower
        # than ParallelGC on a 10M-row parse_url+xxhash benchmark). Applies
        # only at JVM launch — benchmarks start each level in a fresh
        # process. On a real cluster this goes in executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", jvm_opts)
        # same GC for separate executor JVMs (local-cluster / real cluster)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        # FAIR scheduling: the wave stages its five per-wave outputs from
        # concurrent driver threads; under FIFO the big frontier write's
        # stages hog every slot and the small writes queue serially
        # behind it — FAIR interleaves them (same setting you'd ship for
        # multi-tenant jobs on a real cluster).
        .config("spark.scheduler.mode", "FAIR")
        # AQE: runtime coalesce + skew-join split — essential at 100 TB where
        # static partition counts are always wrong for some stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # (r06 negative A/B: lowering coalescePartitions.minPartitionSize
        # to 64k — motivated by an event-log capture of q51's verify
        # mapInArrow coalesced to 25 tasks on 32 cores — measured a net
        # WASH over the hot python-stage queries, best-of-3 interleaved:
        # q34 -0.3 s but q51 +0.7 s; the extra tasks' python-worker
        # round-trips eat the parallelism gain. Default kept.)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: every pandas UDF / applyInPandas hop is Arrow-batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet scans: pushdown + pruning are on by default; keep split
        # size bounded so a 100 TB table yields sane task counts.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-code cache sized to keep a steady-state crawl wave
        # resident. Spark's default (100 entries) is smaller than one
        # wave's working set, so every wave re-generated, Janino-compiled
        # and JIT-compiled the previous wave's classes. Measured working
        # sets: one perfbench crawl_revisit wave compiles ~131 distinct
        # classes, the 6-query perfbench subset ~71 per pass, q14 alone 58
        # on its first run. At 1000 a wave compiles 6 classes instead of
        # ~130, and on a 4-core host its CPU time fell 20% and peak PSS 7%.
        # Static SQL conf: settable only here, before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_cache(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """``build()``'s result, built once per live SparkContext and ``key``.

    Keyed on ``(spark.sparkContext.applicationId, *key)``: cached
    DataFrames die with their SparkContext, and a stop()+recreate in the
    same process must not hand back plans bound to the dead JVM.
    applicationId is unique per SparkContext (unlike id(), which GC can
    recycle). ``build()`` runs only on a miss, once even when threads
    miss together; if it raises, nothing is stored and the next call
    builds again. The sketch store, the IVF index, the trigram
    posting indexes and the sf table schemas (``registry.load``) share
    this one cache, so each caller's ``key`` must tell its entries apart
    from the others'.
    """
    full = (spark.sparkContext.applicationId, *key)
    with _BUILD_LOCKS_LOCK:
        lock = _BUILD_LOCKS.setdefault(full, threading.Lock())
    with lock:
        if full not in _SESSION_CACHE:
            _SESSION_CACHE[full] = build()
        return _SESSION_CACHE[full]


def cached(df: DataFrame) -> DataFrame:
    """``df`` coalesced to the session's default parallelism and cached,
    unless the same plan is already cached; use the returned frame.

    A frame that ends in a shuffle would otherwise keep the session's
    shuffle partition count (adaptive execution does not coalesce a
    cached plan's output), and every later scan of the cache pays one
    task per partition: 200 in a vanilla session. Cores is the rule
    :func:`findopendata_spark.dedup.spread_scan` already uses.
    Repeated runs of a query rebuild identical plans; ``storageLevel``
    does the CacheManager's canonicalized-plan lookup, so a rerun reuses
    the first run's blocks without a "cache already cached data"
    warning."""
    out = df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
    if out.storageLevel == StorageLevel.NONE:
        out.cache()
    return out
