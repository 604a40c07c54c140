"""Shared benchmark plumbing: host sizing, the Spark session, the peak
memory sampler, the span recorder and the Spark event-log reader.

Nothing here touches engine internals; the engine is reached only through
``findopendata_spark.session.get_spark`` and the public entry points the
workload modules call.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".bench_build", "perfbench")
# a run must end within 180 s of its start; traced runs fit their
# optional work into this, which leaves time to stop Spark and clean up
STARTED = time.time()
RUN_LIMIT_S = 165


def time_left() -> float:
    return RUN_LIMIT_S - (time.time() - STARTED)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_heap() -> str:
    """A quarter of the host's RAM, clamped to 1-4 GB: the host is shared,
    and every workload fits well inside 4 GB of driver heap. Total, not
    free, RAM, so the heap (and the GC work it implies) is the same in
    every run on one host."""
    return f"{max(1024, min(4096, _mem_total_mb() // 4))}m"


def prepare_env(work: str, c1_only: bool) -> None:
    """Process environment every Spark JVM and Python worker inherits:
    the package on the workers' path, heap sized from this host, scratch
    and shuffle space inside the run's work directory, and the JIT
    tiers the workload runs with."""
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temp files (the JVM's native-library copies and artifact dirs,
    # Python's tempfile) stay in the run's directory, and neither the
    # driver JVM nor spark-submit's launcher JVM writes a perf-data file
    # to /tmp; ParallelGC is get_spark's own default
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # ``c1_only``: a fresh JVM's compiled code stops changing within the
    # set-up. With C2 on, a workload of many short jobs has its compiles
    # of Spark's generated classes run through the measured passes, which
    # then use 1.1-1.6x the CPU they use alone, a share that differs from
    # run to run.
    tiers = "-XX:TieredStopAtLevel=1 " if c1_only else ""
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"-XX:+UseParallelGC {tiers}-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


def start_spark(work: str, cores: int, trace: bool, app: str):
    """``get_spark`` with the run's scratch dirs; the event log is on only
    for traced runs (uncompressed, so the reader needs no codec)."""
    from findopendata_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=app, cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait for it: the gateway
    JVM exits when its stdin closes, which would otherwise happen only
    after this process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# -- peak memory (PSS) over the whole process tree -------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(raw.split(" ", 1)[0])
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants: pages
    shared between forked Python workers are split among them instead of
    being counted once per worker, as a plain RSS sum would."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root`` and all its
    descendants, including children they have already reaped. A shared
    host's steal time, when another tenant runs on our vCPUs, is in wall
    time but not here."""
    kids = _children()
    todo, ticks = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # after "comm)": utime, stime, cutime, cstime are fields 11-14
        ticks += sum(int(x) for x in raw.rsplit(")", 1)[1].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """Wall and process-tree CPU seconds since the clock was made."""

    def __init__(self):
        self.t0, self.c0 = time.time(), tree_cpu_s(os.getpid())

    def read(self) -> tuple[float, float]:
        return time.time() - self.t0, tree_cpu_s(os.getpid()) - self.c0


class MemSampler:
    """Samples the memory of this process and all its descendants (driver
    JVM, Python workers) every ``period`` seconds; ``peak_mb`` is the
    largest total seen. Reading the JVM's ``smaps_rollup`` walks its page
    tables (~35 ms for a 2.5 GB JVM on a 4-core host) under its mmap lock,
    so sampling often would slow the run it measures."""

    def __init__(self, period: float = 2.0):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))


# -- spans and counts (traced runs only) ------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent) and counters; ``dump``
    writes them once at the end of the run. Disabled tracers record
    nothing, so untraced runs pay one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "current", None)
        rec = {"id": None, "name": name, "start": time.time(), "end": None,
               "parent": parent}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._local.current = rec["id"]
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._local.current = parent

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + value

    def total(self, name: str, since: float = 0.0,
              until: float = math.inf) -> float:
        """Summed duration of every finished span called ``name`` that
        started in ``[since, until)``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and since <= s["start"] < until)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def wrap_method(owner, attr: str, tracer: Tracer, name_fn, after=None):
    """Replace ``owner.attr`` with a span-recording wrapper; returns an
    undo callable. ``name_fn(*args)`` names the span from the call's
    arguments; ``after(result, *args)`` may record counts."""
    raw = owner.__dict__[attr]
    is_cm = isinstance(raw, classmethod)
    fn = raw.__func__ if is_cm else raw

    def wrapper(*args, **kwargs):
        with tracer.span(name_fn(*args, **kwargs)):
            out = fn(*args, **kwargs)
        if after is not None:
            out = after(out, *args, **kwargs)
        return out

    setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
    return lambda: setattr(owner, attr, raw)


# -- Spark event log --------------------------------------------------------

def read_event_log(evdir: str) -> dict:
    """Aggregate task and stage metrics over every application log in
    ``evdir``: tasks, worst max-task/stage-wall ratio of stages over
    0.5 s, CPU/run time, shuffle and spill bytes, GC seconds. ``stages``
    keeps (name, wall_s, max_task_s) per stage for phase lookups."""
    stages: dict = {}
    tasks = 0
    run = cpu = gc = 0.0
    shuffle = spill = 0
    paths = [os.path.join(d, f) for d, _sub, files in os.walk(evdir)
             for f in files
             if not f.startswith("appstatus") and not f.endswith(".crc")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    tasks += 1
                    run += tm.get("Executor Run Time", 0) / 1e3
                    cpu += tm.get("Executor CPU Time", 0) / 1e9
                    gc += tm.get("JVM GC Time", 0) / 1e3
                    shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += tm.get("Disk Bytes Spilled", 0)
                    key = (path, ev["Stage ID"], ev["Stage Attempt ID"])
                    st = stages.setdefault(key, {"max_task": 0.0})
                    dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3
                    st["max_task"] = max(st["max_task"], dur)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (path, si["Stage ID"], si["Stage Attempt ID"])
                    st = stages.setdefault(key, {"max_task": 0.0})
                    st["name"] = si.get("Stage Name", "").split("\n")[0]
                    st["details"] = si.get("Details", "")
                    sub, comp = si.get("Submission Time"), si.get("Completion Time")
                    st["wall"] = (comp - sub) / 1e3 if sub and comp else 0.0
                    st["submit"] = (sub or 0) / 1e3
                    st["complete"] = (comp or 0) / 1e3
    done = [s for s in stages.values() if s.get("wall")]
    fracs = [min(1.0, s["max_task"] / s["wall"]) for s in done if s["wall"] >= 0.5]
    return {
        "tasks": tasks,
        "max_task_frac": max(fracs) if fracs else 0.0,
        "cpu_over_run": cpu / run if run else 0.0,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
        "gc_s": gc,
        "stages": done,
    }


# -- statistics -------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return float(math.exp(sum(math.log(x) for x in xs) / len(xs)))
