"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``perfbench/WORKLOADS.md``) against the engine in
this checkout and prints, as the last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1`` turns on
the Spark event log, the wave-phase marks and the layer wrappers, and
reports the per-layer metrics instead (layers a workload never calls
read 0). All scratch state lives under ``.bench_build/perfbench`` and is
removed at exit; traced runs keep their spans in
``.bench_build/perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

CRASH_SIGNS = ("Python worker exited unexpectedly", "Exception in task",
               "OutOfMemoryError", "Lost task")


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the low-core leg of crawl_revisit's scaling pair
    ap.add_argument("--cores", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--leg-json", default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def result_line(spec: dict, res: dict, trace: bool) -> dict:
    """The JSON object the benchmark prints: every metric of the traced
    or untraced list in ``spec``, by name, with its unit."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = res["layer"] if trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    return {"correct": not res["problems"], "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def parse_result(line: str, spec: dict, trace: bool) -> dict[str, float]:
    """Inverse of :func:`result_line` (used by the tests and by anyone
    collecting runs): metric name -> value, checking names and units."""
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"bad keys {sorted(obj)}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    if set(obj["metrics"]) != set(units):
        raise ValueError("metric names differ from BENCHMARK.json")
    for name, m in obj["metrics"].items():
        if m["unit"] != units[name]:
            raise ValueError(f"{name}: unit {m['unit']} != {units[name]}")
    return {name: m["value"] for name, m in obj["metrics"].items()}


def _workload_module(name: str):
    if name == "crawl_revisit":
        from perfbench import crawl as mod
    elif name == "query_suite":
        from perfbench import querysuite as mod
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return mod


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "findopendata_spark", "__init__.py")):
        print("engine package findopendata_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    from perfbench.harness import (
        WORK_ROOT, MemSampler, Tracer, host_cores, prepare_env, read_event_log,
    )

    mod = _workload_module(args.workload)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, mod.C1_ONLY)
    cores = args.cores or host_cores()
    tracer = Tracer(bool(args.trace))

    # Spark's JVM inherits fd 2: keep its log in the run dir, scan it for
    # task and worker failures, and show its tail only if the run breaks.
    log_path = os.path.join(work, "stderr.log")
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    err = None
    try:
        with MemSampler() as mem:
            res = mod.run(args, work, tracer, cores)
        res["e2e"]["peak_pss_mb"] = mem.peak_mb
    except Exception:  # noqa: BLE001 - reported below, exit non-zero
        err = traceback.format_exc()
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)
        os.close(log_fd)
    with open(log_path, errors="replace") as f:
        log = f.read()
    try:
        if err is not None:
            sys.stderr.write(log[-4000:] + "\n" + err)
            return 1
        crashes = [ln for ln in log.splitlines()
                   if any(s in ln for s in CRASH_SIGNS)]
        if crashes:
            res["failed"] += 1
            res["problems"].append(f"{len(crashes)} task/worker failure lines")
        for p in res["problems"]:
            print(f"problem: {p}", file=sys.stderr)
        for n in res.get("notes", ()):
            print(f"note: {n}", file=sys.stderr)
        print("wall-clock: " + json.dumps(res["wall"]), file=sys.stderr)

        if args.leg_json:
            with open(args.leg_json, "w") as f:
                json.dump({"first_wave_s": res["first_wave_s"],
                           "fingerprint": res["fingerprint"],
                           "failed": res["failed"],
                           "problems": res["problems"]}, f)
            return 0
        if args.trace:
            ev = read_event_log(os.path.join(work, "eventlog"))
            layer = res.setdefault("layer", {})
            for k in ("tasks", "max_task_frac", "cpu_over_run",
                      "shuffle_write_bytes", "spill_bytes", "gc_s"):
                layer[f"spark.{k}"] = ev[k]
            for k, v in res["e2e"].items():
                layer[f"trace.{k}"] = v
            for k, v in res["wall"].items():
                layer[f"wall.{k}"] = v
            tracer.dump(os.path.join(
                WORK_ROOT, "traces",
                f"{args.workload}-seed{args.seed}-{int(time.time())}.json"))
        print(json.dumps(result_line(spec, res, bool(args.trace))))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
