"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q

Every output check must reject a perturbed result, the result-line parser
must round-trip every metric named in BENCHMARK.json, and every registry
query must have a stored oracle result.
"""

from __future__ import annotations

import json
import time

import pandas as pd
import pytest

from perfbench import checks, crawl, harness, run, serve

SPEC = run.load_spec()


def _wave(**over):
    w = {"wave": 2, "urls_eligible": 1000, "urls_fetched": 900,
         "urls_candidates": 7000, "urls_deduped": 4500, "urls_enqueued": 2500}
    w.update(over)
    return w


def test_lineage_check_accepts_conserved_wave():
    assert checks.lineage_problems(_wave(), budget=40, n_hosts=33) == []


@pytest.mark.parametrize("over", [
    {"urls_enqueued": 2501},            # candidates != deduped + enqueued
    {"urls_fetched": 40 * 33 + 1},      # politeness budget exceeded
    {"urls_eligible": 899},             # fetched more than was eligible
    {"urls_fetched": 0},                # the wave did nothing
])
def test_lineage_check_rejects_perturbed_wave(over):
    assert checks.lineage_problems(_wave(**over), budget=40, n_hosts=33)


def test_unique_check():
    assert checks.unique_problems(10, 10, "seen") == []
    assert checks.unique_problems(11, 10, "seen")


def test_fingerprint_check():
    fp = ((10, 123, 456), (5, 7, 8))
    assert checks.same_fingerprints([fp, [list(fp[0]), list(fp[1])]]) == []
    assert checks.same_fingerprints([fp, ((10, 124, 456), (5, 7, 8))])


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0],
                         "s": ["a", "b", "c"], "b": [True, False, True]})


def test_frame_check_is_order_insensitive():
    df = _frame()
    shuffled = df.iloc[[2, 0, 1]][["s", "v", "b", "k"]]
    assert checks.frame_problems("q", shuffled, df) == []


@pytest.mark.parametrize("perturb", [
    lambda d: d.assign(v=d["v"] + [0, 1e-6, 0]),
    lambda d: d.assign(s=["a", "x", "c"]),
    lambda d: d.assign(b=[True, True, True]),
    lambda d: d.iloc[:2],
    lambda d: d.rename(columns={"v": "w"}),
])
def test_frame_check_rejects_perturbed_result(perturb):
    df = _frame()
    bad = perturb(df.copy())
    assert checks.frame_problems("q", bad, df)


def _batch():
    q29 = pd.DataFrame({"doc_id": [4, 9], "score": [1.25, 0.5]})
    q41 = pd.DataFrame({"doc_id": [3, 7], "title_similarity": [0.5, 0.25],
                        "description_similarity": [0.125, 0.0]})
    return q29, q41


def _bodies(q29, q41):
    return ({"results": q29.to_dict("records")},
            {"results": q41.to_dict("records")})


def test_serve_parity_accepts_identical_bodies():
    q29, q41 = _batch()
    b29, b41 = json.loads(json.dumps(_bodies(q29, q41)))
    assert serve.parity_problems(b29, q29, b41, q41) == []


@pytest.mark.parametrize("perturb", [
    lambda b29, b41: b29["results"].reverse(),               # rank order
    lambda b29, b41: b29["results"][0].update(score=1.5),
    lambda b29, b41: b41["results"].pop(),                   # a row lost
    lambda b29, b41: b41["results"][1].update(doc_id=8),
])
def test_serve_parity_rejects_perturbed_body(perturb):
    q29, q41 = _batch()
    b29, b41 = json.loads(json.dumps(_bodies(q29, q41)))
    perturb(b29, b41)
    assert serve.parity_problems(b29, q29, b41, q41)


def test_request_mix_follows_the_seed():
    docs = pd.DataFrame({"doc_id": range(50), "source": ["s1", "s2"] * 25,
                         "text": ["x" * (40 + 2 * i) for i in range(50)]})
    a, b, c = (serve.request_mix(s, docs, 3) for s in (1, 1, 2))
    assert a == b and a != c
    assert sorted(r for r, _p, _a in a) == sorted(serve.ROUTES * 3)
    similar = [args[0] for r, _p, args in a if r == "similar_packages"]
    assert all(len(docs.loc[i, "text"]) >= 80 for i in similar)


def _values(trace: bool) -> dict:
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    return {n: 1.5 + i for i, n in enumerate(names)}


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_round_trips_every_metric(trace):
    vals = _values(trace)
    res = {"problems": [], "attempted": 3, "failed": 0,
           "layer" if trace else "e2e": vals}
    line = json.dumps(run.result_line(SPEC, res, trace))
    assert run.parse_result(line, SPEC, trace) == vals
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["correct"] is True


def test_result_parser_rejects_missing_or_mislabelled_metric():
    res = {"problems": [], "attempted": 1, "failed": 0, "e2e": _values(False)}
    obj = run.result_line(SPEC, res, False)
    name = next(iter(obj["metrics"]))
    wrong_unit = json.loads(json.dumps(obj))
    wrong_unit["metrics"][name]["unit"] = "furlong"
    missing = json.loads(json.dumps(obj))
    del missing["metrics"][name]
    for bad in (wrong_unit, missing):
        with pytest.raises(ValueError):
            run.parse_result(json.dumps(bad), SPEC, False)


def test_problems_make_the_result_incorrect():
    res = {"problems": ["q01: 3 rows != oracle 4"], "attempted": 1,
           "failed": 0, "e2e": _values(False)}
    assert run.result_line(SPEC, res, False)["correct"] is False


def test_spec_matches_the_contract():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert {w["name"] for w in SPEC["workloads"]} == {"crawl_revisit", "query_suite"}


def test_every_registry_query_has_a_stored_reference():
    import __spark_entry__ as E

    for name in E.queries():
        ref = checks.load_ref(name)
        assert checks.frame_problems(name, ref, ref) == []


def test_seeded_graph_size_stays_within_one_percent():
    sizes = {crawl.seeded_graph_size(20_000, s) for s in range(200)}
    assert len(sizes) > 50
    assert all(19_800 <= s <= 20_200 for s in sizes)


def test_cpu_clock_counts_work_not_waiting():
    clock = harness.CpuClock()
    time.sleep(0.3)
    waited, idle_cpu = clock.read()
    clock = harness.CpuClock()
    t = time.time()
    while time.time() - t < 0.3:
        pass
    _wall, busy_cpu = clock.read()
    assert waited >= 0.3 and idle_cpu < 0.1
    assert busy_cpu > 0.2
