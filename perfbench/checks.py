"""Output checks. Each returns a list of problems (empty = correct), so the
benchmark can report every failed check and the tests can perturb inputs.
"""

from __future__ import annotations

import os

import pandas as pd

from scripts.driver_sim import TABLES, norm

HERE = os.path.dirname(os.path.abspath(__file__))
# the engine's sf 0.01 test tables, and each query's oracle result on them
SF_DIR = os.path.join(HERE, "data", "sf0.01")
REF_DIR = os.path.join(HERE, "data", "ref")


def lineage_problems(w: dict, budget: int, n_hosts: int) -> list[str]:
    """Conservation of one wave's lineage sums."""
    out = []
    if w["urls_candidates"] != w["urls_deduped"] + w["urls_enqueued"]:
        out.append(f"wave {w['wave']}: candidates != deduped + enqueued")
    if w["urls_fetched"] > budget * n_hosts:
        out.append(f"wave {w['wave']}: fetched {w['urls_fetched']} > "
                   f"budget {budget} x {n_hosts} hosts")
    if w["urls_fetched"] > w["urls_eligible"]:
        out.append(f"wave {w['wave']}: fetched more than eligible")
    if min(w["urls_fetched"], w["urls_candidates"]) <= 0:
        out.append(f"wave {w['wave']}: fetched or discovered nothing")
    return out


def unique_problems(n_rows: int, n_distinct: int, what: str) -> list[str]:
    return [] if n_rows == n_distinct else [
        f"{what}: {n_rows - n_distinct} duplicate rows"]


def same_fingerprints(fps: list) -> list[str]:
    """Every repeat (or core level) of one wave must produce the same seen
    set and the same fetched set."""
    fps = [tuple(map(tuple, fp)) for fp in fps]
    return [] if len(set(fps)) <= 1 else [
        f"crawl outputs differ between repeats: {sorted(set(fps))}"]


def frame_problems(name: str, got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    """Engine result vs the stored oracle result, compared the way
    ``scripts/driver_sim.py`` compares them."""
    s, o = norm(got), norm(ref)
    if len(s) != len(o) or list(s.columns) != list(o.columns):
        return [f"{name}: {len(s)} rows {list(s.columns)} != oracle "
                f"{len(o)} rows {list(o.columns)}"]
    try:
        pd.testing.assert_frame_equal(
            s, o, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return [f"{name}: differs from its oracle: {e}"[:300]]
    return []


def load_ref(name: str) -> pd.DataFrame:
    """The stored oracle result of one registry query (``make_refs.py``)."""
    return pd.read_parquet(os.path.join(REF_DIR, f"{name}.parquet"))
