"""The serving layer, measured inside ``query_suite``'s traced run.

``ApiServer`` is started over the run's tables after the query
passes (so ``warm()`` reuses the trigram indexes and the sketch store the
queries already cached), then a closed loop of ``cores`` client threads
sends a seeded mix of all six routes: terms from the corpus vocabulary,
doc ids with text of at least 80 characters, sketch columns of the store.
Each route's kernel method is also timed directly, without HTTP. A
request that times out or answers other than 200 counts as failed; the
keyword-search and similar-packages bodies must equal the batch q29 and
q41 results.
"""

from __future__ import annotations

import json
import os
import random
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote_plus

import pandas as pd

from perfbench.harness import median

ROUTES = ("original_hosts", "keyword_search", "keyword_search_title",
          "similar_packages", "package", "joinable_column_search")
# small, because the traced run that measures serving must end within
# 180 s on a slow host
REQUESTS_PER_ROUTE = 2
KERNEL_CALLS = 1
TIMEOUT_S = 60
# batch queries whose results the routes must reproduce
PARITY = ("q29_keyword_search", "q41_similar_packages")
Q29_PATH = "/api/keyword-search?q=data+table+query+spark&limit=20"


def request_mix(seed: int, docs: pd.DataFrame, per_route: int) -> list:
    """Seeded (route, path, kernel-args) triples, ``per_route`` of each
    route, in a seeded order."""
    rng = random.Random(seed)
    vocab = sorted(set(" ".join(docs["text"]).split()))
    long_ids = sorted(docs.loc[docs["text"].str.len() >= 80, "doc_id"].tolist())
    all_ids = sorted(docs["doc_id"].tolist())
    file_ids = sorted(set(docs["source"])) + ["q_probe"]

    def one(route):
        if route == "original_hosts":
            return "/api/original-hosts", ()
        if route in ("keyword_search", "keyword_search_title"):
            q = " ".join(rng.sample(vocab, rng.randint(1, 3)))
            limit = 20 if route == "keyword_search" else 10
            path = "/api/" + route.replace("_", "-")
            return f"{path}?q={quote_plus(q)}&limit={limit}", (q, limit)
        if route == "similar_packages":
            i = rng.choice(long_ids)
            return f"/api/similar-packages?id={i}&limit=10", (i, 10)
        if route == "package":
            i = rng.choice(all_ids)
            return f"/api/package/{i}", (i,)
        fid = rng.choice(file_ids)
        return (f"/api/joinable-column-search?file_id={fid}&column_name=dockey"
                "&threshold=0.1&limit=10", (fid, "dockey", 0.1, 10))

    mix = [(r, *one(r)) for r in ROUTES for _ in range(per_route)]
    rng.shuffle(mix)
    return mix


def _get(port: int, path: str) -> tuple[int | None, object]:
    """(HTTP status, JSON body); the status is None when the request was
    refused, reset or timed out."""
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}",
                                    timeout=TIMEOUT_S) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None
    except OSError:
        return None, None


def parity_problems(q29_body, q29: pd.DataFrame, q41_body,
                    q41: pd.DataFrame) -> list[str]:
    """Route bodies vs the batch results, row for row and in order."""
    out = []
    got = [(r["doc_id"], r["score"]) for r in q29_body["results"]]
    if got != list(zip(q29["doc_id"].tolist(), q29["score"].tolist())):
        out.append("serve: keyword-search body differs from q29")
    cols = ["doc_id", "title_similarity", "description_similarity"]
    got = [tuple(r[c] for c in cols) for r in q41_body["results"]]
    if got != list(q41[cols].itertuples(index=False, name=None)):
        out.append("serve: similar-packages body differs from q41")
    return out


def run(spark, sf_dir: str, seed: int, clients: int, tracer,
        batch: dict[str, pd.DataFrame]) -> dict:
    from findopendata_spark.serving import ApiServer

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                           columns=["doc_id", "text", "source"])
    srv = ApiServer(spark, sf_dir)
    kernels = {"original_hosts": srv.original_hosts,
               "keyword_search": srv.keyword_search,
               "keyword_search_title": srv.keyword_search_title,
               "similar_packages": srv.similar_packages,
               "package": srv.package_brief,
               "joinable_column_search": srv.joinable_column_search}
    mix = request_mix(seed, docs, REQUESTS_PER_ROUTE)
    port = srv.start()
    try:
        def send(req):
            route, path, _args = req
            with tracer.span(f"serve.{route}.request"):
                t = time.time()
                code, _body = _get(port, path)
                return route, time.time() - t, code == 200

        with ThreadPoolExecutor(max_workers=clients) as pool:
            done = list(pool.map(send, mix))

        kernel_s: dict[str, list[float]] = {r: [] for r in ROUTES}
        calls = {r: 0 for r in ROUTES}
        kernel_failed = 0
        for route, _path, args in mix:
            if calls[route] == KERNEL_CALLS:
                continue
            calls[route] += 1
            with tracer.span(f"serve.{route}.kernel"):
                t = time.time()
                try:
                    kernels[route](*args)
                except Exception:  # noqa: BLE001 - counted like a 500
                    kernel_failed += 1
                    continue
                kernel_s[route].append(time.time() - t)

        q_doc = int(docs.loc[docs["text"].str.len() >= 80, "doc_id"].min())
        (c29, b29), (c41, b41) = (
            _get(port, Q29_PATH),
            _get(port, f"/api/similar-packages?id={q_doc}&limit=10"))
    finally:
        srv.stop()

    failed = kernel_failed + sum(1 for _r, _dt, ok in done if not ok)
    problems = []
    if c29 != 200 or c41 != 200:
        failed += (c29 != 200) + (c41 != 200)
        problems.append(f"serve: parity requests answered {c29}, {c41}")
    elif all(n in batch for n in PARITY):  # a failed query is already counted
        problems += parity_problems(b29, batch[PARITY[0]], b41, batch[PARITY[1]])
    layer = {}
    for route in ROUTES:
        lat = [dt for r, dt, ok in done if r == route and ok]
        layer[f"serve.{route}.p50_ms"] = median(lat) * 1e3 if lat else 0.0
        ks = kernel_s[route]
        layer[f"serve.{route}.kernel_ms"] = median(ks) * 1e3 if ks else 0.0
    return {"attempted": len(mix) + KERNEL_CALLS * len(ROUTES) + 2,
            "failed": failed, "problems": problems, "layer": layer}
