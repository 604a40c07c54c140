"""Serving layer: the reference apiserver's routes
(``apiserver/main.py:271-477``) over warmed engine indexes — stdlib
HTTP server, probe-cost requests, parity with the batch queries."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def api(spark):
    from findopendata_spark.serving import ApiServer

    srv = ApiServer(spark, SF)
    srv.start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}{path}", timeout=120
    ) as r:
        return r.status, json.loads(r.read())


def _get_error(srv, path):
    """(status, body) of a request that answers an HTTP error."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(srv, path)
    return e.value.code, json.loads(e.value.read())


@pytest.fixture(scope="module")
def tri_root(spark, tmp_path_factory):
    """A catalog holding the crawl-maintained trigram tables of the
    documents' titles and descriptions, and no sketch tables (a crawl
    run without index_sketch)."""
    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.indexing import IncrementalIndexes

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    root = str(tmp_path_factory.mktemp("serve") / "tri_cat")
    idx = IncrementalIndexes(SnapshotCatalog(root))
    idx.trigram_append(spark, docs, "title")
    idx.trigram_append(spark, docs, "description")
    return root


@pytest.fixture(scope="module")
def full_root(spark, tri_root):
    """``tri_root``'s tables plus the column sketches and value sets of
    q16's dockey records."""
    import shutil

    from findopendata_spark.catalog import SnapshotCatalog
    from findopendata_spark.config import SketchConfig
    from findopendata_spark.indexing import IncrementalIndexes
    from findopendata_spark.sketch.lsh import dockey_records

    root = os.path.join(os.path.dirname(tri_root), "full_cat")
    shutil.copytree(tri_root, root)
    IncrementalIndexes(SnapshotCatalog(root)).sketch_append(
        spark, dockey_records(spark, SF), SketchConfig(), n_salts=4
    )
    return root


def test_original_hosts(api, spark):
    code, body = _get(api, "/api/original-hosts")
    want = {
        r["source"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("source").distinct().collect()
    }
    assert code == 200 and set(body["original_hosts"]) == want


def test_keyword_search_matches_batch_q29(api, spark):
    import __spark_entry__ as E

    code, body = _get(api, "/api/keyword-search?q=data+table+query+spark&limit=20")
    assert code == 200
    got = [(r["doc_id"], r["score"]) for r in body["results"]]
    want = [
        (r["doc_id"], r["score"])
        for r in E.queries()["q29_keyword_search"](spark, SF).collect()
    ]
    assert got == want and len(got) > 0


def test_keyword_search_title_and_empty_query(api):
    code, body = _get(api, "/api/keyword-search-title?q=data&limit=5")
    assert code == 200 and len(body["results"]) <= 5
    code, body = _get(api, "/api/keyword-search?q=")
    assert code == 200 and body["results"] == []


def test_similar_packages_matches_batch_q41(api, spark):
    import __spark_entry__ as E

    q_doc = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.length("text") >= 80)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    code, body = _get(api, f"/api/similar-packages?id={q_doc}&limit=10")
    assert code == 200
    got = [
        (r["doc_id"], r["title_similarity"], r["description_similarity"])
        for r in body["results"]
    ]
    want = [
        (r["doc_id"], r["title_similarity"], r["description_similarity"])
        for r in E.queries()["q41_similar_packages"](spark, SF).collect()
    ]
    assert got == want and len(got) == 10
    # unknown/short doc: empty result, not an error
    code, body = _get(api, "/api/similar-packages?id=999999999")
    assert code == 200 and body["results"] == []


def test_package_brief_and_404(api, spark):
    row = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .orderBy("doc_id").limit(1).collect()[0]
    )
    code, body = _get(api, f"/api/package/{row['doc_id']}")
    assert code == 200
    assert body["doc_id"] == row["doc_id"]
    assert body["source"] == row["source"]
    assert body["title"] == row["text"][:40]
    assert body["n_chars"] == len(row["text"])
    try:
        code, body = _get(api, "/api/package/999999999")
    except urllib.error.HTTPError as e:
        code, body = e.code, json.loads(e.read())
    assert code == 404 and "error" in body
    try:
        code, body = _get(api, "/api/no-such-route")
    except urllib.error.HTTPError as e:
        code, body = e.code, json.loads(e.read())
    assert code == 404


def test_joinable_column_search_matches_batch_q16(api, spark):
    import __spark_entry__ as E

    code, body = _get(
        api,
        "/api/joinable-column-search?file_id=q_probe&column_name=dockey"
        "&threshold=0.1&limit=10",
    )
    assert code == 200
    got = {
        (r["file_id"], r["column_name"], r["jaccard"], r["containment"])
        for r in body["results"]
    }
    want = {
        (r["file_id"], r["column_name"], r["jaccard"], r["containment"])
        for r in E.queries()["q16_joinable_column_search"](spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_concurrent_requests(api):
    """FAIR-scheduled session: concurrent probes all succeed."""
    import concurrent.futures as cf

    paths = [
        "/api/original-hosts",
        "/api/keyword-search?q=data&limit=5",
        "/api/keyword-search-title?q=table",
        "/api/original-hosts",
    ]
    with cf.ThreadPoolExecutor(4) as ex:
        codes = list(ex.map(lambda p: _get(api, p)[0], paths))
    assert codes == [200, 200, 200, 200]


def test_joinable_route_from_persisted_store(api, spark, full_root):
    """VERDICT r04 item 6: with a catalog supplied, warm() probes the
    PERSISTED column_sketches and column_values tables IncrementalIndexes
    maintains instead of the session-cached store — and the
    joinable-column route answers identically (the reference's LSH
    server boots from the sketch table the same way,
    lshserver/main.go:26-82)."""
    from findopendata_spark.serving import ApiServer

    srv = ApiServer(spark, SF, catalog_root=full_root)
    srv.warm()
    try:
        got = srv.joinable_column_search("q_probe", "dockey", 0.1, 10)
    finally:
        srv.stop()
    want = api.joinable_column_search("q_probe", "dockey", 0.1, 10)
    assert got == want and len(got) > 0


def test_similar_packages_route_from_persisted_trigram_store(
    api, spark, tri_root
):
    """VERDICT r05 item 8: with a catalog carrying the crawl-maintained
    trigram tables, warm() probes the PERSISTED postings/sizes
    (IncrementalIndexes latest-wave-wins read) instead of the
    session-built index — and the similar-packages route answers
    identically to the session-path server. The catalog holds no sketch
    tables, and warm() needs none for this route."""
    from findopendata_spark.serving import ApiServer

    q_doc = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.length("text") >= 80).agg(F.min("doc_id"))
        .collect()[0][0]
    )
    srv = ApiServer(spark, SF, catalog_root=tri_root)
    srv.warm()
    try:
        got = srv.similar_packages(q_doc, 10)
    finally:
        srv.stop()
    want = api.similar_packages(q_doc, 10)
    assert got == want and len(got) == 10


def test_sketchless_catalog_serves_five_routes_and_503s_joinable(
    spark, tri_root
):
    """A catalog whose crawl ran without index_sketch has no sketch
    tables: its server answers the five other routes, and the joinable
    route answers 503 naming the missing table."""
    from findopendata_spark.serving import ApiServer

    doc_id = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.length("text") >= 80).agg(F.min("doc_id"))
        .collect()[0][0]
    )
    srv = ApiServer(spark, SF, catalog_root=tri_root)
    srv.start()
    try:
        paths = [
            "/api/original-hosts",
            "/api/keyword-search?q=data&limit=5",
            "/api/keyword-search-title?q=data&limit=5",
            f"/api/similar-packages?id={doc_id}&limit=5",
            f"/api/package/{doc_id}",
        ]
        assert [_get(srv, p)[0] for p in paths] == [200] * 5
        code, body = _get_error(
            srv, "/api/joinable-column-search?file_id=q_probe&column_name=dockey"
        )
    finally:
        srv.stop()
    assert code == 503 and "column_sketches" in body["error"]


def test_stop_releases_what_warm_cached(spark, full_root):
    """warm() over a catalog caches the documents frame, the persisted
    trigram postings/sizes and the sketch store; stop() releases them,
    so the session's cached-plan count is the same after warm() and
    stop() as before."""
    from findopendata_spark.serving import ApiServer

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    srv = ApiServer(spark, SF, catalog_root=full_root)
    srv.warm()
    assert cache.cachedData().size() > before
    srv.stop()
    assert cache.cachedData().size() == before


def test_joinable_route_from_crawl_catalog(spark, tmp_path):
    """A crawl with index_sketch=True appends each column's value set
    next to its sketch, so a server over the crawl's catalog answers the
    joinable-column route: a probe file duplicating one host's URL
    column finds exactly that host, with Jaccard and containment 1."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler import crawl
    from findopendata_spark.crawler import graph as G
    from findopendata_spark.indexing import IncrementalIndexes
    from findopendata_spark.serving import ApiServer

    root = str(tmp_path / "crawl_cat")
    st = crawl(spark, root, waves=3,
               cfg=CrawlConfig(per_host_wave_budget=10, index_sketch=True),
               gcfg=G.GraphConfig(graph_size=500))
    docs = st.cat.read_appended(spark, "docs")
    host = (
        docs.groupBy("host").count().orderBy(F.desc("count"), "host")
        .first()["host"]
    )
    IncrementalIndexes(st.cat).sketch_append(spark, docs.filter(
        F.col("host") == host
    ).select(
        F.lit("q_probe").alias("file_id"),
        F.lit("url").alias("column_name"),
        F.col("doc_id").alias("ingest_key"),
        F.col("url_canon").alias("val"),
    ))
    srv = ApiServer(spark, SF, catalog_root=root)
    srv.start()
    try:
        code, body = _get(
            srv,
            "/api/joinable-column-search?file_id=q_probe&column_name=url"
            "&threshold=0.5&limit=5",
        )
    finally:
        srv.stop()
    assert code == 200
    assert [
        (r["file_id"], r["column_name"], r["jaccard"], r["containment"])
        for r in body["results"]
    ] == [(host, "url", 1.0, 1.0)]


def test_keyword_routes_release_their_cache(api, spark):
    """Each distinct keyword query caches its term counts for the
    request only: the session's cached-plan count is the same after
    the requests as before."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    for q in ("data", "open+data", "table+query", "spark+data+table"):
        assert _get(api, f"/api/keyword-search?q={q}&limit=5")[0] == 200
        assert _get(api, f"/api/keyword-search-title?q={q}")[0] == 200
    assert cache.cachedData().size() == before


def test_malformed_parameters_answer_400(api):
    """A parameter that does not parse, or a negative limit, answers 400
    naming the parameter."""
    cases = [
        ("/api/keyword-search?q=data&limit=ten", "limit"),
        ("/api/keyword-search-title?q=data&limit=-1", "limit"),
        ("/api/similar-packages?id=abc", "id"),
        ("/api/package/abc", "id"),
        ("/api/joinable-column-search?file_id=q_probe&column_name=dockey"
         "&threshold=high", "threshold"),
    ]
    for path, name in cases:
        code, body = _get_error(api, path)
        assert code == 400, path
        assert name in body["error"], path
