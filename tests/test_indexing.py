"""Incremental index maintenance (VERDICT r03 item 4): append new docs →
delta-update postings / IVF assignments / column sketches through the
snapshot catalog, and the probed result equals a full rebuild.
Reference analog: per-wave upserts, ``indexing.py:119-168``."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from findopendata_spark.catalog import SnapshotCatalog
from findopendata_spark.config import SketchConfig
from findopendata_spark.indexing import IncrementalIndexes

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_trigram_incremental_equals_rebuild(spark, docs, tmp_path):
    """Build postings on the first half of the corpus, append the second
    half as a new wave; the probed top-k equals the session-cache index
    built over the whole corpus in one shot."""
    from findopendata_spark.sketch.trigram_index import (
        _field_grams,
        trigram_topk,
    )

    idx = IncrementalIndexes(SnapshotCatalog(str(tmp_path / "cat")))
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    w1 = idx.trigram_append(spark, docs.filter(F.col("doc_id") <= half))
    w2 = idx.trigram_append(spark, docs.filter(F.col("doc_id") > half))
    assert (w1, w2) == (0, 1)

    full_grams = _field_grams(docs, "text")
    full = {
        "postings": full_grams.select("doc_id", F.explode("g").alias("gram")),
        "sizes": full_grams.select("doc_id", F.size("g").alias("n_grams")),
    }
    qrow = full_grams.orderBy("doc_id").limit(1).collect()[0]
    q_id, q_g = qrow["doc_id"], list(qrow["g"])

    inc = idx.trigram_index(spark, "text")
    got = {
        (r["doc_id"], r["jaccard"])
        for r in trigram_topk(inc, q_id, q_g, k=10, round_digits=6).collect()
    }
    want = {
        (r["doc_id"], r["jaccard"])
        for r in trigram_topk(full, q_id, q_g, k=10, round_digits=6).collect()
    }
    assert got == want and len(got) == 10
    # and the raw index contents agree (postings as a set, sizes exactly)
    assert (
        inc["postings"].join(full["postings"], ["doc_id", "gram"], "left_anti")
        .count() == 0
    )
    assert inc["postings"].count() == full["postings"].count()
    assert inc["sizes"].count() == full["sizes"].count()


def test_ivf_incremental_assignments_equal_rebuild(spark, tmp_path):
    """Quantizer trained on the build corpus, frozen; appended vectors'
    assignments equal assigning the full corpus against the same
    centroids, and the persisted-index probe equals the in-memory one."""
    from findopendata_spark.embedding import assign_cells, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    half = emb.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0]
    base, delta = emb.filter(F.col("vec_id") <= half), emb.filter(
        F.col("vec_id") > half
    )
    idx = IncrementalIndexes(SnapshotCatalog(str(tmp_path / "cat")))
    idx.ivf_build(spark, base, n_cells=8, n_iter=2)
    idx.ivf_append(spark, delta)

    persisted = idx.ivf_index(spark)
    cents = persisted["centroids"]
    want = assign_cells(emb, cents)
    got = persisted["assigned"]
    assert got.count() == emb.count() == want.count()
    assert (
        got.select("vec_id", "_cell")
        .exceptAll(want.select("vec_id", "_cell"))
        .count() == 0
    )
    # probe parity through the persisted index
    query = emb.orderBy("vec_id").limit(1)
    a = ivf_topk(emb, query, k=5, n_probe=2, centroids=cents,
                 assigned=persisted["assigned"]).collect()
    b = ivf_topk(emb, query, k=5, n_probe=2, centroids=cents,
                 assigned=want).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in a] == [
        (r["vec_id"], r["cos_sim"]) for r in b
    ]


def test_sketch_incremental_merge_equals_rebuild(spark, docs, tmp_path):
    """Per-wave sketch rows merged per (file_id, column_name) equal the
    one-shot sketch of the concatenated records: every integer, sample,
    minhash and HLL field bit-identical; word_vector_data to float
    associativity."""
    from findopendata_spark.sketch.column_sketch import sketch_columns

    cfg = SketchConfig(enable_word_vector_data=True, column_sample_size=10)
    rec = docs.selectExpr(
        "doc_id as ingest_key",
        "stack(3, 'lang', lang, 'mod7', cast(doc_id % 7 as string), "
        "'words', substring(text, 1, 30)) as (column_name, val)",
    ).withColumn("file_id", F.lit("documents"))
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]

    idx = IncrementalIndexes(SnapshotCatalog(str(tmp_path / "cat")))
    # wave order must match ingest arrival order (lower keys first)
    idx.sketch_append(spark, rec.filter(F.col("ingest_key") <= half), cfg)
    idx.sketch_append(spark, rec.filter(F.col("ingest_key") > half), cfg)

    merged = {r["column_name"]: r for r in idx.sketch_read(spark, cfg).collect()}
    full = {
        r["column_name"]: r
        for r in sketch_columns(rec, cfg, n_salts=4).collect()
    }
    assert set(merged) == set(full) == {"lang", "mod7", "words"}
    exact_fields = [
        "file_id", "count", "empty_count", "out_of_vocabulary_count",
        "numeric_count", "is_numeric", "distinct_count", "sample",
        "minhash", "seed", "hyperloglog", "word_vector_column_name",
    ]
    for col, m in merged.items():
        f = full[col]
        for fld in exact_fields:
            assert m[fld] == f[fld], (col, fld, m[fld], f[fld])
        if f["word_vector_data"] is None:
            assert m["word_vector_data"] is None, col
        else:
            assert np.allclose(
                m["word_vector_data"], f["word_vector_data"], rtol=1e-9
            ), col


def test_crawl_wave_index_maintenance(spark, tmp_path):
    """cfg.index_fields/index_ivf/index_sketch wire per-wave maintenance
    of ALL THREE index families INTO the crawl's atomic commit (VERDICT
    r04 item 5 — the reference's one-harvest-upserts-all-tables shape):
    after a 3-wave crawl, postings == batch build, IVF assignments ==
    assigning the full corpus against the same frozen centroids, and the
    merged column sketch == a one-shot sketch over all doc records."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler import crawl
    from findopendata_spark.crawler import graph as G
    from findopendata_spark.sketch.trigram_index import (
        _field_grams,
        trigram_topk,
    )

    cfg = CrawlConfig(
        per_host_wave_budget=10, index_fields=("text",),
        index_ivf=True, index_sketch=True,
    )
    d = str(tmp_path / "crawl_idx")
    st = crawl(spark, d, waves=3, cfg=cfg, gcfg=G.GraphConfig(graph_size=500))

    docs = st.cat.read_appended(spark, "docs")
    flat = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )
    grams = _field_grams(flat, "text")
    batch = {
        "postings": grams.select("doc_id", F.explode("g").alias("gram")),
        "sizes": grams.select("doc_id", F.size("g").alias("n_grams")),
    }
    inc = IncrementalIndexes(st.cat).trigram_index(spark, "text")
    assert inc["postings"].count() == batch["postings"].count() > 0
    assert (
        inc["postings"].join(batch["postings"], ["doc_id", "gram"], "left_anti")
        .count() == 0
    )
    assert inc["sizes"].count() == batch["sizes"].count()

    qrow = grams.orderBy("doc_id").limit(1).collect()[0]
    got = {
        (r["doc_id"], r["jaccard"])
        for r in trigram_topk(
            inc, qrow["doc_id"], list(qrow["g"]), k=5, round_digits=6
        ).collect()
    }
    want = {
        (r["doc_id"], r["jaccard"])
        for r in trigram_topk(
            batch, qrow["doc_id"], list(qrow["g"]), k=5, round_digits=6
        ).collect()
    }
    assert got == want and len(got) == 5

    idx = IncrementalIndexes(st.cat)

    # IVF: centroids trained on the first wave then frozen; per-wave
    # assignments (>= 2 distinct waves prove per-wave, not one-shot)
    # equal assigning the full corpus against the same centroids
    from findopendata_spark.embedding import (
        assign_cells,
        hashing_embedding_expr,
    )

    assert (
        st.cat.read_appended(spark, "ivf_assignments")
        .select("wave").distinct().count() >= 2
    )
    ivf = idx.ivf_index(spark)
    vecs = flat.select(
        F.col("doc_id").alias("vec_id"),
        hashing_embedding_expr(F.col("text"), 16).alias("v"),
    ).filter(F.aggregate("v", F.lit(0.0), lambda s, x: s + x * x) > 0)
    got_a = {
        (r["vec_id"], r["_cell"])
        for r in ivf["assigned"].select("vec_id", "_cell").collect()
    }
    want_a = {
        (r["vec_id"], r["_cell"])
        for r in assign_cells(vecs, ivf["centroids"])
        .select("vec_id", "_cell").collect()
    }
    assert got_a == want_a and len(got_a) > 0

    # column sketches: merged per-wave rows == one-shot sketch over all
    # doc records (>= 2 waves of rows prove per-wave maintenance)
    from findopendata_spark.sketch.column_sketch import sketch_columns

    assert (
        st.cat.read_appended(spark, "column_sketches")
        .select("wave").distinct().count() >= 2
    )
    # arrival order in a crawl catalog is (wave asc, doc_id asc) — the
    # one-shot rebuild must replay records in that order for the
    # first-N-distinct sample to match (the incremental contract,
    # indexing.py module docstring)
    rec = docs.select(
        F.col("host").alias("file_id"),
        F.lit("url").alias("column_name"),
        F.format_string("%06d/%s", "wave", "doc_id").alias("ingest_key"),
        F.col("url_canon").alias("val"),
    )
    merged = sorted(
        (r.asDict() for r in idx.sketch_read(spark).collect()),
        key=lambda r: (r["file_id"], r["column_name"]),
    )
    rebuilt = sorted(
        (r.asDict() for r in sketch_columns(rec, SketchConfig(), n_salts=8)
         .collect()),
        key=lambda r: (r["file_id"], r["column_name"]),
    )
    assert merged == rebuilt and len(merged) > 0


def test_sketch_incremental_resume_from_disk(spark, docs, tmp_path):
    """A new IncrementalIndexes over the same catalog root (fresh
    process analog) serves the identical merged sketch — index state is
    table state, not session state."""
    cfg = SketchConfig(column_sample_size=5)
    rec = docs.selectExpr(
        "doc_id as ingest_key", "'lang' as column_name", "lang as val"
    ).withColumn("file_id", F.lit("documents"))
    root = str(tmp_path / "cat")
    idx = IncrementalIndexes(SnapshotCatalog(root))
    idx.sketch_append(spark, rec, cfg)
    a = idx.sketch_read(spark, cfg).collect()
    b = IncrementalIndexes(SnapshotCatalog(root)).sketch_read(spark, cfg).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_recrawl_reindex_probe_equals_rebuild(spark, tmp_path):
    """VERDICT r04 'what's wrong' #1: a recrawl re-fetches URLs whose
    doc_ids are already indexed, and the crawl's in-commit maintenance
    re-appends their postings/sizes under the new wave. The raw append
    dirs then really do hold duplicates (asserted — the premise of the
    bug), but the probe-ready index resolves them latest-wave-wins, so
    a probe equals a fresh batch rebuild over each doc's newest content
    (reference upsert semantics, reference indexing.py:119-168)."""
    from findopendata_spark.config import CrawlConfig
    from findopendata_spark.crawler import crawl
    from findopendata_spark.crawler import graph as G
    from findopendata_spark.crawler.wave import recrawl_stale, run_wave
    from findopendata_spark.sketch.trigram_index import (
        _field_grams,
        trigram_topk,
    )

    cfg = CrawlConfig(per_host_wave_budget=10, index_fields=("text",))
    d = str(tmp_path / "crawl_recrawl_idx")
    st = crawl(spark, d, waves=2, cfg=cfg, gcfg=G.GraphConfig(graph_size=500))
    recrawl_stale(spark, st, max_age_waves=1)
    run_wave(spark, st, st.cat.current_wave() + 1)

    # raw storage now holds >=1 doc_id spanning multiple waves
    sizes_all = st.cat.read_appended(spark, "trigram_sizes_text")
    n_dup_docs = (
        sizes_all.groupBy("doc_id").count().filter("count > 1").count()
    )
    assert n_dup_docs > 0, "recrawl produced no re-indexed doc — test inert"

    # fresh rebuild over each doc's newest content (content is
    # deterministic per URL, so any surviving row per doc_id is newest)
    docs = st.cat.read_appended(spark, "docs").dropDuplicates(["doc_id"])
    flat = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )
    grams = _field_grams(flat, "text")
    batch = {
        "postings": grams.select("doc_id", F.explode("g").alias("gram")),
        "sizes": grams.select("doc_id", F.size("g").alias("n_grams")),
    }

    inc = IncrementalIndexes(st.cat).trigram_index(spark, "text")
    # exactly one surviving sizes row per doc, and the posting multiset
    # matches the rebuild exactly (no inflated inter/n_grams possible)
    assert inc["sizes"].groupBy("doc_id").count().filter("count > 1").count() == 0
    assert inc["sizes"].count() == batch["sizes"].count()
    assert inc["postings"].count() == batch["postings"].count()
    assert (
        inc["postings"].join(batch["postings"], ["doc_id", "gram"], "left_anti")
        .count() == 0
    )

    qrow = grams.orderBy("doc_id").limit(1).collect()[0]
    got = {
        (r["doc_id"], r["jaccard"])
        for r in trigram_topk(
            inc, qrow["doc_id"], list(qrow["g"]), k=5, round_digits=6
        ).collect()
    }
    want = {
        (r["doc_id"], r["jaccard"])
        for r in trigram_topk(
            batch, qrow["doc_id"], list(qrow["g"]), k=5, round_digits=6
        ).collect()
    }
    assert got == want and len(got) == 5


def test_trigram_upsert_shrink_to_empty(spark, tmp_path):
    """ADVICE r05: a recrawled doc whose new content falls below the
    field's length threshold must still retire its OLD postings. The
    total-grams append writes an n_grams=0 sizes tombstone under the new
    wave; latest-wave-wins then serves the doc as empty instead of the
    stale wave-1 content."""
    root = str(tmp_path / "cat")
    idx = IncrementalIndexes(SnapshotCatalog(root))
    docs1 = spark.createDataFrame(
        [("d1", "hello world"), ("d2", "spark engine")],
        "doc_id string, text string",
    )
    idx.trigram_append(spark, docs1, "text")
    # recrawl: d1 shrank below the >=3-char text threshold
    docs2 = spark.createDataFrame([("d1", "x")], "doc_id string, text string")
    idx.trigram_append(spark, docs2, "text")

    inc = idx.trigram_index(spark, "text")
    assert inc["postings"].filter("doc_id = 'd1'").count() == 0
    # the tombstone stays in the table (it is what retires d1's wave-0
    # postings) but is no index entry: a rebuild has no row for d1
    raw = {
        (r["doc_id"], r["wave"]): r["n_grams"]
        for r in idx.cat.read_appended(spark, "trigram_sizes_text").collect()
    }
    assert raw[("d1", 1)] == 0 and raw[("d1", 0)] > 0
    sizes = {r["doc_id"]: r["n_grams"] for r in inc["sizes"].collect()}
    assert "d1" not in sizes and sizes["d2"] > 0
    # exactly one surviving sizes row per doc (upsert, not append)
    assert (
        inc["sizes"].groupBy("doc_id").count().filter("count > 1").count()
        == 0
    )


def test_trigram_upsert_multi_recrawl_and_compaction(spark, tmp_path):
    """VERDICT r05 item 7 (full parametrization): the same doc recrawled
    across SEVERAL waves keeps serving only its newest content, the
    latest-wave-wins broadcast dim stays delta-sized (only genuinely
    multi-wave doc_ids), and a compaction (append_base cutover) plus a
    FURTHER recrawl on top of the compacted base preserve the upsert
    semantics — reference ``ON CONFLICT ... DO UPDATE`` repeated."""
    from pyspark.sql import functions as F

    from findopendata_spark.sketch.trigram_index import _field_grams

    root = str(tmp_path / "cat")
    idx = IncrementalIndexes(SnapshotCatalog(root))

    def docs_df(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    def rebuild_counts(latest):
        grams = _field_grams(docs_df(latest), "text")
        return {
            "post": grams.select(F.explode("g")).count(),
            "sizes": {r["doc_id"]: r["n"] for r in grams.select(
                "doc_id", F.size("g").alias("n")).collect()},
        }

    def probe_counts():
        inc = idx.trigram_index(spark, "text")
        return {
            "post": inc["postings"].count(),
            "sizes": {r["doc_id"]: r["n_grams"] for r in
                      inc["sizes"].collect()},
        }

    # wave 0: three docs; waves 1-2: d1 recrawled twice (changing text)
    idx.trigram_append(spark, docs_df(
        [("d1", "alpha beta gamma"), ("d2", "delta epsilon"),
         ("d3", "stable text")]), "text")
    idx.trigram_append(spark, docs_df([("d1", "zeta eta theta")]), "text")
    idx.trigram_append(spark, docs_df([("d1", "iota kappa")]), "text")

    latest = [("d1", "iota kappa"), ("d2", "delta epsilon"),
              ("d3", "stable text")]
    assert probe_counts() == rebuild_counts(latest)

    # delta-sized dim: only d1 spans multiple waves
    sizes_all = idx.cat.read_appended(spark, "trigram_sizes_text")
    multi = (sizes_all.groupBy("doc_id").count().filter("count > 1")
             .select("doc_id").collect())
    assert {r["doc_id"] for r in multi} == {"d1"}

    # compaction: rewrite the merged latest state as ONE new wave and
    # raise append_base so the old dirs become invisible
    inc = idx.trigram_index(spark, "text")
    cw = idx.cat.current_wave() + 1
    idx.cat.stage_append(inc["postings"], "trigram_postings_text", cw)
    idx.cat.stage_append(inc["sizes"], "trigram_sizes_text", cw)
    idx.cat.commit_wave(cw, {}, append_base={
        "trigram_postings_text": cw, "trigram_sizes_text": cw})

    # post-compaction: single wave per doc, identical probe
    sizes_all = idx.cat.read_appended(spark, "trigram_sizes_text")
    assert sizes_all.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert probe_counts() == rebuild_counts(latest)

    # a further recrawl ON TOP of the compacted base still upserts
    idx.trigram_append(spark, docs_df([("d1", "lambda mu nu xi")]), "text")
    latest2 = [("d1", "lambda mu nu xi"), ("d2", "delta epsilon"),
               ("d3", "stable text")]
    assert probe_counts() == rebuild_counts(latest2)


def test_trigram_incremental_title_fillers_equal_rebuild(spark, docs, tmp_path):
    """ADVICE r06: docs below the title field's length threshold append
    n_grams=0 sizes rows. A probe with fewer than k matches pads with
    jaccard-0 fillers from ``sizes``; those rows must not surface there,
    because a rebuild has no entry for such docs. Incremental == rebuild,
    fillers included."""
    from findopendata_spark.sketch.trigram_index import (
        _field_grams,
        trigram_topk,
    )

    idx = IncrementalIndexes(SnapshotCatalog(str(tmp_path / "cat")))
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    idx.trigram_append(spark, docs.filter(F.col("doc_id") <= half), "title")
    idx.trigram_append(spark, docs.filter(F.col("doc_id") > half), "title")
    n_short = docs.filter(F.length("text") < 80).count()
    assert n_short > 0, "fixture has no below-threshold doc — test inert"

    grams = _field_grams(docs, "title")
    full = {
        "postings": grams.select("doc_id", F.explode("g").alias("gram")),
        "sizes": grams.select("doc_id", F.size("g").alias("n_grams")),
    }
    qrow = grams.orderBy("doc_id").limit(1).collect()[0]
    q_id, q_g = qrow["doc_id"], list(qrow["g"])
    k = docs.count()  # more than can match: the tail is all fillers

    inc = idx.trigram_index(spark, "title")
    assert inc["sizes"].count() == full["sizes"].count()

    def ranked(index):
        return [
            (r["doc_id"], r["jaccard"])
            for r in trigram_topk(index, q_id, q_g, k=k, round_digits=6)
            .orderBy(F.desc("jaccard"), F.asc("doc_id")).collect()
        ]

    want = ranked(full)
    assert 0 < sum(j > 0 for _, j in want) < len(want) < k
    assert ranked(inc) == want
