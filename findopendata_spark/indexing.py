"""Incremental index maintenance — per-wave delta updates for the three
persisted index families.

The reference maintains its indexes by per-wave upserts as harvests land
(reference ``indexing.py:59-192``: one harvest run sketches the
new/changed files and upserts every index table). This module is the
engine's one copy of that rule, on the same
:class:`findopendata_spark.catalog.SnapshotCatalog` the crawler commits
through: every append is part of an atomic wave commit, so index state
resumes exactly like crawl state.

One delta builder per family turns a batch of docs into
``(table, DataFrame)`` appends plus any snapshot to stage. The crawl
wave stages them inside its own commit (:func:`crawl_deltas`), and
:class:`IncrementalIndexes` stages the same appends as a wave of their
own. Reads resolve every family latest-wave-wins per key
(:func:`_latest`), so a re-indexed doc's newest rows replace its old
ones — the reference's ``ON CONFLICT ... DO UPDATE``, merged on read.

- **trigram postings** (pg_trgm GIN analog, :func:`trigram_delta`):
  each doc appends its ``(gram, doc_id)`` postings and one
  ``(doc_id, n_grams)`` sizes row — O(delta) work, no rewrite. A doc
  below the field's length threshold appends ``n_grams = 0``, a
  tombstone that retires its older postings.
- **IVF assignments** (:func:`ivf_delta`): the first append trains the
  coarse quantizer on its vectors and freezes it (FAISS ``train`` then
  ``add``); later vectors are assigned to the frozen centroids against
  a broadcast centroid table — O(delta). A quantizer re-train is a
  rebuild by definition. A zero vector has no cosine direction and
  appends a tombstone (``cell`` null) instead of an assignment, so a
  doc re-indexed to a zero vector leaves no stale cell behind.
- **column sketches** (:func:`sketch_delta`): each wave appends the new
  records' sketch rows WITH mergeable state (counters, MinHash, HLL
  registers, first-N distinct sample, raw word-vector sum/count) and
  each column's distinct normalized values (``column_values``, the sets
  exact joinable-column search verifies against, read as their distinct
  union); the served sketch is
  :func:`findopendata_spark.sketch.column_sketch.merge_sketch_rows`
  over the per-wave rows — the reference's ``ColumnSketch.update``
  fold, replayed associatively through the same merge, sample and
  derived-field functions ``sketch_columns`` runs. The merged row is
  therefore BIT-IDENTICAL to a full rebuild for every
  integer/sample/sketch field (pinned by pytest); ``word_vector_data``
  alone matches to float-addition associativity (~1e-12 relative).
  Merged counters cannot subtract, so sketches are the one family
  without upserts: the crawl sketches only never-sketched docs.

Arrival-order note: the sketch sample's "first N distinct in arrival
order" extends across waves as (wave asc, ingest_key asc) — appends are
arrivals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from findopendata_spark.catalog import SnapshotCatalog
from findopendata_spark.config import CrawlConfig, SketchConfig

# hashing-trick embedding width of a crawled doc's text, and the IVF
# coarse quantizer's cell count
IVF_DIM = 16
IVF_CELLS = 8

# (table, DataFrame) appends, {table: DataFrame} snapshots to stage
Delta = tuple[list[tuple[str, DataFrame]], dict[str, DataFrame]]


def doc_text(docs: DataFrame) -> DataFrame:
    """(doc_id, text) of crawled docs: the text spans joined in offset
    order (spans arrive offset-sorted from the fetch UDF)."""
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )


def trigram_delta(docs: DataFrame, field: str) -> Delta:
    """Postings and sizes of (doc_id, text) docs for one field. TOTAL
    over doc_ids: a doc below the field threshold appends an n_grams=0
    sizes tombstone, so a shrink-to-empty retires its old postings."""
    from findopendata_spark.sketch.trigram_index import _field_grams_total

    grams = _field_grams_total(docs, field)
    return [
        (f"trigram_postings_{field}",
         grams.select("doc_id", F.explode("g").alias("gram"))),
        (f"trigram_sizes_{field}",
         grams.select("doc_id", F.size("g").alias("n_grams"))),
    ], {}


def ivf_delta(spark: SparkSession, cat: SnapshotCatalog, vecs: DataFrame) -> Delta:
    """Cell assignments of (vec_id, v) vectors against the catalog's
    frozen centroids; when it has none, these vectors train them and the
    centroids are returned as a snapshot to stage. Zero vectors append a
    tombstone (``cell`` null) that retires the id's older cell."""
    from findopendata_spark.embedding import assign_cells, train_ivf_centroids

    nonzero = F.aggregate("v", F.lit(0.0), lambda s, x: s + x * x) > 0
    vecs = vecs.select("vec_id", "v")
    live = vecs.filter(nonzero)
    snaps = {}
    cents = cat.read(spark, "ivf_centroids")
    if cents is None:
        cents = train_ivf_centroids(
            live, n_cells=IVF_CELLS, n_iter=2
        ).localCheckpoint()
        snaps["ivf_centroids"] = cents
    rows = (
        assign_cells(live, cents)
        .withColumnRenamed("_cell", "cell")
        .unionByName(vecs.filter(~nonzero), allowMissingColumns=True)
    )
    return [("ivf_assignments", rows)], snaps


def sketch_delta(records: DataFrame, cfg: SketchConfig, n_salts: int) -> Delta:
    """Mergeable sketch rows and distinct value sets of (file_id,
    column_name, ingest_key, val) records. Nothing is cached, so a wave
    leaves the session cache as it found it (the sketch plan reuses its
    exchanges across its three reads of the records)."""
    from findopendata_spark.sketch import column_sketch as cs

    rows = cs.sketch_rows(cs.normalized(records), cfg, n_salts, keep_merge_state=True)
    return [("column_sketches", rows), ("column_values", cs.column_values(records))], {}


def crawl_deltas(
    spark: SparkSession, cat: SnapshotCatalog, cfg: CrawlConfig,
    docs: DataFrame, wave: int,
) -> Delta:
    """Every index delta a crawl wave's docs owe, for the families
    ``cfg`` turns on. IVF embeds each doc's text (IVF_DIM wide); the
    sketch records are (host, 'url', doc_id, url_canon) of docs no
    earlier wave fetched — merged counters cannot subtract, so a changed
    doc's sketch refresh is a compaction."""
    text = doc_text(docs)
    deltas = [trigram_delta(text, field) for field in cfg.index_fields]
    if cfg.index_ivf:
        from findopendata_spark.embedding import hashing_embedding_expr

        deltas.append(ivf_delta(spark, cat, text.select(
            F.col("doc_id").alias("vec_id"),
            hashing_embedding_expr(F.col("text"), IVF_DIM).alias("v"),
        )))
    if cfg.index_sketch:
        rec = docs.select(
            F.col("host").alias("file_id"),
            F.lit("url").alias("column_name"),
            F.col("doc_id").alias("ingest_key"),
            F.col("url_canon").alias("val"),
        )
        prev = cat.read_appended(spark, "docs", upto=wave - 1) if wave > 0 else None
        if prev is not None:
            rec = rec.join(
                prev.select(F.col("doc_id").alias("ingest_key")),
                "ingest_key", "left_anti",
            )
        # the crawl's sketch salting: a rebuild with the same 8 salts
        # is bit-identical to the merged rows
        deltas.append(sketch_delta(rec, SketchConfig(), n_salts=8))
    appends = [a for d, _ in deltas for a in d]
    return appends, {t: df for _, s in deltas for t, df in s.items()}


def _latest(rows: DataFrame, key: str, versions: DataFrame | None = None) -> DataFrame:
    """Latest-wave-wins merge-on-read (the Iceberg equality-delete shape):
    keep a row iff its key owns rows in one wave only, or the row is from
    the key's newest wave. ``versions`` (default ``rows``) is the
    one-row-per-key-per-wave table that says which waves a key has.

    The multi-wave keys are only ever re-indexed ones — delta-sized, so
    they broadcast; with none the scan is pass-through, and a large
    backlog is what catalog compaction (``append_base``) is for."""
    versions = rows if versions is None else versions
    dup_latest = (
        versions.groupBy(key)
        .agg(F.max("wave").alias("max_wave"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return (
        rows.join(F.broadcast(dup_latest), key, "left")
        .filter(F.col("max_wave").isNull() | (F.col("wave") == F.col("max_wave")))
        .drop("max_wave", "wave")
    )


class IncrementalIndexes:
    """Catalog-backed maintenance facade for the three index families.

    Each ``*_append`` stages the family's delta (the same one the crawl
    stages inside its wave commit) and commits it as one wave."""

    def __init__(self, cat: SnapshotCatalog):
        self.cat = cat

    def _commit(self, delta: Delta) -> int:
        appends, snaps = delta
        wave = self.cat.current_wave() + 1
        for table, df in appends:
            self.cat.stage_append(df, table, wave)
        staged = {t: self.cat.stage(df, t, wave) for t, df in snaps.items()}
        self.cat.commit_wave(wave, staged)
        return wave

    # -- trigram postings --------------------------------------------------
    def trigram_append(
        self, spark: SparkSession, docs: DataFrame, field: str = "text"
    ) -> int:
        """Append (doc_id, text) docs' postings + sizes as one committed
        wave. Re-appending an indexed doc_id is an upsert
        (:meth:`trigram_index` reads latest-wave-wins)."""
        return self._commit(trigram_delta(docs, field))

    def trigram_index(self, spark: SparkSession, field: str = "text") -> dict:
        """Probe-ready index dict over ALL committed waves — the
        postings/sizes shape
        :func:`findopendata_spark.sketch.trigram_index.trigram_topk`
        probes. Each doc's newest wave wins, judged on the doc-count-sized
        sizes table (a tombstone wave has a sizes row but no postings)."""
        sizes = self.cat.read_appended(spark, f"trigram_sizes_{field}")
        postings = self.cat.read_appended(spark, f"trigram_postings_{field}")
        # n_grams=0 rows (below-threshold docs, shrink tombstones) stay in
        # the table so latest-wave-wins can retire older postings, but
        # are not index entries: a rebuild has no row for such a doc, and
        # kept here they would surface as jaccard-0 top-k fillers
        return {
            "postings": _latest(postings, "doc_id", sizes),
            "sizes": _latest(sizes, "doc_id").filter(F.col("n_grams") > 0),
        }

    # -- IVF ---------------------------------------------------------------
    def ivf_append(self, spark: SparkSession, vecs: DataFrame) -> int:
        """Append (vec_id, v) vectors' cell assignments as one committed
        wave; the first append trains and freezes the centroids."""
        return self._commit(ivf_delta(spark, self.cat, vecs))

    def ivf_index(self, spark: SparkSession) -> dict:
        """{"centroids", "assigned"} over all committed waves — the shape
        :func:`findopendata_spark.embedding.ivf_topk` takes. Each vec_id's
        newest wave wins; a winning tombstone (zero vector) drops it."""
        rows = self.cat.read_appended(spark, "ivf_assignments")
        return {
            "centroids": self.cat.read(spark, "ivf_centroids"),
            "assigned": _latest(rows, "vec_id")
            .filter(F.col("cell").isNotNull())
            .withColumnRenamed("cell", "_cell"),
        }

    # -- column sketches ---------------------------------------------------
    def sketch_append(
        self, spark: SparkSession, records: DataFrame,
        cfg: SketchConfig | None = None, n_salts: int = 16,
    ) -> int:
        """Sketch this wave's NEW records and append the mergeable rows
        and the columns' value sets."""
        return self._commit(sketch_delta(records, cfg or SketchConfig(), n_salts))

    def sketch_read(
        self, spark: SparkSession, cfg: SketchConfig | None = None
    ) -> DataFrame | None:
        """Merged sketch per (file_id, column_name) over all waves —
        bit-identical to sketch_columns on the concatenated records —
        or None when no wave appended sketches."""
        from findopendata_spark.sketch.column_sketch import merge_sketch_rows

        rows = self.cat.read_appended(spark, "column_sketches")
        if rows is None:
            return None
        return merge_sketch_rows(rows, cfg or SketchConfig())

    def values_read(self, spark: SparkSession) -> DataFrame | None:
        """Each column's distinct normalized values: the distinct union of
        the per-wave value sets (appends never retract), or None when no
        wave appended value sets."""
        rows = self.cat.read_appended(spark, "column_values")
        return None if rows is None else rows.drop("wave").distinct()

