"""Snapshot-versioned table store with atomic per-wave commits.

The reference keeps all crawl/metadata/sketch state in Postgres tables
mutated by per-task upserts (``sql/create_crawler_tables.sql``,
``findopendata/ckan_crawler.py:52-63``). Our engine keeps state in
snapshot-versioned tables with **one atomic commit per wave** — the
Iceberg model. This module is a minimal file-based implementation of that
model (the sandbox has no Iceberg jars): each table is a directory of
immutable parquet snapshots, and a single ``_current.json`` pointer names
the committed snapshot of every table plus the last complete wave id,
and the schema of every table (Iceberg's ``schemas`` in table metadata).
Readers pass that schema to the parquet reader, so no read of a table
starts a Spark job to infer it from a file footer.

Commit protocol (crash-safe, exactly the Iceberg sequence):

1. every table touched by wave *k* is **staged** — written to a new
   ``<table>/snap-<k>`` parquet dir; nothing reads staged data;
2. a new pointer doc naming all tables' current snapshots and schemas is
   written to a temp file and ``os.replace``-d onto ``_current.json``
   (atomic on POSIX); the same doc is kept as the wave's log entry
   (``_waves/wave-<k>.json``), which time-travel reads use.

A run killed anywhere before step 2 leaves only unreferenced snapshot
dirs; resume reads ``_current.json`` and sees the previous wave's state
exactly (north rule: "a killed run resumes exactly"). On a real cluster
this class is replaced verbatim by an Iceberg catalog — the engine only
uses ``read`` / ``stage`` / ``commit_wave`` / ``current_wave``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

_POINTER = "_current.json"


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        # table -> schema (StructType.jsonValue) of what this process
        # staged for the in-flight wave; commit_wave publishes them
        self._staged_schemas: dict[str, dict] = {}
        os.makedirs(root, exist_ok=True)

    # -- pointer ----------------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def _read_pointer(self) -> dict:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"wave": -1, "tables": {}}

    def current_wave(self) -> int:
        """Last fully-committed wave id (-1 = fresh store)."""
        return int(self._read_pointer()["wave"])

    def tables(self) -> dict[str, str]:
        return dict(self._read_pointer()["tables"])

    # -- read -------------------------------------------------------------
    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        """DataFrame of the committed snapshot, or None if never committed.

        recursiveFileLookup: a snapshot may be staged in PARTS (sub-dirs
        written by independent jobs at different points in the wave —
        see :meth:`prepare_snap`); snapshots carry no partition columns,
        so a recursive flat listing is always the right read."""
        return self._snapshot(spark, table, self._read_pointer())

    def read_at(self, spark: SparkSession, table: str, wave: int) -> DataFrame | None:
        """Time travel: the table as of wave `wave` (reads the wave log)."""
        return self._snapshot(spark, table, self._wave_log(wave))

    def _snapshot(
        self, spark: SparkSession, table: str, pointer: dict | None
    ) -> DataFrame | None:
        """The snapshot of `table` that pointer doc `pointer` names, read
        with the schema the same doc records."""
        snap = (pointer or {}).get("tables", {}).get(table)
        if snap is None:
            return None
        return (
            spark.read.schema(_schema(pointer, table))
            .option("recursiveFileLookup", "true")
            .parquet(os.path.join(self.root, table, snap))
        )

    def _wave_log(self, wave: int) -> dict | None:
        """The pointer doc wave `wave` committed, or None when that wave
        has no log entry (pre-log store or uncommitted wave id)."""
        log = os.path.join(self.root, "_waves", f"wave-{wave:06d}.json")
        try:
            with open(log) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    # -- write ------------------------------------------------------------
    def prepare_snap(self, table: str, wave: int) -> None:
        """Clear a (possibly killed-run) snapshot dir before PART staging.

        Must be called from the driver thread before the first
        ``stage(..., part=...)`` of a (table, wave): part writes never
        remove the snapshot root themselves (two parts may be writing
        concurrently from staging threads), so a stale part from a killed
        run that the new wave doesn't rewrite would otherwise survive
        into the committed snapshot."""
        path = os.path.join(self.root, table, f"snap-{wave:06d}")
        if os.path.exists(path):
            shutil.rmtree(path)

    def stage(
        self, df: DataFrame, table: str, wave: int, part: str | None = None
    ) -> str:
        """Write an immutable snapshot dir for `table`; invisible until commit.

        ``part`` stages one named sub-dir of the snapshot, letting
        independent jobs write disjoint slices of the same snapshot at
        different points in the wave (the frontier's big carry-over base
        starts writing at selection time; the small new-URL delta lands
        after dedup). Callers must :meth:`prepare_snap` once first."""
        snap = f"snap-{wave:06d}"
        path = os.path.join(self.root, table, snap)
        if part is not None:
            path = os.path.join(path, f"part-{part}")
        if os.path.exists(path):  # leftover from a killed run — overwrite
            shutil.rmtree(path)
        df.write.mode("overwrite").parquet(path)
        self._staged_schemas[table] = df.schema.jsonValue()
        return snap

    # -- append-only tables (seen / docs / lineage) -------------------------
    # One immutable parquet dir per wave (``<table>/wave=<k>``); readers
    # filter ``wave <= current_wave()`` so dirs staged by a killed run are
    # invisible until their wave commits — the same visibility rule as
    # Iceberg manifests, at directory granularity. Appending per wave keeps
    # the per-wave write O(wave delta), not O(total state): at a 10^10-URL
    # seen set a full rewrite per wave would dominate the job.

    def stage_append(self, df: DataFrame, table: str, wave: int) -> None:
        path = os.path.join(self.root, table, f"wave={wave}")
        df.write.mode("overwrite").parquet(path)
        self._staged_schemas[table] = df.schema.jsonValue()

    def read_append_wave(
        self, spark: SparkSession, table: str, wave: int
    ) -> DataFrame:
        """One wave's append dir (no visibility filter — callers that
        staged the wave themselves may read it pre/post commit). The
        schema is the one wave `wave` committed, or, before that commit,
        the one this process staged."""
        doc = self._wave_log(wave) or {"schemas": self._staged_schemas}
        return spark.read.schema(_schema(doc, table)).parquet(
            os.path.join(self.root, table, f"wave={wave}")
        )

    def read_appended(
        self, spark: SparkSession, table: str, upto: int | None = None
    ) -> DataFrame | None:
        """Union of all committed wave appends (wave partition col included),
        or None when `upto` is not a committed wave or no wave up to it
        committed an append to `table`.

        Waves below the table's ``append_base`` (set by a compaction —
        see :meth:`commit_wave`) are invisible: a compaction rewrote
        their surviving rows into its own wave dir, Iceberg's
        rewrite-manifests move at directory granularity."""
        # Time-travel floor (ADVICE r03): a compaction at wave c raises
        # append_base — but a read at upto < c must see the PRE-compaction
        # dirs (they are kept on disk for exactly this). The floor and the
        # schema in effect at `upto` are the ones recorded in that wave's
        # log entry, not the current pointer's.
        pointer = self._read_pointer() if upto is None else self._wave_log(upto)
        if table not in (pointer or {}).get("schemas", {}):
            return None
        upto = int(pointer["wave"])
        floor = int(pointer.get("append_base", {}).get(table, 0))
        base = os.path.join(self.root, table)
        df = (
            spark.read.schema(_schema(pointer, table).add("wave", IntegerType()))
            .option("basePath", base)
            .parquet(base)
        )
        return df.filter((F.col("wave") >= floor) & (F.col("wave") <= upto))

    def commit_wave(
        self,
        wave: int,
        staged: dict[str, str],
        append_base: dict[str, int] | None = None,
    ) -> None:
        """Atomically publish wave `wave`.

        `staged` maps table → snapshot name returned by :meth:`stage`.
        Tables not in `staged` keep their previous snapshot (copy-on-write
        at table granularity). The schemas of every table this process
        staged since the last commit are published with the snapshot
        names. ``append_base`` marks append tables whose
        content this wave REWROTE wholesale (compaction/eviction): their
        pre-`wave` append dirs become invisible atomically with the
        commit — the physical dirs stay (time travel), readers skip them.
        """
        pointer = self._read_pointer()
        if wave <= pointer["wave"]:
            raise ValueError(f"wave {wave} already committed (at {pointer['wave']})")
        pointer["tables"].update(staged)
        pointer.setdefault("schemas", {}).update(self._staged_schemas)
        if append_base:
            ab = pointer.setdefault("append_base", {})
            ab.update({t: int(w) for t, w in append_base.items()})
        pointer["wave"] = wave
        os.makedirs(os.path.join(self.root, "_waves"), exist_ok=True)
        log = os.path.join(self.root, "_waves", f"wave-{wave:06d}.json")
        with open(log + ".tmp", "w") as f:
            json.dump(pointer, f)
        os.replace(log + ".tmp", log)
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(pointer, f)
        os.replace(tmp, self._pointer_path())  # the atomic publish
        self._staged_schemas = {}


def _schema(pointer: dict, table: str) -> StructType:
    """The schema pointer doc `pointer` records for `table`."""
    return StructType.fromJson(pointer["schemas"][table])
