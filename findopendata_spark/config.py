"""Engine configuration constants.

Mirrors the reference's sketch tunables (``configs-example.yaml:55-63``) so
sketches are shape-compatible, while everything else is Spark-native.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class SketchConfig:
    """Content-sketch parameters (reference: configs-example.yaml:55-63).

    Only the tunables the sketcher reads are fields. HLL precision is
    ``sketch.hll.P`` (p=8, as configured); the LSH thresholds are
    arguments of ``sketch.lsh`` (index 0.1, ``lshserver/main.go:23``)."""

    minhash_size: int = 256                    # configs-example.yaml:58
    minhash_seed: int = 43                     # configs-example.yaml:59
    column_sample_size: int = 100              # configs-example.yaml:61
    enable_word_vector_data: bool = False      # configs-example.yaml:62


@dataclass(frozen=True)
class CrawlConfig:
    """Crawl-scheduler parameters.

    Politeness is explicit here (the reference gets it implicitly from
    one serial scroll task per endpoint, README.md:181-196).
    ``hot_host_salt`` salts only the fetch groups: (host, salt) lanes
    spread a hot host's selected URLs across fetch tasks. Every other
    per-wave choice — the shuffle-partition count and the seen-probe
    mode — is derived from counts the wave already tracks, not set here.
    The default crawl delay and the lineage shard count are
    ``crawler.wave`` constants; the Bloom sizing is ``crawler.seen``'s.
    """

    # politeness / frontier (north-rule additions; no reference analog)
    # priority_mode: 'bfs' = 1/(depth+1) (reference page-order analog,
    # used by the ordering-parity tests); 'richness' = parent-document
    # metadata richness drives child priority (north-star scoring rule)
    priority_mode: str = "bfs"
    per_host_wave_budget: int = 50      # max URLs fetched per host per wave
    hot_host_salt: int = 8              # fetch-group salt for hot hosts
    # per-wave index maintenance, staged INSIDE each wave's atomic commit
    # (reference analog: one harvest run upserts all metadata/sketch
    # tables, indexing.py:59-192); the delta rules live in
    # findopendata_spark.indexing, reads go through IncrementalIndexes.
    # index_fields: trigram postings/sizes per doc field (recrawled docs
    # upsert). index_ivf: `ivf_assignments` of each doc's hashing-trick
    # text embedding against `ivf_centroids`, trained on the first
    # indexed wave and then frozen (zero vectors append tombstones).
    # index_sketch: mergeable `column_sketches` rows for docs never
    # sketched before (file_id = host, column = canonical URL).
    index_fields: tuple = ()            # e.g. ("text",)
    index_ivf: bool = False
    index_sketch: bool = False
    bloom_shards: int = 16              # per-shard bitsets (10^10: ~1024)


def testdata_dir(sf: str = "0.01") -> str:
    """Driver-generated parquet root for a scale factor (TESTDATA.md)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{sf}")
