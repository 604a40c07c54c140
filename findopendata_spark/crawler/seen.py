"""Sharded Bloom URL-seen prefilter — the one module that knows its format.

BASELINE.json names a partitioned URL-seen filter "maintained as
broadcast + per-partition shards". This is a Bloom filter sharded by
``pmod(url_hash, n_shards)``. Filters that also support deletion buy
nothing here: the crawl never evicts a seen URL (``recrawl_stale``
keeps recrawled URLs in the seen set).

- **build**: groupBy(shard) → one executor-side numpy bit-scatter per
  shard; exactly S small bitsets travel to the driver — never the keys,
  and never one partial bitset per input partition.
- **delta**: per-wave new URLs take the same grouped path and their
  shard bitsets OR into the driver copy.
- **probe**: while the shards' total bytes fit Spark's own broadcast
  limit (``spark.sql.autoBroadcastJoinThreshold``), the shard dict is
  broadcast and each Arrow batch probes its rows grouped by shard id;
  beyond it, probe rows are cogrouped with the shards by shard id so
  each task deserializes exactly ONE shard.

Format (:func:`_bitset` writes it, :func:`_hits` reads it): per shard a
power-of-two bitset of ``m_bits_shard`` bits, bit i at byte ``i >> 3``,
mask ``1 << (i & 7)``; a key sets the k positions ``h1 + i*h2`` (double
hashing, Kirsch–Mitzenmacher 2006) over the splitmix-mixed ``url_hash``.
Shard choice (``pmod``) and positions (mixed hashes) are decorrelated.

At 10^10 keys a monolithic bitset (~12.5 GB at 10 bits/key) cannot live
on one driver; shards of ~m/S bits can be rebuilt, shipped, and (on a
real cluster) pinned per-executor independently.

Reference analog: the URL-seen set is unique indexes + upserts in
Postgres (``sql/create_crawler_tables.sql:45,78,104``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from findopendata_spark.config import CrawlConfig
from findopendata_spark.crawler.graph import mix

BLOOM_BITS_PER_KEY = 10  # ~1% false-positive rate with 7 hashes
BLOOM_NUM_HASHES = 7


def _positions(url_hash: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(len(h), k) bit positions of int64 hashes via double hashing."""
    h = url_hash.view(np.uint64)
    h1 = mix(h, 0xB100)
    h2 = mix(h, 0xB200) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _bitset(url_hash: np.ndarray, m_bits: int, k: int) -> bytes:
    """One shard's bitset over int64 hashes. A bool scatter + packbits is
    ~10x faster than ``np.bitwise_or.at`` (an unbuffered ufunc)."""
    bools = np.zeros(m_bits, dtype=bool)
    bools[_positions(url_hash, m_bits, k).ravel()] = True
    return np.packbits(bools, bitorder="little").tobytes()


def _hits(bits: bytes, url_hash: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Membership of int64 hashes in one shard's bitset (both probes)."""
    barr = np.frombuffer(bits, dtype=np.uint8)
    pos = _positions(url_hash, m_bits, k)
    return ((barr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)


def _build_shards(
    df, m_bits_shard: int, k: int, n_shards: int
) -> dict[int, bytes]:
    """One bitset per shard of ``df.url_hash``; shards without keys are
    all-zero."""
    from pyspark.sql import functions as F

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bits = _bitset(pdf["url_hash"].to_numpy(np.int64), m_bits_shard, k)
        return pd.DataFrame({"shard_id": [int(key[0])], "bits": [bits]})

    rows = (
        df.select(
            F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard_id"),
            "url_hash",
        )
        .groupBy("shard_id")
        .applyInPandas(fn, "shard_id int, bits binary")
        .collect()
    )
    empty = b"\x00" * (m_bits_shard // 8)
    shards = {i: empty for i in range(n_shards)}
    for row in rows:
        shards[int(row["shard_id"])] = bytes(row["bits"])
    return shards


def _broadcast_limit(spark) -> int:
    """Spark's broadcast-join size limit in bytes; -1 means never
    broadcast. (``spark.conf.get`` returns it as a string like
    ``'10485760b'``; the parsed long lives on the session's SQLConf.)"""
    return int(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )


@dataclass
class ShardedSeenFilter:
    shards: dict[int, bytes]
    n_shards: int
    k: int                       # hash rounds
    m_bits_shard: int            # bitset bits per shard
    capacity: int                # total keys the filter is sized for
    force_rebuild: bool = False  # set when a delta update failed

    # -- construction -------------------------------------------------------
    @classmethod
    def build(cls, seen_df, n_keys: int, cfg: CrawlConfig) -> "ShardedSeenFilter":
        """Size for ``n_keys`` (callers pass count*headroom) and build all
        shards from ``seen_df.url_hash`` executor-side."""
        s = cfg.bloom_shards
        m = max(1024, max(n_keys // s, 1) * BLOOM_BITS_PER_KEY)
        m_shard = 1 << int(np.ceil(np.log2(m)))  # pow2 → cheap masking semantics
        shards = _build_shards(seen_df, m_shard, BLOOM_NUM_HASHES, s)
        return cls(shards, s, BLOOM_NUM_HASHES, m_shard, n_keys)

    def needs_rebuild(self, n_keys: int) -> bool:
        return self.force_rebuild or n_keys > self.capacity

    # -- incremental update ---------------------------------------------------
    def or_delta(self, spark, delta_df) -> None:
        """OR the shard bitsets of ``delta_df.url_hash`` into the driver
        copy; only the touched shards change."""
        delta = _build_shards(delta_df, self.m_bits_shard, self.k, self.n_shards)
        out = dict(self.shards)
        for sid, bits in delta.items():
            if any(bits):
                acc = np.frombuffer(out[sid], dtype=np.uint8) | np.frombuffer(
                    bits, dtype=np.uint8
                )
                out[sid] = acc.tobytes()
        self.shards = out

    # -- probe ----------------------------------------------------------------
    def with_maybe_seen(
        self, spark, df, hash_col: str = "url_hash", debug_bytes: bool = False,
    ):
        """Add boolean ``maybe_seen`` (no false negatives). Broadcasts the
        shard dict when its bytes fit the session's broadcast limit — the
        size up to which Spark itself ships a table to every executor —
        and cogroups by shard id otherwise. ``debug_bytes`` (cogroup
        only) appends ``_probe_bytes``, the filter bytes each task
        deserialized — test instrumentation."""
        limit = _broadcast_limit(spark)
        if limit < 0 or sum(map(len, self.shards.values())) > limit:
            return self._with_maybe_seen_sharded(spark, df, hash_col, debug_bytes)
        from pyspark.sql import functions as F
        from pyspark.sql.types import BooleanType

        shards_bc = spark.sparkContext.broadcast(self.shards)
        m_bits, k, n_shards = self.m_bits_shard, self.k, self.n_shards

        @F.pandas_udf(BooleanType())
        def probe(h: pd.Series) -> pd.Series:
            hv = h.to_numpy(np.int64)
            sh = np.mod(hv, n_shards)
            out = np.zeros(len(hv), dtype=bool)
            shards = shards_bc.value
            for s in np.unique(sh):
                idx = np.nonzero(sh == s)[0]
                out[idx] = _hits(shards[int(s)], hv[idx], m_bits, k)
            return pd.Series(out)

        return df.withColumn("maybe_seen", probe(F.col(hash_col)))

    def _with_maybe_seen_sharded(
        self, spark, df, hash_col: str, debug_bytes: bool
    ):
        """Per-executor shard residency (VERDICT r02 item 6): probe rows
        repartition by shard id and COGROUP with a shards DataFrame, so
        each task deserializes exactly ONE shard's bytes — the probe
        shuffle carries only (row, shard_id), never the filter.

        At 10^10 keys a broadcast would ship every shard (~12.5 GB total
        at 10 bits/key) to every executor per probe; this caps per-task
        filter bytes at total/S. (Here the shards table is built from
        the driver dict; at real scale it is the persisted seen-filter
        table read straight from the catalog, and the same cogroup
        applies.)"""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            BooleanType,
            IntegerType,
            StructField,
            StructType,
        )

        m_bits, k, n_shards = self.m_bits_shard, self.k, self.n_shards
        shards_df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in self.shards.items()],
            "shard_id int, bits binary",
        )
        rows = df.withColumn(
            "_sid", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
        )
        fields = list(rows.schema.fields) + [
            StructField("maybe_seen", BooleanType())
        ]
        if debug_bytes:
            fields.append(StructField("_probe_bytes", IntegerType()))
        out_schema = StructType(fields)

        def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            bits = bytes(right["bits"].iloc[0]) if len(right) else b""
            out = left.copy()
            out["maybe_seen"] = _hits(
                bits, left[hash_col].to_numpy(np.int64), m_bits, k
            )
            if debug_bytes:
                out["_probe_bytes"] = np.int32(len(bits))
            return out

        probed = (
            rows.groupBy("_sid")
            .cogroup(shards_df.groupBy("shard_id"))
            .applyInPandas(fn, out_schema)
        )
        return probed.drop("_sid")
