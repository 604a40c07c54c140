"""The query registry: every registered query with its DuckDB oracle.

Each ``qNN_*`` function registers itself where it is defined, with the
DuckDB SQL twin the correctness gate compares it against::

    @query('''SELECT ... FROM documents''')
    def q07_exact_dedup(spark, sf_dir): ...

This module imports no query module. The :mod:`findopendata_spark.queries`
package imports its domain modules and publishes the registry sorted by
name, so its order does not depend on which module is imported first.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from findopendata_spark.session import session_cache

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query function, DuckDB oracle SQL), in registration order
REGISTRY: dict[str, tuple[QueryFn, str]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The sf table ``name`` under ``sf_dir``, read with a known schema.

    Reading parquet without a schema starts a one-task Spark job that
    reads a file footer, on every read. The schema is inferred once and
    kept in :func:`findopendata_spark.session.session_cache`, keyed on the
    path with its ``st_mtime_ns`` and size, so a rewritten file is never
    read with a stale schema; every later read passes it and starts no
    job."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    schema = session_cache(
        spark, ("sf_schema", path, st.st_mtime_ns, st.st_size),
        lambda: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def query(oracle_sql: str) -> Callable[[QueryFn], QueryFn]:
    """Register the decorated function under its name, with the DuckDB
    SQL that must return the same rows. Every query has one: an empty or
    non-``str`` oracle raises ``ValueError``."""
    if not isinstance(oracle_sql, str) or not oracle_sql.strip():
        raise ValueError(f"query oracle must be non-empty SQL, got {oracle_sql!r}")

    def register(fn: QueryFn) -> QueryFn:
        REGISTRY[fn.__name__] = (fn, oracle_sql)
        return fn

    return register
