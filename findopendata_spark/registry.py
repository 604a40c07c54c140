"""The query registry: every registered query with its DuckDB oracle.

Each ``qNN_*`` function registers itself where it is defined, with the
DuckDB SQL twin the correctness gate compares it against::

    @query('''SELECT ... FROM documents''')
    def q07_exact_dedup(spark, sf_dir): ...

This module imports no query module. :mod:`findopendata_spark.queries`
imports them all and publishes the registry sorted by name, so its order
does not depend on which query module happens to be imported first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query function, DuckDB oracle SQL), in registration order
REGISTRY: dict[str, tuple[QueryFn, str]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


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
