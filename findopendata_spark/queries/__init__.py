"""The driver-contract queries over the testdata tables (TESTDATA.md),
filed by SURVEY.md §2 domain.

Each query demonstrates an operator family and registers with its
DuckDB-oracle SQL twin where it is defined
(:func:`findopendata_spark.registry.query`; same column names/aliases —
the driver's correctness gate hashes values after sorting columns by
name). This package imports its seven domain modules so every query is
registered, then publishes ``QUERIES`` and ``ORACLE_SQL`` sorted by name.

Design rules for oracle-stability:
- every aggregate/computed column is aliased identically on both sides;
- doubles are ``round()``-ed (2dp for sums, 4dp for ratios/similarities);
- timestamps are rendered as strings (engine timestamp formatting differs);
- ties in top-k are broken by a unique key.
"""

from __future__ import annotations

# the domain modules register their queries when imported
from findopendata_spark.queries import (  # noqa: F401
    dedup,
    events,
    multimodal,
    records,
    relational,
    similarity,
    text,
)
from findopendata_spark.registry import REGISTRY, QueryFn

# published sorted by name (q01 ... q51), so the order queries() returns
# does not depend on which query module was imported first
QUERIES: dict[str, QueryFn] = {n: REGISTRY[n][0] for n in sorted(REGISTRY)}
ORACLE_SQL: dict[str, str] = {n: REGISTRY[n][1] for n in sorted(REGISTRY)}

# explicit raise, not assert (ADVICE r05): the 50-entry registry contract
# (the grading driver records only the first 50 rows) must hold under
# `python -O` too, where asserts are stripped.
if len(QUERIES) != 50 or set(QUERIES) != set(ORACLE_SQL):
    raise RuntimeError(
        f"query registry contract broken: {len(QUERIES)} queries, "
        f"oracle-key delta {set(QUERIES) ^ set(ORACLE_SQL)}"
    )
