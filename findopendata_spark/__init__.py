"""findopendata_spark — a from-scratch PySpark-native open-data crawler +
content-sketch analytics engine with the query and data-processing
capabilities of findopendata/findopendata (reference read-only at
/root/reference; cited as ``file:line`` in docstrings — never copied).

Architecture (Spark-first, NOT a port):

- The reference's Celery-task dataflow (RabbitMQ boundaries) becomes
  DataFrame transformation stages inside a per-wave Spark job; the queue
  boundary becomes the shuffle.
- Postgres registry tables (URL-seen, column_sketches) become
  snapshot-versioned parquet tables with one atomic commit per wave
  (:mod:`findopendata_spark.catalog`) — the interface mirrors Iceberg's
  (snapshot/append staging, atomic commit, time travel) so a real
  deployment swaps in an Iceberg catalog unchanged.
- Per-record Python operators become vectorized column expressions or
  Arrow-batched pandas UDFs; no per-row Python anywhere on the hot path.
"""

__version__ = "0.1.0"

from findopendata_spark.session import get_spark  # noqa: F401
