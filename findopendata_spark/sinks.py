"""Blob/export sinks (SURVEY §2.1 S9-S11, S17).

| reference                                           | here |
|------------------------------------------------------|------|
| ``put_json(records, gzip_compress=True)`` (S11)      | :func:`write_json_gzip` |
| ``put_avro(schema, records, codec="snappy")`` (S10)  | :func:`write_avro` (spark-avro if its jar is present, else the engine's OCF encoder) |
| ``\\COPY (row_to_json(...)) TO PROGRAM 'gzip'`` (S17) | :func:`export_column_sketches` |
| resource-URL CSV export (S17)                        | :func:`write_csv` |

All are thin ``df.write`` wrappers — the reference needed a bespoke
storage layer (``storage/base.py:20-104``) because Celery workers write
files one at a time; Spark writers already partition, compress, and
commit atomically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_json_gzip(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """gzip JSONL (reference S11: ``storage/local.py:74-88``)."""
    df.write.mode(mode).option("compression", "gzip").json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Header CSV export (reference S17: ``sql/export_resource_urls.sql``)."""
    df.write.mode(mode).option("header", "true").csv(path)


def _is_missing_datasource(e: Exception) -> bool:
    """True only for the 'avro datasource jar not deployed' failure —
    NOT for arbitrary errors whose message happens to mention avro
    (ADVICE r02: substring-matching masked real errors). Spark 4.x
    raises AnalysisException with condition _LEGACY_ERROR_TEMP_1139
    ('Failed to find data source: avro'); newer versions use
    FAILED_TO_FIND_DATA_SOURCE."""
    from pyspark.errors import AnalysisException

    if not isinstance(e, AnalysisException):
        return False
    cond = ""
    for getter in ("getCondition", "getErrorClass"):
        try:
            cond = getattr(e, getter)() or ""
            break
        except Exception:  # noqa: BLE001
            continue
    return (
        cond in ("_LEGACY_ERROR_TEMP_1139", "FAILED_TO_FIND_DATA_SOURCE",
                 "DATA_SOURCE_NOT_FOUND")
        or str(e).startswith("Failed to find data source: avro")
    )


def write_avro(
    df: DataFrame, path: str, mode: str = "overwrite", compression: str = "snappy"
) -> None:
    """Avro sink (reference S10 ``put_avro``). Uses the spark-avro
    datasource when the jar is present; otherwise falls back to the
    engine's own spec-compliant OCF encoder
    (:mod:`findopendata_spark.formats.avro_ocf`) — one ``.avro`` file
    per partition written executor-side, deflate codec (python-snappy
    absent; the codec is per-file metadata, readable by any Avro
    reader)."""
    try:
        df.write.mode(mode).option("compression", compression).format(
            "avro"
        ).save(path)
        return
    except Exception as e:  # noqa: BLE001
        if not _is_missing_datasource(e):
            raise
    _write_avro_fallback(df, path, mode)


def _write_avro_fallback(df: DataFrame, path: str, mode: str) -> None:
    """Own-codec OCF sink for every scheme (plain paths, ``file:``,
    ``viewfs:``, ``gs:``, ...) through the Hadoop FileSystem registry,
    with no driver byte funnel (no blob passes through the driver's
    ``toLocalIterator``):

    1. **encode** (executors): one OCF blob per non-empty partition
       (:func:`_avro_part_blobs` — the CPU-heavy part).
    2. **stage** (executors): the blobs hop to the TARGET filesystem as
       a distributed ``df.write.text`` of their base64 form — one blob
       per task, so each staged part file holds exactly one blob. The
       cluster-to-storage byte movement runs task-side through Hadoop's
       FileSystem + committer at full cluster bandwidth; the driver
       never sees data bytes.
    3. **finalize** (driver, intra-filesystem): each staged file is
       streamed into its final ``part-<uuid>.avro`` via a JVM-side
       base64 decode (``Base64.getMimeDecoder().wrap`` around the
       Hadoop input stream + ``IOUtils.copy``) — O(1) python memory,
       zero py4j byte marshalling, the same single-writer finalize a
       Hadoop v1 output committer performs. uuid part names so
       ``mode='append'`` can never clobber an earlier write's parts
       (ADVICE r04).

    On a real cluster the spark-avro jar is present and ``write_avro``'s
    primary path is a native distributed write; this fallback keeps the
    own-codec path correct (and the big moves distributed) everywhere.
    """
    import uuid

    from findopendata_spark import fs
    from findopendata_spark.formats.avro_ocf import write_avro_blob
    from findopendata_spark.functions.avro_infer import _avro_type

    spark = df.sparkSession
    if mode == "overwrite":
        fs.delete(spark, path)
    fs.mkdirs(spark, path)
    schema = _avro_type(df.schema, "Root")
    cols = [f["name"] for f in schema["fields"]]
    blobs = _avro_part_blobs(df, schema, cols)
    stage = f"{path}/.stage-{uuid.uuid4().hex}"
    try:
        blobs.select(F.base64("blob").alias("b64")).write.mode(
            "overwrite"
        ).text(stage)
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        n_parts = 0
        for src in fs.list_files(spark, stage, suffix=".txt"):
            sp = jvm.org.apache.hadoop.fs.Path(src)
            sfs = sp.getFileSystem(conf)
            if sfs.getFileStatus(sp).getLen() == 0:
                continue  # empty input partition
            dp = jvm.org.apache.hadoop.fs.Path(
                f"{path}/part-{uuid.uuid4().hex}.avro"
            )
            out = dp.getFileSystem(conf).create(dp, True)
            inp = sfs.open(sp)
            try:
                dec = jvm.java.util.Base64.getMimeDecoder().wrap(inp)
                jvm.org.apache.commons.io.IOUtils.copy(dec, out)
            finally:
                inp.close()
                out.close()
            n_parts += 1
    finally:
        fs.delete(spark, stage)
    if n_parts == 0:
        fs.write_bytes(
            spark,
            f"{path}/part-{uuid.uuid4().hex}.avro",
            write_avro_blob(schema, []),
        )


def _avro_part_blobs(df: DataFrame, schema: dict, cols: list[str]):
    """One OCF blob per non-empty partition, encoded executor-side."""
    from findopendata_spark.formats.avro_ocf import write_avro_blob

    def encode(batches):
        import pandas as pd

        recs = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                recs.append({c: _py_value(v) for c, v in zip(cols, row)})
        if recs:
            yield pd.DataFrame({"blob": [write_avro_blob(schema, recs)]})

    return df.mapInPandas(encode, "blob binary")


def _py_value(v):
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return [_py_value(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_py_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _py_value(x) for k, x in v.items()}
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def read_avro(spark, path: str) -> DataFrame:
    """Avro source (S14). spark-avro when present, else a distributed
    decode: ``binaryFile`` scan → per-file OCF decode → JSON-normalized
    rows (schema re-imposed from the first file's embedded schema)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:  # noqa: BLE001
        if not _is_missing_datasource(e):
            raise
    import base64
    import json as _json

    from findopendata_spark import fs
    from findopendata_spark.formats.avro_ocf import read_avro_blob

    # scheme-agnostic listing + schema peek via the Hadoop FS registry
    # (works for file:, viewfs:, gs:, abfss:, s3a: alike)
    parts = fs.list_files(spark, path, suffix=".avro")
    if not parts:
        raise FileNotFoundError(f"read_avro: no .avro files under {path}")
    schema, _ = read_avro_blob(fs.read_bytes(spark, parts[0]))
    files = spark.read.format("binaryFile").load(path.rstrip("/") + "/*.avro")

    def _b64(o):
        # bytes fields: base64 text in the JSON bridge — from_json's
        # BinaryType parser decodes base64, restoring the raw bytes
        if isinstance(o, (bytes, bytearray)):
            return base64.b64encode(bytes(o)).decode("ascii")
        raise TypeError(f"not JSON serializable: {type(o)}")

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                _, recs = read_avro_blob(bytes(content))
                rows.extend(_json.dumps(r, default=_b64) for r in recs)
            if rows:
                yield pd.DataFrame({"js": rows})

    js = files.select("content").mapInPandas(decode, "js string")
    from pyspark.sql import functions as F2

    ddl = _avro_to_ddl(schema)
    return js.select(F2.from_json("js", ddl).alias("r")).select("r.*")


def _avro_to_ddl(schema: dict) -> str:
    """Avro record schema → Spark DDL for from_json."""

    def typ(t):
        if isinstance(t, list):
            return typ(next(x for x in t if x != "null"))
        if isinstance(t, dict):
            if t["type"] == "record":
                inner = ", ".join(
                    f"{f['name']}: {typ(f['type'])}" for f in t["fields"]
                )
                return f"STRUCT<{inner}>"
            if t["type"] == "array":
                return f"ARRAY<{typ(t['items'])}>"
            t = t["type"]
        return {
            "null": "STRING",
            "boolean": "BOOLEAN",
            "int": "INT",
            "long": "BIGINT",
            "float": "FLOAT",
            "double": "DOUBLE",
            "string": "STRING",
            "bytes": "BINARY",
        }[t]

    return ", ".join(f"{f['name']} {typ(f['type'])}" for f in schema["fields"])


def export_column_sketches(
    sketches: DataFrame, package_files: DataFrame, packages: DataFrame, path: str
) -> None:
    """The reference's gzip-JSONL sketch export
    (``sql/export_column_sketches.sql:1-30``): sketches ⋈ files ⋈
    packages, one JSON object per sketch."""
    joined = (
        sketches.join(
            package_files.select(
                F.col("id").alias("package_file_id"),
                "package_id",
                "original_url",
                "format",
            ),
            sketches["file_id"] == F.col("package_file_id"),
            "left",
        )
        .join(
            packages.select(F.col("id").alias("package_id"), "title"),
            "package_id",
            "left",
        )
        .drop("package_file_id")
    )
    write_json_gzip(joined, path)
