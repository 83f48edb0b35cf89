"""Batch parquet source: schema from the footer, type normalization.

``read_parquet`` reads the footer of one data file on the driver
(pyarrow, O(schema): independent of data volume) and hands Spark the
schema that footer proves, so building the DataFrame starts no Spark
job. Without a schema, ``spark.read.parquet`` runs a schema-inference
job to read that same footer, even for a single file: on a chain of
short queries that job is the largest fixed cost per read.

Spark (through 4.x) refuses parquet INT64 TIMESTAMP(NANOS) columns
(PARQUET_TYPE_ILLEGAL) that other engines (DuckDB, pyarrow) read fine.
``read_parquet`` reads them as raw nanos (legacy conf) and converts to
microsecond timestamps, so downstream plans see ordinary TIMESTAMP
columns.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

# Footer key under which Spark stores the schema of the files it writes.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# Session confs under which Spark's inference departs from the footer
# mapping below, with the value that keeps it; any other value hands
# the read to Spark's inference.
_INFERENCE_CONFS = {
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
    "spark.sql.parquet.mergeSchema": "false",
}


def _provable(t) -> bool:
    """Whether Spark infers exactly ``from_arrow_type(t)`` for a parquet
    column pyarrow reads as ``t``. Unsigned, time, duration, float16,
    fixed-size binary, date64 and null columns are left to Spark."""
    import pyarrow.types as pat

    if pat.is_struct(t):
        return all(_provable(f.type) for f in t)
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return _provable(t.value_type)
    if pat.is_map(t):
        return _provable(t.key_type) and _provable(t.item_type)
    if pat.is_dictionary(t):
        return _provable(t.value_type)
    return any(is_(t) for is_ in (
        pat.is_boolean, pat.is_signed_integer, pat.is_float32, pat.is_float64,
        pat.is_decimal128, pat.is_string, pat.is_large_string, pat.is_binary,
        pat.is_large_binary, pat.is_date32, pat.is_timestamp,
    ))


def _listed(name: str) -> bool:
    """Spark's file index skips names starting with ``.``, and those
    starting with ``_`` unless they hold ``=`` (a partition directory
    such as ``__cell=3``, which pyarrow's own discovery would skip)."""
    return not name.startswith(".") and (not name.startswith("_") or "=" in name)


def _first_data_file(path: str) -> str | None:
    """The first data file Spark lists under a local ``path``."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(filter(_listed, dirs))
        data = sorted(filter(_listed, files))
        if data:
            return os.path.join(root, data[0])
    return None


def _footer_schema(spark: SparkSession, path: str) -> tuple[StructType | None, list[str]]:
    """(schema, nano columns) from the footer of the first data file
    under ``path``. ``schema`` is the one Spark's inference gives, or
    None where the footer cannot prove it. ``nano columns`` are the
    top-level INT64 TIMESTAMP(NANOS) columns, typed LongType in the
    schema (what Spark reads under ``nanosAsLong``)."""
    from urllib.parse import urlparse

    from pyspark.sql.pandas.types import from_arrow_schema
    import pyarrow as pa
    import pyarrow.dataset as ds

    url = urlparse(path)
    if url.scheme not in ("", "file"):
        # a remote store: Spark reaches it through its own filesystem
        # config; pyarrow would try its own client and credentials
        return None, []
    first = _first_data_file(url.path if url.scheme else path)
    if first is None:  # no data file: Spark's inference raises its error
        return None, []
    try:
        frag = next(ds.dataset(first, format="parquet").get_fragments())
        meta = frag.metadata
        arrow = frag.physical_schema
    except (OSError, pa.ArrowException):  # not a parquet file
        return None, []
    inferred_as_mapped = all(
        spark.conf.get(k, v).lower() == v for k, v in _INFERENCE_CONFS.items()
    )
    stored = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:  # Spark-written: readSchemaFromFooter takes it as is
        try:
            return (StructType.fromJson(json.loads(stored)) if inferred_as_mapped else None), []
        except (ValueError, KeyError, TypeError):  # not the JSON form
            return None, []
    nanos, int96, nested = [], set(), False
    for col in meta.schema:
        unit = json.loads(col.logical_type.to_json()).get("timeUnit")
        if col.physical_type != "INT96" and unit != "nanoseconds":
            continue
        if col.path != col.name:
            nested = True  # nanos or INT96 inside a nested column
        elif col.physical_type == "INT96":
            int96.add(col.name)
        else:
            nanos.append(col.name)
    if nested or not inferred_as_mapped or not all(_provable(t) for t in arrow.types):
        return None, nanos
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower() == "true"
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    return StructType([
        StructField(f.name, LongType()) if f.name in nanos
        else StructField(f.name, TimestampType()) if f.name in int96
        else f
        for f in schema
    ]), nanos


def _read(spark: SparkSession, schema: StructType | None, nano_cols: list[str], *paths: str) -> DataFrame:
    """Read ``paths`` with ``_footer_schema``'s result (None: Spark
    infers) and convert the nano columns to micros."""
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(*paths)
    for c in nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from one
    driver-side footer read, so it starts no Spark job, and with
    TIMESTAMP(NANOS) columns converted to micros (truncation, the same
    as DuckDB's ns->us).

    The footer of the first data file decides the schema:

    - a Spark-written file carries its schema under
      ``org.apache.spark.sql.parquet.row.metadata``; that schema is
      used, as Spark's own ``readSchemaFromFooter`` does;
    - any other file maps through ``from_arrow_schema``, with naive
      timestamps as TIMESTAMP_NTZ when the session's
      ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on; INT96
      columns are TIMESTAMP and TIMESTAMP(NANOS) columns LongType.

    Spark's inference still runs where the footer cannot prove the
    type: no data file (so an empty directory raises Spark's error),
    a path pyarrow cannot read, an unsigned or otherwise unmapped
    type, nanos or INT96 inside a nested column, or a non-default
    ``binaryAsString``, ``int96AsTimestamp`` or ``mergeSchema``. A path
    on a remote store (a URI scheme other than ``file:``) is not read
    on the driver at all, so Spark infers its schema and its
    TIMESTAMP(NANOS) columns are not converted. Files
    under one path are expected to share a schema, as Spark's
    inference without ``mergeSchema`` also assumes. Partition columns
    of a ``k=v/`` directory are discovered by Spark either way.

    With a TIMESTAMP(NANOS) column the session-wide conf
    ``spark.sql.legacy.parquet.nanosAsLong`` is set to true: Spark
    reads it when it plans the scan, not when the DataFrame is built,
    so it cannot be scoped to this call.
    """
    schema, nano_cols = _footer_schema(spark, path)
    return _read(spark, schema, nano_cols, path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    lenient: bool = False,
) -> DataFrame:
    """JSON-lines corpus reader — the interchange format most raw text
    dumps arrive in. With ``schema`` (DDL string) the scan skips
    Spark's inference pass (one full extra read of the data — never
    acceptable at 100 TB) and malformed lines FAIL the job by default;
    ``lenient=True`` switches to PERMISSIVE with a ``_corrupt_record``
    column so bad lines can be quarantined instead. Compressed inputs
    (.gz/.zst per-file) decode transparently; gzip is not splittable,
    so shard corpora into many files upstream.
    """
    reader = spark.read
    if schema is not None:
        mode = "PERMISSIVE" if lenient else "FAILFAST"
        if lenient:
            schema = schema + ", _corrupt_record string"
        reader = reader.schema(schema).option("mode", mode)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    partitions: int | None = None,
) -> None:
    """JSON-lines writer for corpus interchange: one object per line,
    optionally gzip-compressed, ``partitions`` output shards (coalesce
    when shrinking — no shuffle)."""
    if partitions is not None:
        df = df.coalesce(partitions) if partitions <= (df.rdd.getNumPartitions()) else df.repartition(partitions)
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    delimiter: str = ",",
    lenient: bool = False,
) -> DataFrame:
    """CSV corpus reader with the same contract as :func:`read_jsonl`:
    schema is REQUIRED (inference is a full extra pass over the data —
    never acceptable at 100 TB), malformed rows FAIL the job by default,
    and ``lenient=True`` switches to PERMISSIVE with a
    ``_corrupt_record`` column for quarantine routing. Quoted fields,
    embedded delimiters/newlines (``multiLine`` stays off — it makes
    files unsplittable; pre-clean instead), and .gz inputs decode
    transparently."""
    mode = "PERMISSIVE" if lenient else "FAILFAST"
    if lenient:
        schema = schema + ", _corrupt_record string"
    return (
        spark.read.schema(schema)
        .option("header", "true" if header else "false")
        .option("sep", delimiter)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a lenient read into (clean, quarantined) — clean rows with
    the corrupt column dropped, bad rows as their raw text for repair.
    Works for read_csv / read_jsonl lenient modes and the streaming
    decoders' dead-letter channel (``decode_debezium(lenient=True)``).
    Streaming DataFrames are split lazily (no localCheckpoint — call
    inside ``foreachBatch`` to write both halves from one scan)."""
    from pyspark.sql import functions as F

    if "_corrupt_record" not in df.columns:
        raise ValueError("quarantine_split needs a lenient read (PERMISSIVE with _corrupt_record)")
    if not df.isStreaming:
        df = df.localCheckpoint(eager=False)  # both halves share one scan
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return clean, bad
