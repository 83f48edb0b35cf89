"""Declarative table specs — the engine's DDL layer.

The reference declares every source/sink as Flink ``CREATE TABLE`` DDL with
plain columns, computed (virtual) columns, metadata columns, watermark specs
and informational primary keys (see reference
``flink-applications/03-flink-cdc-jdbc.json:4-10`` and
``06-flink-cdc-temporal-join.json:4-22``). Spark has no PK or watermark in
its catalog, so :class:`TableSpec` carries them and ``apply``/``load``
compiles them onto a DataFrame:

- computed column  -> ``withColumn(name, expr(sql))``
- metadata column  -> ``withColumn`` from a source-provided column
- watermark        -> ``withWatermark`` (streaming DataFrames only)
- primary key      -> retained on the spec; consumed by the upsert sink and
                      changelog compaction (keyed latest + tombstones)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ComputedColumn:
    """A virtual column evaluated at source-definition time.

    Mirrors Flink's ``colname AS <expr>`` DDL, e.g. the reference's
    ``order_timestamp as TO_TIMESTAMP_LTZ(order_time/1000, 3)``
    (``flink-applications/03-kafka-cdc-flink-jdbc.json:8``) becomes
    ``ComputedColumn("order_timestamp", "timestamp_millis(order_time)")``.
    ``proctime as proctime()`` maps to ``current_timestamp()`` which Spark
    fixes per query / per micro-batch (documented semantics, SURVEY §2.3 T7).
    """

    name: str
    sql: str


@dataclass(frozen=True)
class Watermark:
    """``WATERMARK FOR <column> AS <column> - INTERVAL ...``.

    ``delay`` uses Spark interval syntax ("5 seconds"); the reference's
    strict watermark (``WATERMARK for event_time as event_time``,
    ``06-flink-cdc-temporal-join.json:4``) is ``delay="0 seconds"``.
    """

    column: str
    delay: str = "0 seconds"


@dataclass
class TableSpec:
    """Schema + semantic annotations for one source/sink table."""

    name: str
    schema: str | None = None  # DDL string for schema-on-read sources
    computed: list[ComputedColumn] = field(default_factory=list)
    watermark: Watermark | None = None
    primary_key: tuple[str, ...] = ()
    # `path`/`fmt` for file-backed tables; JDBC/Kafka sources carry their
    # own options via the sources module.
    path: str | None = None
    fmt: str = "parquet"

    def apply(self, df: DataFrame, streaming: bool | None = None) -> DataFrame:
        """Compile computed columns and (for streams) the watermark onto df."""
        for c in self.computed:
            df = df.withColumn(c.name, F.expr(c.sql))
        is_streaming = df.isStreaming if streaming is None else streaming
        if self.watermark is not None and is_streaming:
            df = df.withWatermark(self.watermark.column, self.watermark.delay)
        return df

    def load(self, spark: SparkSession) -> DataFrame:
        """Batch-load a file-backed table and apply the spec."""
        if self.path is None:
            raise ValueError(f"table {self.name!r} has no path; use sources.*")
        reader = spark.read
        if self.schema:
            reader = reader.schema(self.schema)
        df = reader.format(self.fmt).load(self.path)
        return self.apply(df, streaming=False)

    def register(self, spark: SparkSession, df: DataFrame | None = None) -> DataFrame:
        """Register as a temp view for the SQL entry point (plans.app)."""
        out = df if df is not None else self.load(spark)
        out.createOrReplaceTempView(self.name)
        return out

