"""Upsert sinks — the reference's ``upsert-kafka`` materialization
(SURVEY §2.1 S7): keyed latest-row-per-key changelog with delete
tombstones, written from ``foreachBatch``.

- :class:`ParquetUpsertSink` — files-as-state upsert for tests/local runs:
  every micro-batch writes its rows, tagged with its epoch id, into its
  own epoch directory (replay contract: ``streaming/epochlog.py``); the
  *current state* is a distributed compaction (latest_per_key over key +
  (epoch, order)). No driver-side state, so it scales like any parquet
  table.
- :func:`write_upsert_kafka` — the production path: per-batch compaction,
  JSON key/value, tombstones as null values. Requires the Kafka connector
  jars; import/config is validated lazily so environments without Kafka
  can still use everything else.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.changelog import latest_per_key
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import epochlog


class ParquetUpsertSink:
    """Keyed upsert sink backed by a parquet log of per-epoch directories
    (``streaming/epochlog.py``): a replayed micro-batch replaces its own
    files instead of adding a second copy. Epoch ids number the
    micro-batches of one query, so a sink path belongs to one checkpoint.

    Use ``foreach_batch`` as the ``writeStream.foreachBatch`` callback;
    ``current_state`` returns the compacted table (latest row per key,
    tombstones applied) computed distributively at read time — the same
    read-time-compaction model a compacted Kafka topic gives the reference.
    """

    def __init__(
        self,
        path: str,
        keys: str | list[str],
        order_by: str | list[str],
        op_col: str | None = None,
    ):
        self.path = path
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.order_by = [order_by] if isinstance(order_by, str) else list(order_by)
        self.op_col = op_col

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        epochlog.write(batch_df.withColumn("__epoch", F.lit(epoch_id)), self.path, epoch_id)

    def current_state(self, spark: SparkSession) -> DataFrame:
        # zero micro-batches (an empty bounded source) leave no written
        # schema to return an empty state with: output() raises
        log = epochlog.output(spark, self.path)
        ordering = ["__epoch", *self.order_by]
        return latest_per_key(log, self.keys, ordering, op_col=self.op_col).drop("__epoch")


def kafka_murmur2(data: bytes) -> int:
    """Kafka's ``Utils.murmur2`` (Apache Kafka clients, public source):
    MurmurHash2 with seed 0x9747b28c over the key bytes, 32-bit wrapping
    arithmetic. Reimplemented from the published algorithm so partition
    placement is computable without a broker."""
    m, r, mask = 0x5BD1E995, 24, 0xFFFFFFFF
    h = (0x9747B28C ^ len(data)) & mask
    n4 = len(data) & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & mask
        k ^= k >> r
        k = (k * m) & mask
        h = (h * m) & mask
        h ^= k
    tail = len(data) & 3
    if tail == 3:
        h ^= (data[n4 + 2] & 0xFF) << 16
    if tail >= 2:
        h ^= (data[n4 + 1] & 0xFF) << 8
    if tail >= 1:
        h ^= data[n4] & 0xFF
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    return h


def kafka_default_partition(key: str | bytes, num_partitions: int) -> int:
    """Partition a keyed record the way Kafka's DefaultPartitioner does:
    ``toPositive(murmur2(keyBytes)) % numPartitions``. This is the
    compacted-topic contract the reference's upsert tables rely on
    (flink-applications/01-basic-jdbc.json:26): every record for a key —
    upserts AND its delete tombstone — lands in the same partition, so
    per-key ordering and log compaction hold."""
    data = key.encode("utf-8") if isinstance(key, str) else bytes(key)
    return (kafka_murmur2(data) & 0x7FFFFFFF) % num_partitions


def with_kafka_partition(records: DataFrame, num_partitions: int, key_col: str = "key") -> DataFrame:
    """Append the broker-computed ``partition`` column to (key, value)
    records — the Spark Kafka sink honors an explicit int ``partition``
    column, letting the engine pin DefaultPartitioner placement instead
    of trusting producer-side config drift. Arrow-batched (the JSON-key
    byte loop has no SQL builtin); runs on the already-compacted
    latest-per-key records, far off the hot path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _part_fn(keys):
        if keys.isnull().any():
            # Kafka's DefaultPartitioner round-robins NULL keys (sticky
            # partitioning) — producer-side state this broker-free model
            # cannot reproduce; upsert records always carry a key
            raise ValueError(
                "with_kafka_partition: NULL key encountered — null-key "
                "(round-robin) placement is producer-side state and is not "
                "modeled; filter or key such records explicitly"
            )
        return keys.map(lambda k: kafka_default_partition(k, num_partitions)).astype("int32")

    # real annotation objects: the module's deferred (string) annotations
    # would defeat pandas_udf's type-hint inference
    _part_fn.__annotations__ = {"keys": pd.Series, "return": pd.Series}
    _part = pandas_udf(_part_fn, "int")
    return records.withColumn("partition", _part(F.col(key_col)))


def upsert_kafka_records(
    batch_df: DataFrame,
    keys: str | list[str],
    order_by: str | list[str],
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete", "D"),
    value_fields: str = "all",
    num_partitions: int | None = None,
) -> DataFrame:
    """The upsert-kafka record projection, separated from the transport so
    the wire contract is testable without a broker: returns exactly the
    (key string, value string) rows :func:`write_upsert_kafka` produces.

    Layout per reference how-to-aiven/04-flink-cdc-outbox.md:90-103
    (``'key.format'='json'``, ``'value.format'='json'``, PK = key):

    - key   = JSON object of the PK columns;
    - value = JSON object of the row. ``value_fields='all'`` mirrors
      Flink's ``value.fields-include=ALL`` default (key columns repeated
      in the value); ``'except_key'`` mirrors the EXCEPT_KEY mode. The
      CDC ``op_col`` is transport metadata, never serialized.
    - a key whose latest op is a delete emits a TOMBSTONE (null value) —
      the compacted-topic delete marker.
    - with ``num_partitions`` set, a ``partition`` int column pins each
      record to Kafka's DefaultPartitioner placement
      (:func:`kafka_default_partition`) — upserts and their tombstone
      always co-locate, the invariant compaction needs.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    compacted = latest_per_key(batch_df, keys, order_by, op_col=None)  # keep deletes: they become tombstones
    key_json = F.to_json(F.struct(*[F.col(k) for k in keys]))
    skip = set(keys) if value_fields == "except_key" else set()
    payload_cols = [c for c in compacted.columns if c not in skip and c != op_col]
    value_json = F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    if op_col is not None:
        value_json = F.when(F.col(op_col).isin(*delete_ops), F.lit(None)).otherwise(value_json)
    records = compacted.select(key_json.alias("key"), value_json.alias("value"))
    if num_partitions is not None:
        records = with_kafka_partition(records, num_partitions)
    return records


def write_upsert_kafka(
    batch_df: DataFrame,
    keys: str | list[str],
    order_by: str | list[str],
    topic: str,
    bootstrap_servers: str,
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete", "D"),
    value_fields: str = "all",
    num_partitions: int | None = None,
) -> None:
    """foreachBatch body for an upsert-kafka sink (reference
    flink-applications/01-basic-jdbc.json:26: JSON key+value keyed by PK).

    Compacts the batch to latest-per-key, serializes key and value as JSON
    (:func:`upsert_kafka_records` — the broker-free testable projection),
    emits tombstones (null value) for keys whose final op is a delete, and
    writes to the compacted topic. Call from
    ``writeStream.foreachBatch(lambda df, eid: write_upsert_kafka(df, ...))``.
    """
    records = upsert_kafka_records(
        batch_df, keys, order_by, op_col=op_col, delete_ops=delete_ops,
        value_fields=value_fields, num_partitions=num_partitions,
    )
    (
        records.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def write_upsert_jdbc(
    batch_df: DataFrame,
    keys: str | list[str],
    order_by: str | list[str],
    url: str,
    table: str,
    driver: str | None = None,
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete", "D"),
    staging_table: str | None = None,
    varchar_width: int = 512,
) -> None:
    """foreachBatch body for a keyed upsert into a JDBC table — the
    external-store twin of :func:`write_upsert_kafka` (reference S7
    semantics: latest row per PK, deletes remove the key).

    Scale shape: the batch is compacted to latest-per-key and written to
    a staging table with Spark's DISTRIBUTED JDBC writer; then ONE
    set-based ``MERGE`` statement runs inside the database (update /
    insert / delete per key). The driver executes only that single DML
    string — no per-row driver loop, no batch collect. Works on any
    MERGE-capable target (Derby in tests; Postgres 15+, Oracle, etc.).

    ``op_col`` (if given) marks deletes via ``delete_ops`` and is treated
    as transport metadata: it is not stored in the target table. A NULL
    op is an UPSERT, never a delete — same contract as
    ``changelog.latest_per_key`` and the Kafka twin (review r7: the
    bare ``NOT IN`` insert predicate evaluated to UNKNOWN for NULL op
    and silently never inserted the row).

    The staging table defaults to a per-invocation unique name and is
    DROPPED after the merge (review r7: a shared ``{table}_stage``
    let two concurrent writers to one target merge each other's rows).
    String-typed key/op columns are CAST to VARCHAR in the DDL/ON
    clause — Spark's Derby writer stages StringType as CLOB, which the
    database cannot compare. The cast width is sized from the STAGED
    DATA each batch (one in-database ``MAX(LENGTH(..))`` scan, no extra
    Spark pass), never a fixed constant: a fixed-width cast silently
    truncates, so two distinct keys sharing a long prefix would compare
    equal and UPDATE/DELETE the wrong target row (ADVICE r7, medium).
    ``varchar_width`` floors the width used when auto-creating the
    target table. When a LATER batch stages strings longer than the
    target's current column width, the sink first tries to ALTER-widen
    the column in place (Derby and Postgres syntax attempted, current
    width read from JDBC metadata); only if the dialect refuses does
    the INSERT fail loudly with the database's truncation error rather
    than corrupting keys (ADVICE r9: the loud failure alone was an
    availability cliff for streaming queries).

    Operational notes (ADVICE r9): widths are measured in CHARACTERS
    via ``LENGTH()`` on the staged CLOB/VARCHAR, which is correct on
    Derby/Postgres; on byte-semantics dialects (e.g. Oracle VARCHAR2
    with ``NLS_LENGTH_SEMANTICS=BYTE``) multi-byte strings can exceed
    the created byte width — there, pre-create the target with CHAR
    semantics or set ``varchar_width`` to the byte budget. If a widen
    attempt fails and the query stops, the recovery path is to widen
    the column manually (or recreate the target) and restart; state is
    safe because the MERGE is atomic per batch and re-running a batch
    is idempotent (latest-per-key).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    compacted = latest_per_key(batch_df, keys, order_by, op_col=None)  # keep deletes for MERGE
    staging = staging_table or f"{table}_stage_{uuid.uuid4().hex[:12]}"
    payload = [c for c in compacted.columns if c not in keys and c != op_col]
    if not payload:
        raise ValueError("upsert needs at least one non-key payload column")
    string_cols = {
        f.name for f in compacted.schema.fields if f.dataType.simpleString() == "string"
    }

    (
        compacted.write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .options(**({"driver": driver} if driver else {}))
        .mode("overwrite")
        .save()
    )

    spark = batch_df.sparkSession
    jvm = spark._sc._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()

        def q(c: str) -> str:
            return '"' + c + '"'

        cols = keys + payload

        # Size every VARCHAR cast from the staged data: one set-based
        # in-database scan, so the ON-clause cast can never truncate a
        # key (fixed-width casts compare distinct long keys equal).
        staged_strings = [c for c in cols + ([op_col] if op_col else []) if c in string_cols]
        widths: dict[str, int] = {}
        if staged_strings:
            sel_max = ", ".join(
                f"COALESCE(MAX(LENGTH({q(c)})), 0)" for c in staged_strings
            )
            rs = stmt.executeQuery(f"SELECT {sel_max} FROM {staging}")
            rs.next()
            for i, c in enumerate(staged_strings):
                widths[c] = max(int(rs.getInt(i + 1)), 1)
            rs.close()

        def width(c: str, floor: int = 1) -> int:
            return max(widths.get(c, 1), floor)

        def sel(c: str) -> str:
            # Spark's Derby writer stages StringType as CLOB; surface
            # string columns as comparable VARCHAR in DDL and ON clauses.
            # DDL width: at least varchar_width so later, longer batches
            # fit; a batch exceeding it raises on INSERT (loud, not a
            # silent truncation).
            if c not in string_cols:
                return q(c)
            return f"CAST({q(c)} AS VARCHAR({width(c, varchar_width)})) AS {q(c)}"

        target_exists = True
        try:
            stmt.executeQuery(f"SELECT 1 FROM {table} FETCH FIRST ROW ONLY").close()
        except Exception:
            target_exists = False
        if not target_exists:
            stmt.executeUpdate(
                f"CREATE TABLE {table} AS SELECT {', '.join(sel(c) for c in cols)} "
                f"FROM {staging} WITH NO DATA"
            )
        else:
            # A later batch can stage strings longer than the width the
            # target was created with. Widen in place (best-effort per
            # dialect) instead of presenting an availability cliff: if
            # no syntax works, the subsequent INSERT still fails loudly.
            meta = conn.getMetaData()
            schema_name, _, bare = table.rpartition(".")

            def target_col_width(col: str) -> int | None:
                # The table name is UNQUOTED in the DDL (folds per
                # dialect: Derby/Oracle upper, Postgres lower) while
                # column names are QUOTED (stored exactly) — probe the
                # folding combinations.
                for t_n, c_n in (
                    (bare, col),
                    (bare.upper(), col),
                    (bare.lower(), col),
                    (bare.upper(), col.upper()),
                    (bare.lower(), col.lower()),
                ):
                    rs = meta.getColumns(None, schema_name.upper() or None, t_n, c_n)
                    try:
                        if rs.next():
                            return int(rs.getInt("COLUMN_SIZE"))
                    finally:
                        rs.close()
                return None

            for c in [c for c in cols if c in string_cols]:
                need = width(c)
                cur = target_col_width(c)
                if cur is None or need <= cur:
                    continue
                new_w = max(need, varchar_width)
                for ddl in (
                    # Derby / DB2
                    f"ALTER TABLE {table} ALTER COLUMN {q(c)} "
                    f"SET DATA TYPE VARCHAR({new_w})",
                    # Postgres
                    f"ALTER TABLE {table} ALTER COLUMN {q(c)} "
                    f"TYPE VARCHAR({new_w})",
                ):
                    try:
                        stmt.executeUpdate(ddl)
                        break
                    except Exception:  # noqa: BLE001 - dialect probe
                        continue

        def onk(k: str) -> str:
            s_side = (
                f"CAST(s.{q(k)} AS VARCHAR({width(k)}))"
                if k in string_cols
                else f"s.{q(k)}"
            )
            return f"t.{q(k)} = {s_side}"

        on = " AND ".join(onk(k) for k in keys)
        set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in payload)
        insert_cols = ", ".join(q(c) for c in cols)
        insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
        if op_col is not None:
            in_list = ", ".join(f"'{o}'" for o in delete_ops)
            # CAST: some dialects (Spark's Derby writer included) store
            # StringType as CLOB, which is not directly comparable. Width
            # from the staged data so exotic op labels never truncate
            # into a delete_ops collision.
            op_expr = f"CAST(s.{q(op_col)} AS VARCHAR({width(op_col, 16)}))"
            merge = (
                f"MERGE INTO {table} t USING {staging} s ON {on} "
                f"WHEN MATCHED AND {op_expr} IN ({in_list}) THEN DELETE "
                f"WHEN MATCHED THEN UPDATE SET {set_clause} "
                f"WHEN NOT MATCHED AND ({op_expr} NOT IN ({in_list}) "
                f"OR s.{q(op_col)} IS NULL) "
                f"THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
            )
        else:
            merge = (
                f"MERGE INTO {table} t USING {staging} s ON {on} "
                f"WHEN MATCHED THEN UPDATE SET {set_clause} "
                f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
            )
        stmt.executeUpdate(merge)
        # staging is per-batch transport: drop it so concurrent writers
        # and stopped pipelines never see each other's leftovers
        try:
            stmt.executeUpdate(f"DROP TABLE {staging}")
        except Exception:
            pass  # best-effort cleanup; a leftover staging is inert now that names are unique
        stmt.close()
    finally:
        conn.close()

