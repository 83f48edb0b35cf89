"""Scenario 6 — all-tables CDC with event-time temporal joins
(reference ``flink-applications/06-flink-cdc-temporal-join.json``,
``README.md:473-560``), streaming end-to-end.

One unified change stream (the reference subscribes five Debezium topics;
Spark reads them as one Kafka subscription or one envelope file stream)
carries ``(table, op, data-json)`` rows. The incremental engine
(``streaming.incremental``) logs them per table, advances the multi-input
watermark, and runs the scenario-6 statement — UNNEST + four as-of joins
+ JSON aggregation — over each newly-emittable slice of orders:
each order is enriched with the dim versions valid AT ITS EVENT TIME
(a price change only affects later orders), and emission waits until
every input's watermark passes the order, exactly like Flink's temporal
join gating (``README.md:526-534``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.functions import json_arrayagg, json_object
from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.joins import asof_join
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming.incremental import (
    IncrementalTemporalJoin,
    SourceSpec,
)

# Decoded-row schemas per reference scripts/load_dims.sql (+ event_time,
# the Debezium source-timestamp metadata column of scenario 6).
SPECS: dict[str, SourceSpec] = {
    s.name: s
    for s in (
        SourceSpec("orders", "id int, table_assignment_id int, order_time timestamp, pizzas array<int>, op string, event_time timestamp", "event_time"),
        SourceSpec("table_assignment", "id int, client_id int, table_id int, op string, event_time timestamp", "event_time"),
        SourceSpec("clients", "id int, name string, op string, event_time timestamp", "event_time"),
        SourceSpec("tables", "id int, name string, op string, event_time timestamp", "event_time"),
        SourceSpec("pizzas", "id int, name string, price int, op string, event_time timestamp", "event_time"),
    )
}

ENVELOPE_SCHEMA = "table string, op string, data string"


def route_envelopes(batch: DataFrame) -> dict[str, DataFrame]:
    """Split the unified (table, op, data) stream into typed per-table
    DataFrames. Rows with unparseable/absent keys become null-keyed dim
    versions that can never join — harmless (heartbeat pattern). Each
    table is built from SQL expression strings, a few JVM calls apiece."""
    return {
        name: batch.where(f"`table` = '{name}'")
        .selectExpr(f"from_json(data, '{spec.schema.replace(', op string', '')}') AS r", "op")
        .selectExpr("r.*", "op")
        for name, spec in SPECS.items()
    }


def enrich_orders(fact: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """The scenario-6 statement body over one emittable slice of orders:
    UNNEST(pizzas) + AS-OF joins to table_assignment → clients → tables →
    pizzas at the order's event time + grouped JSON aggregation.

    Fact deletes drop the order; dim deletes are TOMBSTONE versions
    (``dim_op='op'``): an order placed after a dim row's delete joins
    NULLs for that dim, exactly like Flink's temporal join over the CDC
    changelog (a deleted key stops matching later facts)."""
    exploded = fact.where("op <> 'd'").selectExpr(
        "id AS order_id", "table_assignment_id", "event_time", "explode(pizzas) AS pizza_id"
    )
    ta = dims["table_assignment"].selectExpr(
        "id AS table_assignment_id", "client_id", "table_id", "event_time AS ta_time", "op"
    )
    j = asof_join(exploded, ta, key="table_assignment_id", fact_ts="event_time", dim_ts="ta_time", dim_op="op")
    cl = dims["clients"].selectExpr("id AS client_id", "name AS client_name", "event_time AS cl_time", "op")
    j = asof_join(j, cl, key="client_id", fact_ts="event_time", dim_ts="cl_time", dim_op="op")
    tb = dims["tables"].selectExpr("id AS table_id", "name AS table_name", "event_time AS tb_time", "op")
    j = asof_join(j, tb, key="table_id", fact_ts="event_time", dim_ts="tb_time", dim_op="op")
    pz = dims["pizzas"].selectExpr("id AS pizza_id", "name AS pizza", "price", "event_time AS pz_time", "op")
    j = asof_join(j, pz, key="pizza_id", fact_ts="event_time", dim_ts="pz_time", dim_op="op")
    return j.groupBy("order_id", "client_name", "table_name").agg(
        json_arrayagg(json_object(pizza=F.col("pizza"), price=F.col("price"))).alias("pizzas"),
        F.max("event_time").alias("event_time"),
    )


def scenario6_tws_chain(envelopes: DataFrame, delay: str = "0 seconds") -> DataFrame:
    """Scenario 6 as ONE continuous Structured Streaming query: UNNEST +
    four chained ``transformWithStateInPandas`` as-of joins — the direct
    analogue of the reference's single Flink statement
    (flink-applications/06-flink-cdc-temporal-join.json:30).

    Only the first join gates on the (global, min-across-inputs)
    watermark; the other three match immediately — see streaming/tws.py
    for the correctness argument. Output is the append stream of enriched
    exploded rows; the per-order JSON aggregation is a keyed compaction at
    the sink (``foreachBatch`` + ``enrich``-style groupBy, or
    ``operators.changelog.latest_per_key``), because stacking a streaming
    aggregation as a fifth stateful operator adds nothing the sink-side
    groupBy doesn't already do for an upsert-keyed topic.

    Runs on any Spark 4 cluster with the RocksDB state store +
    ``google.protobuf`` available (this container lacks protobuf — the
    foreachBatch engine below is the locally-executable twin; both share
    route/semantics and the scenario-6 tests' fixtures).
    """
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming.tws import asof_join_tws

    t = route_envelopes(envelopes)
    exploded = (
        t["orders"]
        .filter(F.col("op") != "d")
        .select(
            F.col("id").alias("order_id"),
            "table_assignment_id",
            "event_time",
            F.explode("pizzas").alias("pizza_id"),
        )
    )
    ta = t["table_assignment"].select(
        F.col("id").alias("table_assignment_id"), "client_id", "table_id",
        F.col("event_time").alias("ta_time"), "op",
    )
    j = asof_join_tws(exploded, ta, "table_assignment_id", "event_time", "ta_time", delay=delay, dim_op="op")
    cl = t["clients"].select(
        F.col("id").alias("client_id"), F.col("name").alias("client_name"),
        F.col("event_time").alias("cl_time"), "op",
    )
    j = asof_join_tws(j, cl, "client_id", "event_time", "cl_time", delay=delay, gate=False, dim_op="op")
    tb = t["tables"].select(
        F.col("id").alias("table_id"), F.col("name").alias("table_name"),
        F.col("event_time").alias("tb_time"), "op",
    )
    j = asof_join_tws(j, tb, "table_id", "event_time", "tb_time", delay=delay, gate=False, dim_op="op")
    pz = t["pizzas"].select(
        F.col("id").alias("pizza_id"), F.col("name").alias("pizza"), "price",
        F.col("event_time").alias("pz_time"), "op",
    )
    return asof_join_tws(j, pz, "pizza_id", "event_time", "pz_time", delay=delay, gate=False, dim_op="op")


def scenario6_engine(spark: SparkSession, base_dir: str, delay: str = "0 seconds") -> IncrementalTemporalJoin:
    """Build the scenario-6 pipeline. Feed it the unified envelope stream
    (``ENVELOPE_SCHEMA``) via ``run_available_now`` or use
    ``engine.foreach_batch`` as a ``writeStream.foreachBatch`` callback."""
    specs = dict(SPECS)
    fact = specs.pop("orders")
    return IncrementalTemporalJoin(
        spark,
        base_dir,
        fact=fact,
        dims=list(specs.values()),
        enrich=enrich_orders,
        route=route_envelopes,
        delay=delay,
    )
