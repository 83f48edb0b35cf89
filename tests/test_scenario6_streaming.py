"""Scenario-6 end-to-end: unified CDC stream → incremental temporal
enrichment (UNNEST + four as-of joins + JSON agg), watermark-gated.

Asserts the two semantics the reference calls out:
- versioned correctness: a pizza price change affects only orders whose
  event time is at-or-after the change (README.md:492-515);
- emission gating: nothing emits until EVERY input's watermark passes the
  order (README.md:526-534) — the idle-source stall, drained by
  heartbeats (README.md:540-544).
"""

from __future__ import annotations

import json

import pytest

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.changelog import latest_per_key
from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans.pizzeria_streaming import (
    ENVELOPE_SCHEMA,
    scenario6_engine,
)
from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.streaming import json_file_stream
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import epochlog


def env(table: str, op: str, **data) -> dict:
    return {"table": table, "op": op, "data": json.dumps(data)}


def _batches():
    t0 = "2024-03-01 10:00:00"
    dims = [
        env("clients", "c", id=1, name="ann", event_time=t0),
        env("tables", "c", id=1, name="corner", event_time=t0),
        env("table_assignment", "c", id=1, client_id=1, table_id=1, event_time=t0),
        env("pizzas", "c", id=1, name="margherita", price=5, event_time=t0),
        env("pizzas", "c", id=2, name="diavola", price=7, event_time=t0),
    ]
    o1 = [env("orders", "c", id=1, table_assignment_id=1,
              order_time="2024-03-01 10:01:00", pizzas=[1, 1, 2],
              event_time="2024-03-01 10:01:00")]
    # price change at 10:05, then a later order that must see the NEW price
    upd = [
        env("pizzas", "u", id=1, name="margherita", price=6, event_time="2024-03-01 10:05:00"),
        env("orders", "c", id=2, table_assignment_id=1,
            order_time="2024-03-01 10:06:00", pizzas=[1],
            event_time="2024-03-01 10:06:00"),
    ]
    hb = "2024-03-01 12:00:00"
    heartbeats = [
        env(t, "c", id=999, event_time=hb)
        for t in ("clients", "tables", "table_assignment", "pizzas", "orders")
    ]
    return [dims, o1, upd, heartbeats]


def _parsed(out_rows):
    return {
        r["order_id"]: sorted((p["pizza"], p["price"]) for p in json.loads(r["pizzas"]))
        for r in out_rows
        if r["order_id"] is not None and r["order_id"] != 999
    }


EXPECTED = {
    1: sorted([("margherita", 5), ("margherita", 5), ("diavola", 7)]),
    2: [("margherita", 6)],
}


def test_scenario6_batchwise_gating_and_versions(spark, tmp_path):
    """Drive the engine batch-by-batch: no emission while any input's
    watermark lags; both orders emit with time-correct dim versions once
    heartbeats advance the frontier."""
    engine = scenario6_engine(spark, str(tmp_path / "s6"))
    batches = _batches()
    for i, rows in enumerate(batches[:3]):
        engine.foreach_batch(
            spark.createDataFrame([(r["table"], r["op"], r["data"]) for r in rows], ENVELOPE_SCHEMA),
            i,
        )
    # orders exist but the dims' watermarks (10:00) lag order times -> no output
    try:
        emitted = engine.output().count()
    except FileNotFoundError:
        emitted = 0
    assert emitted == 0

    engine.foreach_batch(
        spark.createDataFrame(
            [(r["table"], r["op"], r["data"]) for r in batches[3]], ENVELOPE_SCHEMA
        ),
        99,
    )
    got = _parsed(engine.output().collect())
    assert got == EXPECTED


def test_scenario6_engine_recovers_across_restart(spark, tmp_path):
    """All engine state (per-table logs, emission frontier) lives on
    disk: a fresh engine instance over the same base_dir must continue
    exactly where the previous one stopped — the restart story of a
    foreachBatch checkpointed query."""
    base = str(tmp_path / "s6_restart")
    batches = _batches()

    first = scenario6_engine(spark, base)
    for i, rows in enumerate(batches[:3]):
        first.foreach_batch(
            spark.createDataFrame([(r["table"], r["op"], r["data"]) for r in rows], ENVELOPE_SCHEMA),
            i,
        )
    del first

    second = scenario6_engine(spark, base)  # "restarted" process
    second.foreach_batch(
        spark.createDataFrame(
            [(r["table"], r["op"], r["data"]) for r in batches[3]], ENVELOPE_SCHEMA
        ),
        99,
    )
    assert _parsed(second.output().collect()) == EXPECTED


def test_scenario6_streaming_end_to_end(spark, tmp_path):
    """Same pipeline through a real Structured Streaming query
    (file-replayed envelopes, availableNow, upsert compaction at read)."""
    import os

    in_dir = str(tmp_path / "s6_in")
    os.makedirs(in_dir)
    base = 1_700_000_000
    for i, rows in enumerate(_batches()):
        p = os.path.join(in_dir, f"b{i:02d}.json")
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    stream = json_file_stream(spark, in_dir, ENVELOPE_SCHEMA)
    engine = scenario6_engine(spark, str(tmp_path / "s6_run"))
    engine.run_available_now(stream)

    compacted = latest_per_key(engine.output(), "order_id", ["event_time"])
    assert _parsed(compacted.collect()) == EXPECTED


def test_scenario6_dim_delete_tombstones_later_orders(spark, tmp_path):
    """A dim-side CDC delete must stop matching later orders (ADVICE r1,
    medium): after pizza 2's delete, an order containing it enriches with
    a NULL pizza image — the temporal join over the changelog behaves like
    Flink's (deleted key -> no match), not like a stale version."""
    t0 = "2024-03-01 10:00:00"
    batches = [
        [
            env("clients", "c", id=1, name="ann", event_time=t0),
            env("tables", "c", id=1, name="corner", event_time=t0),
            env("table_assignment", "c", id=1, client_id=1, table_id=1, event_time=t0),
            env("pizzas", "c", id=1, name="margherita", price=5, event_time=t0),
            env("pizzas", "c", id=2, name="diavola", price=7, event_time=t0),
        ],
        # order before the delete sees diavola; then diavola is deleted
        [
            env("orders", "c", id=1, table_assignment_id=1,
                order_time="2024-03-01 10:01:00", pizzas=[2],
                event_time="2024-03-01 10:01:00"),
            env("pizzas", "d", id=2, name="diavola", price=7,
                event_time="2024-03-01 10:03:00"),
            env("orders", "c", id=2, table_assignment_id=1,
                order_time="2024-03-01 10:04:00", pizzas=[1, 2],
                event_time="2024-03-01 10:04:00"),
        ],
        [
            env(t, "c", id=999, event_time="2024-03-01 12:00:00")
            for t in ("clients", "tables", "table_assignment", "pizzas", "orders")
        ],
    ]
    engine = scenario6_engine(spark, str(tmp_path / "s6del"))
    for i, rows in enumerate(batches):
        engine.foreach_batch(
            spark.createDataFrame([(r["table"], r["op"], r["data"]) for r in rows], ENVELOPE_SCHEMA),
            i,
        )
    # json_object omits NULL fields, so a tombstoned pizza serializes as {}
    got = {
        r["order_id"]: [(p.get("pizza"), p.get("price")) for p in json.loads(r["pizzas"])]
        for r in engine.output().collect()
        if r["order_id"] is not None and r["order_id"] != 999
    }
    assert got[1] == [("diavola", 7)]                        # placed before the delete
    assert set(got[2]) == {("margherita", 5), (None, None)}  # pizza 2 tombstoned


def test_scenario6_replayed_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed micro-batch (same
    epoch_id) must not duplicate log rows or emitted output (ADVICE r1).
    Replays of fully-applied epochs are skipped via the recorded
    last_epoch; partial replays overwrite their own epoch directories."""
    engine = scenario6_engine(spark, str(tmp_path / "s6_replay"))
    batches = _batches()
    dfs = [
        spark.createDataFrame([(r["table"], r["op"], r["data"]) for r in rows], ENVELOPE_SCHEMA)
        for rows in batches
    ]
    for i, df in enumerate(dfs):
        engine.foreach_batch(df, i)
        engine.foreach_batch(df, i)  # replay every epoch once
    assert _parsed(engine.output().collect()) == EXPECTED
    n = engine.output().count()
    # and the final (emitting) epoch replayed again after completion
    engine.foreach_batch(dfs[-1], len(dfs) - 1)
    assert engine.output().count() == n


def _jobs_in_group(spark, group, run) -> int:
    """Number of Spark jobs ``run()`` starts, counted through a job group
    that is cleared afterwards (a job group sticks to the thread)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_scenario6_routing_runs_one_job_per_table(spark, tmp_path):
    """Routing a micro-batch costs one Spark job per routed table, its log
    write: each table's max event time is observed on that write, not
    collected by separate actions. A table absent from a batch observes
    NULL and leaves its recorded max unchanged; a replayed, already
    applied epoch runs no job at all."""
    engine = scenario6_engine(spark, str(tmp_path / "s6_jobs"))
    dims, orders_only = _batches()[0], _batches()[1]

    def drive(rows, epoch):
        df = spark.createDataFrame([(r["table"], r["op"], r["data"]) for r in rows], ENVELOPE_SCHEMA)
        return lambda: engine.foreach_batch(df, epoch)

    # dims only: the orders input has no row yet, so the frontier cannot
    # advance and routing is all the micro-batch does
    assert _jobs_in_group(spark, "s6-route-e0", drive(dims, 0)) == 5
    meta = epochlog.load_meta(engine.meta_path, {})
    assert sorted(meta["max_ts"]) == ["clients", "pizzas", "table_assignment", "tables"]
    assert meta["emitted_frontier"] is None

    # orders only: every dim table is empty in this batch, observes NULL
    # and keeps its max; the frontier (min over inputs) stays at the dims'
    _jobs_in_group(spark, "s6-route-e1", drive(orders_only, 1))
    after = epochlog.load_meta(engine.meta_path, {})
    assert after["max_ts"] == {**meta["max_ts"], "orders": "2024-03-01 10:01:00"}
    assert after["last_epoch"] == 1

    assert _jobs_in_group(spark, "s6-route-replay", drive(orders_only, 1)) == 0
    assert epochlog.load_meta(engine.meta_path, {}) == after


def _df(spark, rows):
    return spark.createDataFrame([(r["table"], r["op"], r["data"]) for r in rows], ENVELOPE_SCHEMA)


def test_scenario6_emission_reads_only_pending_order_epochs(spark, tmp_path):
    """An emission reads only the order-log epoch directories that still
    hold an order above the emitted frontier. ``frontier.json`` records
    each such epoch's max event time; an epoch leaves the record once the
    frontier passes it, and an order arriving at or below the emitted
    frontier is dropped."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans.pizzeria_streaming import enrich_orders

    engine = scenario6_engine(spark, str(tmp_path / "s6_prune"))
    reads = {}

    def spy(facts, dims):
        reads[epoch] = sorted({f.split("/")[-2] for f in facts.inputFiles()})
        return enrich_orders(facts, dims)

    engine.enrich = spy
    dims, o1, upd, heartbeats = _batches()
    late = [env("orders", "c", id=3, table_assignment_id=1,
                order_time="2024-03-01 11:00:00", pizzas=[2],
                event_time="2024-03-01 11:00:00")]
    hb2 = "2024-03-01 13:00:00"
    later = [env("orders", "c", id=4, table_assignment_id=1,
                 order_time="2024-03-01 12:30:00", pizzas=[1],
                 event_time="2024-03-01 12:30:00")] + [
        env(t, "c", id=999, event_time=hb2)
        for t in ("clients", "tables", "table_assignment", "pizzas", "orders")
    ]
    pending = lambda: epochlog.load_meta(engine.meta_path, {})["pending_facts"]  # noqa: E731

    for epoch, rows in enumerate([dims, o1, upd]):
        engine.foreach_batch(_df(spark, rows), epoch)
    # order 1 is ahead of the dims' frontier (10:00): recorded, not emitted
    assert pending() == {"e0000000001": "2024-03-01 10:01:00", "e0000000002": "2024-03-01 10:06:00"}

    epoch = 3  # heartbeats: the frontier passes every order so far
    engine.foreach_batch(_df(spark, heartbeats), epoch)
    assert reads[3] == ["e0000000001", "e0000000002", "e0000000003"]
    assert _parsed(engine.output().collect()) == EXPECTED
    assert pending() == {}

    epoch = 4  # order 3 at 11:00 is at or below the emitted 12:00 frontier
    engine.foreach_batch(_df(spark, late), epoch)
    assert pending() == {}
    epoch = 5
    engine.foreach_batch(_df(spark, later), epoch)
    assert reads == {1: ["e0000000001"], 3: reads[3], 5: ["e0000000005"]}
    assert _parsed(engine.output().collect()) == {**EXPECTED, 4: [("margherita", 6)]}
    assert pending() == {}


def test_scenario6_failed_log_write_leaves_the_epoch_unapplied(spark, tmp_path):
    """The per-table log writes run concurrently; when one of them fails,
    ``foreach_batch`` raises before ``frontier.json`` is written, so a
    replay of the same epoch id re-applies it and the output holds every
    order exactly once."""
    from pyspark.sql import functions as F

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans.pizzeria_streaming import route_envelopes

    def poisoned(batch):
        t = route_envelopes(batch)
        price = t["pizzas"].schema["price"].dataType
        t["pizzas"] = t["pizzas"].withColumn("price", F.expr("raise_error('poisoned pizzas')").cast(price))
        return t

    engine = scenario6_engine(spark, str(tmp_path / "s6_fail"))
    dims, o1, upd, heartbeats = _batches()
    engine.foreach_batch(_df(spark, dims), 0)
    engine.foreach_batch(_df(spark, o1), 1)
    meta_path = tmp_path / "s6_fail" / "frontier.json"
    before = meta_path.read_text()

    engine.route = poisoned
    with pytest.raises(Exception, match="poisoned pizzas"):
        engine.foreach_batch(_df(spark, upd), 2)
    assert meta_path.read_text() == before
    assert epochlog.load_meta(engine.meta_path, {})["last_epoch"] == 1

    engine.route = route_envelopes
    engine.foreach_batch(_df(spark, upd), 2)  # the replay of epoch 2
    engine.foreach_batch(_df(spark, heartbeats), 3)
    rows = [r for r in engine.output().collect() if r["order_id"] != 999]
    assert _parsed(rows) == EXPECTED
    assert sorted(r["order_id"] for r in rows) == [1, 2]


def test_w3_multiple_watermark_policy_min_vs_max_conformance(spark, tmp_path):
    """W3 conformance doc-test (VERDICT r4 item 6): how Spark's
    ``multipleWatermarkPolicy`` maps onto Flink's idle-source story
    (reference README.md:526-544), pinned on ONE fixture under BOTH
    policies.

    - ``min`` (Spark default) == Flink's min-alignment: the global
      watermark is the slowest input's, so an idle input stalls
      outer-join finalization — but in-flight rows on the slow input
      are never demoted to late data. Here: the unmatched order is
      NOT null-padded while the shipment stream idles, and a shipment
      arriving long after the other input's heartbeat still joins.
    - ``max`` == the engine-level analogue of Flink's
      ``table.exec.source.idle-timeout`` mitigation
      (``session.configure_streaming``): the fastest input drives the
      watermark, so the stall drains (the unmatched order null-pads
      promptly) — AT THE COST of dropping the idle input's late rows,
      an outcome Flink's min-alignment never produces. The same
      shipment that matched under ``min`` is discarded under ``max``.

    Neither policy is "wrong": min trades latency for completeness,
    max the reverse. The engine defaults to min (Flink parity); the
    heartbeat-row pattern (README.md:540-544) is the completeness-
    preserving way to drain a stall under min.
    """
    import os

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.session import configure_streaming
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import streaming_interval_join

    def write_files(dirpath, batches):
        os.makedirs(dirpath, exist_ok=True)
        base = 1_700_000_000
        for i, rows in enumerate(batches):
            p = os.path.join(dirpath, f"b{i:02d}.json")
            with open(p, "w") as fh:
                for r in rows:
                    fh.write(json.dumps(r) + "\n")
            os.utime(p, (base + i * 10, base + i * 10))

    # Batch cadence matters: stream-stream join state is evicted (and
    # outer null-pads emitted) at the END of the batch whose watermark
    # proves no match can arrive — a late row landing in that same
    # batch still joins against the not-yet-evicted state under either
    # policy. The empty filler batch between heartbeat and late row
    # gives eviction one batch to run, which is where the policies
    # diverge.
    l_dir, r_dir = str(tmp_path / "wmp_l"), str(tmp_path / "wmp_r")
    write_files(l_dir, [
        [{"k": 1, "oid": 1, "ots": "2024-01-01 10:00:00"},   # matches ship 10
         {"k": 2, "oid": 2, "ots": "2024-01-01 10:05:00"}],  # late ship 20 maybe
        [{"k": 99, "oid": 999, "ots": "2024-01-01 12:00:00"}],  # left heartbeat
        [], [],                                              # eviction gap
    ])
    write_files(r_dir, [
        [{"k": 1, "sid": 10, "sts": "2024-01-01 10:02:00"}],
        [], [],                                              # shipments idle
        [{"k": 2, "sid": 20, "sts": "2024-01-01 10:07:00"}],  # arrives "late"
    ])

    def run(policy, name):
        configure_streaming(spark, multiple_watermark_policy=policy)
        from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.streaming import json_file_stream

        joined = streaming_interval_join(
            json_file_stream(spark, l_dir, "k int, oid int, ots timestamp"),
            json_file_stream(spark, r_dir, "k int, sid int, sts timestamp"),
            key="k", left_ts="ots", right_ts="sts",
            lower="1 minute", upper="5 minutes",
            watermark_left="0 seconds", watermark_right="0 seconds",
            how="left_outer",
        ).select("oid", "sid")
        out_dir = str(tmp_path / f"wmp_out_{name}")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / f"wmp_ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sorted(
            (r["oid"], r["sid"])
            for r in spark.read.parquet(out_dir).collect()
            if r["oid"] != 999
        )

    try:
        # min: no premature null-pad; the idle side's row is NOT late
        assert run("min", "min") == [(1, 10), (2, 20)]
        # max: stall drains (null-pad), but the very same row is dropped
        assert run("max", "max") == [(1, 10), (2, None)]
    finally:
        configure_streaming(spark, multiple_watermark_policy="min")


def test_scenario6_killed_query_resumes_exactly_once(spark, tmp_path):
    """Small-scale pytest twin of ``tools/stream_bench.py --restart``
    (the 1M-event run lives in SCALE.md): a live processingTime query
    is stop()-interrupted after a few applied micro-batches — possibly
    mid-epoch — and a FRESH engine instance resumes from the same
    checkpoint with availableNow. Exactly-once: the resumed run's
    output must be row-identical to an uninterrupted baseline."""
    import os
    import time

    n_files = 12
    t0 = "2024-03-01 10:00:00"
    dims = [
        env("clients", "c", id=1, name="ann", event_time=t0),
        env("tables", "c", id=1, name="corner", event_time=t0),
        env("table_assignment", "c", id=1, client_id=1, table_id=1, event_time=t0),
    ] + [
        env("pizzas", "c", id=p, name=f"p{p}", price=4 + p % 5, event_time=t0)
        for p in range(1, 6)
    ]
    order_batches = [
        [
            env("orders", "c", id=b * 10 + j, table_assignment_id=1,
                order_time=f"2024-03-01 10:{b:02d}:{j:02d}",
                pizzas=[j % 5 + 1, (j * 3) % 5 + 1],
                event_time=f"2024-03-01 10:{b:02d}:{j:02d}")
            for j in range(8)
        ]
        for b in range(n_files - 2)
    ]
    heartbeats = [
        env(t, "c", id=999, event_time="2024-03-01 12:00:00")
        for t in ("clients", "tables", "table_assignment", "pizzas", "orders")
    ]
    in_dir = str(tmp_path / "kill_in")
    os.makedirs(in_dir)
    base = 1_700_000_000
    for i, rows in enumerate([dims] + order_batches + [heartbeats]):
        p = os.path.join(in_dir, f"b{i:03d}.json")
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    # baseline: uninterrupted availableNow run
    baseline = scenario6_engine(spark, str(tmp_path / "kill_base"))
    baseline.run_available_now(json_file_stream(spark, in_dir, ENVELOPE_SCHEMA))
    want = sorted(map(tuple, baseline.output().collect()))

    # interrupted run: stop after >=2 applied batches, then resume
    eng_dir = str(tmp_path / "kill_eng")
    first = scenario6_engine(spark, eng_dir)
    q = (
        json_file_stream(spark, in_dir, ENVELOPE_SCHEMA)
        .writeStream.foreachBatch(first.foreach_batch)
        .option("checkpointLocation", os.path.join(eng_dir, "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["batchId"] >= 2:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    resumed = scenario6_engine(spark, eng_dir)  # "new process"
    resumed.run_available_now(json_file_stream(spark, in_dir, ENVELOPE_SCHEMA))
    got = sorted(map(tuple, resumed.output().collect()))
    assert got == want
    assert len(got) == 8 * (n_files - 2)  # every order exactly once
