"""Tests of the benchmark's own harness (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics

import pytest

from perfbench import eventlog, gen, layers, metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_percentile_interpolates_between_ranks():
    xs = [10, 1, 9, 2, 8, 3, 7, 4, 6, 5]
    assert metrics.percentile(xs, 50) == 5.5
    assert metrics.percentile(xs, 90) == pytest.approx(9.1)
    assert metrics.percentile(xs, 0) == 1
    assert metrics.percentile(xs, 100) == 10
    assert metrics.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_spread_uses_the_statistics_quartiles():
    xs = [1.0, 2.0, 2.0, 3.0, 4.0, 10.0, 2.5, 3.5, 1.5, 2.2]
    s = metrics.spread(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert (s["q1"], s["q3"], s["n"]) == (q1, q3, 10)
    assert s["median"] == statistics.median(xs)
    assert s["iqr_share"] == pytest.approx((q3 - q1) / statistics.median(xs))


def test_vmhwm_parsing():
    status = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t   123456 kB\nVmRSS:\t  1000 kB\n"
    assert metrics.vmhwm_kb(status) == 123456
    with pytest.raises(ValueError):
        metrics.vmhwm_kb("VmRSS:\t 1000 kB\n")
    assert metrics.peak_rss_mb([os.getpid()]) > 1


def test_epoch_of_engine_paths():
    assert metrics.epoch_of_path("file:///w/engine/out/e0000000012/part-0.parquet") == 12
    assert metrics.epoch_of_path("/w/logs/orders/e0000000000/x.parquet") == 0
    with pytest.raises(ValueError):
        metrics.epoch_of_path("/w/out/part-0.parquet")


def test_latency_runs_from_due_time_to_end_of_emitting_batch():
    emitted = {1: 3, 2: 3, 3: 4}
    epoch_end = {3: 110.0, 4: 117.5}
    due = {1: 100.0, 2: 104.0, 3: 108.0, 4: 112.0}
    assert metrics.order_latencies(emitted, epoch_end, due) == {1: 10.0, 2: 6.0, 3: 9.5}


def test_first_inclusion_needs_every_file_of_a_batch():
    reads = [{"base"}, {"base", "l00000"}, {"base", "l00000", "o00000", "l00001"}]
    needs = {0: {"l00000", "o00000"}, 1: {"l00001", "o00001"}}
    # batch 0 waits for the run that read its orders too; batch 1 is never complete
    assert metrics.first_inclusion(reads, needs) == {0: 2}


def test_emit_ratio_counts_orders_emitted_by_their_consuming_batch():
    consumed = {1: 3, 2: 3, 3: 4, 4: 4}
    emitted = {1: 3, 2: 4, 3: 4}
    assert metrics.emit_ratio(consumed, emitted) == 0.5
    assert metrics.emit_ratio({}, emitted) == 0.0


def test_event_log_totals_per_job_group():
    groups = eventlog.summarize(eventlog.read_events(os.path.join(HERE, "fixtures", "eventlog")))
    build = groups["p0:q1:build"]
    assert {k: build[k] for k in eventlog.COUNTERS} == {
        "jobs": 1, "stages": 2, "tasks": 3, "task_failures": 1,
        "executor_run_ms": 70, "executor_cpu_ms": 45.0, "gc_ms": 3,
        "shuffle_read_bytes": 128, "shuffle_write_bytes": 64, "spill_bytes": 5,
        "input_bytes": 1000, "python_run_ms": 7, "python_bytes_out": 100,
    }
    assert eventlog.union_ms(build["stage_intervals"]) == 100
    assert groups[None]["jobs"] == 1 and groups[None]["tasks"] == 1
    both = eventlog.combine(groups, lambda g: g.startswith("p0:"))
    assert (both["jobs"], both["stages"], both["tasks"]) == (2, 3, 3)
    assert eventlog.union_ms(both["stage_intervals"]) == 120
    spark = layers.spark_layers(both, 400.0, 2)
    assert spark["spark.driver_ms"] == 280
    assert spark["spark.slot_busy_share"] == pytest.approx(70 / 800)


def test_union_of_intervals():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 7), (20, 25), (24, 30)]) == 20


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == layers.PER_LAYER


def test_generators_are_seeded():
    a, b = gen.make_tables(5), gen.make_tables(5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(gen.make_tables(6)["orders"])
    assert [f.lines for f in gen.cdc_files(5, 3, 20)] == [f.lines for f in gen.cdc_files(5, 3, 20)]


def test_arrivals_extend_the_generated_tables_inside_the_etl_window():
    base = gen.make_tables(5)
    batches = gen.arrivals(5, 3, 20)
    keys = [k for b in batches for k in b["orders"].column("o_orderkey").to_pylist()]
    assert keys == list(range(gen.SCALE["orders"], gen.SCALE["orders"] + 60))
    for b in batches:
        assert b["orders"].schema == base["orders"].schema
        assert b["lineitem"].schema == base["lineitem"].schema
        assert set(b["lineitem"].column("l_orderkey").to_pylist()) == set(b["orders"].column("o_orderkey").to_pylist())
        dates = b["orders"].column("o_orderdate").to_pylist()
        assert min(dates) > dt.datetime(1996, 1, 1, 1) and max(dates) <= dt.datetime(2000, 1, 1, 1)
    assert batches[1]["lineitem"].equals(gen.arrivals(5, 3, 20)[1]["lineitem"])


def test_cdc_heartbeats_close_every_slice():
    """Every event of a file is at or before the file's dim heartbeats, and
    before every event of the next file, so one file is emittable as soon
    as it is consumed."""
    files = gen.cdc_files(3, 4, 50)
    bounds = []
    for f in files:
        times = [json.loads(json.loads(line)["data"])["event_time"] for line in f.lines]
        beats = [json.loads(json.loads(line)["data"])["event_time"] for line in f.lines
                 if json.loads(json.loads(line)["data"])["id"] == 0]
        assert len(beats) == len(gen.CDC_DIMS) and len(set(beats)) == 1
        assert max(times) <= beats[0]
        bounds.append((min(times), max(times)))
    assert all(bounds[i][1] < bounds[i + 1][0] for i in range(len(bounds) - 1))
    ids = [o for f in files for o in f.order_ids]
    assert len(ids) == len(set(ids)) == 200
