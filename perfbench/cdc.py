"""``cdc_scenario6``: the paper's streaming pipeline, the scenario-6
incremental temporal-join engine fed by the file source.

Phases, in one process:

1. set-up: generate the change stream, start the session, and drain a
   ``WARMUP_FILES``-file warm-up stream through a separate engine;
2. snapshot (closed loop): stage ``SNAPSHOT_FILES`` files and drain them
   with ``availableNow``, one file per micro-batch;
3. tail (open loop): restart the query on the same checkpoint with the
   default trigger while a generator thread renames pre-staged files
   into the input directory, file ``i`` due ``i * TAIL_GAP_S`` after the
   phase starts. A tail file is far smaller than the engine's capacity
   per micro-batch, and the gap is longer than one micro-batch.

An order's latency runs from the due time of its file to the end of the
``foreachBatch`` call that wrote its output row.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time

from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.quality import table_digest
from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans.pizzeria_streaming import (
    ENVELOPE_SCHEMA,
    enrich_orders,
    route_envelopes,
    scenario6_engine,
)
from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.streaming import json_file_stream
from perfbench import eventlog, gen, layers, metrics

SNAPSHOT_FILES = 3
SNAPSHOT_ORDERS = 3_000
TAIL_ORDERS = 300
TAIL_GAP_S = 5.0
WARMUP_FILES = 3
WARMUP_ORDERS = 300
DEADLINE_S = 60.0
OUT_COLS = ["order_id", "client_name", "table_name", "pizzas"]


class Batches:
    """Wraps the engine's ``foreach_batch``: records each epoch's phase,
    start and end, and tags its Spark jobs with the job group
    ``<engine>:<phase>:e<epoch>``, so that the engines of one run never
    share a group."""

    def __init__(self, run, engine, name, phase):
        self.run = run
        self.inner = engine.foreach_batch
        self.name = name
        self.phase = phase
        self.epochs: dict[int, dict] = {}

    def group(self, phase, epoch_id):
        return f"{self.name}:{phase}:e{epoch_id}"

    def __call__(self, df, epoch_id):
        start = time.time()
        with self.run.group(self.group(self.phase, epoch_id)):
            self.inner(df, epoch_id)
        self.epochs[int(epoch_id)] = {"phase": self.phase, "start": start, "end": time.time()}


class Progress:
    """StreamingQueryListener keeping the progress of every executed
    micro-batch (traced runs only)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Listener(StreamingQueryListener):
            def onQueryStarted(_, event):
                pass

            def onQueryProgress(_, event):
                p = event.progress
                if "addBatch" in p.durationMs:
                    self.rows.append({"id": str(p.id), "batch": p.batchId, "ms": dict(p.durationMs),
                                      "input_rows": p.numInputRows})

            def onQueryTerminated(_, event):
                pass

        self.rows: list = []
        self.listener = _Listener()


def _stage(files, in_dir, prefix, first_mtime):
    os.makedirs(in_dir, exist_ok=True)
    for i, f in enumerate(files):
        gen.write_cdc_file(f, os.path.join(in_dir, f"{prefix}{i:05d}.json"), first_mtime + i)


def _start(run, engine_dir, in_dir, fb, trigger):
    stream = json_file_stream(run.spark, in_dir, ENVELOPE_SCHEMA, max_files_per_trigger=1)
    w = stream.writeStream.foreachBatch(fb).option("checkpointLocation", os.path.join(engine_dir, "ckpt"))
    return w.trigger(availableNow=True).start() if trigger == "availableNow" else w.start()


def _drain(run, root, files, phase):
    """Build an engine and drain ``files`` with availableNow, tagging its
    micro-batches ``phase``; return (engine, wrapper, query id, build
    seconds, drain seconds)."""
    in_dir = os.path.join(root, "in")
    name = os.path.basename(root)
    _stage(files, in_dir, "s", 1_700_000_000)
    t = time.perf_counter()
    with run.group(f"{name}:build"):
        engine = scenario6_engine(run.spark, os.path.join(root, "engine"))
    built = time.perf_counter()
    fb = Batches(run, engine, name, phase)
    q = _start(run, os.path.join(root, "engine"), in_dir, fb, "availableNow")
    q.awaitTermination(DEADLINE_S * 2)
    done = time.perf_counter()
    if q.isActive:
        q.stop()
        raise TimeoutError("snapshot drain did not finish")
    return engine, fb, str(q.id), built - t, done - built


class Generator(threading.Thread):
    """Open-loop tail generator: renames pre-staged file ``i`` into the
    input directory at ``start + i * TAIL_GAP_S`` however far the engine
    has got, and records how late each rename was and the backlog of
    renamed but unconsumed files."""

    def __init__(self, names, stage_dir, in_dir, fb, start):
        super().__init__(daemon=True)
        self.names, self.stage_dir, self.in_dir, self.fb = names, stage_dir, in_dir, fb
        self.due = [start + i * TAIL_GAP_S for i in range(len(names))]
        self.late: list[float] = []
        self.backlog: list[int] = []

    def run(self):
        for i, name in enumerate(self.names):
            delay = self.due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(self.stage_dir, name), os.path.join(self.in_dir, name))
            self.late.append(time.time() - self.due[i])
            consumed = sum(1 for e in list(self.fb.epochs.values()) if e["phase"] == "tail")
            self.backlog.append(i + 1 - consumed)


def _epochs_of(spark, path, id_col, id_filter=None):
    """order id -> epoch directory, for the parquet files under ``path``."""
    df = spark.read.option("recursiveFileLookup", "true").parquet(path)
    if id_filter is not None:
        df = df.filter(id_filter)
    rows = df.select(id_col, F.input_file_name().alias("f")).collect()
    return {r[0]: metrics.epoch_of_path(r["f"]) for r in rows}


def _log_stats(engine_dir):
    files = glob.glob(os.path.join(engine_dir, "logs", "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def _layers(run, fb, qid, progress, gen_thread, build_s, snap_s, states, emitted, consumed) -> None:
    """Per-layer metrics of the traced run: the ``spark``, ``operators`` and
    ``plans`` counters over the snapshot phase, the streaming and state
    metrics per phase, and the generator's schedule."""
    run.stop_session()
    groups = eventlog.summarize(eventlog.read_events(run.event_log_dir()))
    snap_epochs = [e for e, v in fb.epochs.items() if v["phase"] == "snapshot"]
    fb_ms = {e: (v["end"] - v["start"]) * 1e3 for e, v in fb.epochs.items()}
    totals = eventlog.combine(groups, lambda g: g.startswith(f"{fb.name}:snapshot:"))
    run.layer("plans.build_ms", build_s * 1e3, "ms")
    run.layer("plans.build_jobs", groups.get(f"{fb.name}:build", {}).get("jobs", 0), "count")
    run.layer("sources.read_parquet_ms", 0, "ms")
    run.layer("sources.read_parquet_calls", 0, "count")
    run.layer("operators.action_ms", sum(fb_ms[e] for e in snap_epochs), "ms")
    run.layer("operators.action_jobs", totals["jobs"], "count")
    for name, value in layers.spark_layers(totals, snap_s * 1e3, run.cpus).items():
        run.layer(name, value, layers.unit(name))
    by_batch = {r["batch"]: r for r in progress.rows if r["id"] == qid}
    for phase, state in states.items():
        eps = sorted(e for e, v in fb.epochs.items() if v["phase"] == phase)
        rows = [by_batch[e] for e in eps if e in by_batch] or [{"ms": {}, "input_rows": 0}]
        med = lambda key: statistics.median(r["ms"].get(key, 0) for r in rows)  # noqa: E731
        jobs = [groups.get(fb.group(phase, e), {}).get("jobs", 0) for e in eps] or [0]
        phase_consumed = {o: e for o, e in consumed.items() if e in eps}
        pref = f"{phase}."
        run.layer(pref + "streaming.batches", len(eps), "count")
        run.layer(pref + "streaming.batch_ms_p50", metrics.percentile([r["ms"].get("triggerExecution", 0) for r in rows], 50), "ms")
        run.layer(pref + "streaming.batch_ms_p90", metrics.percentile([r["ms"].get("triggerExecution", 0) for r in rows], 90), "ms")
        run.layer(pref + "streaming.foreach_batch_ms_p50", statistics.median([fb_ms[e] for e in eps] or [0]), "ms")
        run.layer(pref + "streaming.jobs_per_batch", statistics.median(jobs), "count")
        run.layer(pref + "sources.get_batch_ms_p50", med("getBatch"), "ms")
        run.layer(pref + "streaming.commit_ms_p50", med("walCommit") + med("commitOffsets"), "ms")
        run.layer(pref + "streaming.query_planning_ms_p50", med("queryPlanning"), "ms")
        run.layer(pref + "streaming.input_rows_per_batch", statistics.median(r["input_rows"] for r in rows), "count")
        run.layer(pref + "streaming.emit_ratio", metrics.emit_ratio(phase_consumed, emitted), "ratio")
        run.layer(pref + "state.log_files", state[0], "count")
        run.layer(pref + "state.log_bytes", state[1], "bytes")
        run.layer(pref + "streaming.out_rows", sum(1 for e in emitted.values() if e in eps), "count")
    run.layer("gen.late_ms_p99", metrics.percentile(gen_thread.late, 99) * 1e3, "ms")
    run.layer("gen.backlog_files_max", max(gen_thread.backlog), "count")
    run.breakdown = {
        "epochs": {e: {**v, "foreach_batch_ms": fb_ms[e],
                       "jobs": groups.get(fb.group(v["phase"], e), {}).get("jobs", 0),
                       "progress": by_batch.get(e)} for e, v in fb.epochs.items()},
    }


def _baselines(run, root, snap, snap_s) -> None:
    """Drain the snapshot again on fresh contexts in the same JVM:
    untraced, then on one core."""
    run.start_session(event_log=False)
    untraced = _drain(run, os.path.join(root, "untraced"), snap, "snapshot")[4]
    run.stop_session()
    run.start_session(cpus=1, event_log=False)
    single = _drain(run, os.path.join(root, "single"), snap, "snapshot")[4]
    run.layer("session.speedup_1_to_n", single / untraced, "ratio")
    run.layer("trace.overhead_share", snap_s / untraced - 1.0, "ratio")


def run(run) -> None:
    root = run.work
    warm = gen.cdc_files(run.seed + 7_919, WARMUP_FILES, WARMUP_ORDERS)
    snap = gen.cdc_files(run.seed, SNAPSHOT_FILES, SNAPSHOT_ORDERS)
    n_tail = max(3, int(round((run.seconds / 2) / TAIL_GAP_S)))
    tail = gen.cdc_files(run.seed, n_tail, TAIL_ORDERS, first_slice=SNAPSHOT_FILES,
                         first_order_id=SNAPSHOT_FILES * SNAPSHOT_ORDERS + 1)
    stage_dir = os.path.join(root, "stage")
    _stage(tail, stage_dir, "t", 1_700_001_000)
    run.start_session()
    progress = None
    if run.trace:
        progress = Progress()
        run.spark.streams.addListener(progress.listener)
    _drain(run, os.path.join(root, "warm"), warm, "warmup")

    setup_s = time.time() - run.t0
    engine, fb, qid, build_s, snap_s = _drain(run, os.path.join(root, "main"), snap, "snapshot")
    snap_state = _log_stats(os.path.join(root, "main", "engine"))

    # tail: the query is running (and idle) before the first file is due
    fb.phase = "tail"
    in_dir = os.path.join(root, "main", "in")
    q = _start(run, os.path.join(root, "main", "engine"), in_dir, fb, "default")
    gen_thread = Generator(sorted(os.listdir(stage_dir)), stage_dir, in_dir, fb, time.time() + 1.0)
    gen_thread.start()
    gen_thread.join()
    q.processAllAvailable()
    q.stop()
    tail_state = _log_stats(os.path.join(root, "main", "engine"))

    # correctness, outside every timed figure
    spark = run.spark
    emitted = _epochs_of(spark, os.path.join(root, "main", "engine", "out"), "order_id")
    consumed = _epochs_of(spark, os.path.join(root, "main", "engine", "logs", "orders"), "id",
                          F.col("op") == "c")
    out = engine.output()
    raw = spark.read.schema(ENVELOPE_SCHEMA).json(in_dir)
    ref_tables = route_envelopes(raw)
    ref = enrich_orders(ref_tables.pop("orders"), ref_tables)
    digest_ok = table_digest(out, OUT_COLS).collect() == table_digest(ref, OUT_COLS).collect()
    n_out = out.count()
    expected = [o for f in snap + tail for o in f.order_ids]
    due = {o: gen_thread.due[i] for i, f in enumerate(tail) for o in f.order_ids}
    lat = metrics.order_latencies(emitted, {e: v["end"] for e, v in fb.epochs.items()}, due)
    for o in expected:
        ok = digest_ok and o in emitted and (o not in due or (o in lat and lat[o] <= DEADLINE_S))
        run.record(ok)
    if n_out != len(expected):
        print(f"cdc: {n_out} output rows for {len(expected)} orders")
        run.record(False)
    if not digest_ok:
        print("cdc: output digest differs from batch enrich_orders over the same input")

    durations = [v["end"] - v["start"] for v in fb.epochs.values()]
    snap_events = sum(f.events for f in snap)
    lat_s = list(lat.values()) or [DEADLINE_S]
    run.e2e_metric("setup_s", setup_s, "s")
    run.e2e_metric("peak_rss_mb", run.peak_rss_mb(), "MiB")
    run.e2e_metric("pass_s", snap_s, "s")
    run.e2e_metric("query_p50_s", metrics.percentile(durations, 50), "s")
    run.e2e_metric("query_p90_s", metrics.percentile(durations, 90), "s")
    run.e2e_metric("snapshot_events_per_s", snap_events / snap_s, "1/s")
    run.e2e_metric("tail_latency_p50_s", metrics.percentile(lat_s, 50), "s")
    run.e2e_metric("tail_latency_p90_s", metrics.percentile(lat_s, 90), "s")
    if run.trace:
        _layers(run, fb, qid, progress, gen_thread, build_s, snap_s,
                {"snapshot": snap_state, "tail": tail_state}, emitted, consumed)
        _baselines(run, root, snap, snap_s)
