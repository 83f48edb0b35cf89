"""``pizzeria_batch``: the paper's batch pipeline as the 23 SURVEY §2
canonical suite queries over a seeded sf0.01-sized star schema.

Phases, in one process:

1. set-up: generate the tables, start the session, and run every query
   once, cold, collecting its rows and comparing their hash with the
   query's DuckDB twin (the correctness gate and the warm-up pass); stage
   the order feed and run the ETL ``WARM_ETL_RUNS`` times over its
   initial input;
2. snapshot (closed loop, one client): full passes in a seeded order,
   each query written to the noop sink, for about half of ``--seconds``;
3. tail: the batch ETL of scenario 1 (``enriched_orders``) run back to
   back, as an hourly batch job would be if it ran as often as it can,
   over an orders feed that grows while it runs. A feed thread moves a
   pre-staged batch of ``ARRIVAL_ORDERS`` new orders (line items first,
   then orders) into the ETL's input tables every ``ARRIVAL_STEP_S``
   (open loop). Each run reads the files present when it lists its
   inputs; an order's latency runs from its batch's due time to the end
   of the first run that read both of its files.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

import __spark_entry__
from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans import suite
from perfbench import eventlog, gen, layers, metrics
from tools.check_oracle import table_hash

# SURVEY §2-canonical queries: the first 24 entries of PINNED, minus
# array_membership_join, whose scale path is unnest_join.
QUERIES = [q for q in __spark_entry__.PINNED[:24] if q != "array_membership_join"]
# The tail phase: the scenario-1 batch ETL (enriched orders) run back to
# back while new orders arrive for ``TAIL_SHARE`` of ``--seconds``.
ETL_QUERY = "enriched_orders"
ETL_TABLES = ("lineitem", "part", "orders", "customer")
ARRIVAL_STEP_S = 0.25
ARRIVAL_ORDERS = 20
TAIL_SHARE = 0.4
WARM_ETL_RUNS = 2  # untimed runs over the initial input, in set-up


class SourceCounter:
    """Wraps ``sources.batch.read_parquet`` as the suite calls it: counts
    calls and the rows of the tables read, and times the calls."""

    def __init__(self, rows: dict):
        self.rows = rows
        self.calls = 0
        self.rows_read = 0
        self.seconds = 0.0
        self.inner = suite.read_parquet

    def __call__(self, spark, path):
        t = time.perf_counter()
        try:
            return self.inner(spark, path)
        finally:
            self.seconds += time.perf_counter() - t
            self.calls += 1
            self.rows_read += self.rows[os.path.basename(path).removesuffix(".parquet")]


def _check(run, data: str, duck, oracles: dict) -> None:
    """Collect every query once and compare its hash with its DuckDB twin.
    Queries run concurrently, one per core: this is the cold pass, and
    most of its time is single-threaded code generation."""
    def one(q):
        try:
            with run.group(f"check:{q}"):
                df = suite.QUERIES[q](run.spark, data)
                got = table_hash(df.columns, [tuple(r) for r in df.collect()])
            rel = duck.cursor().sql(oracles[q])
            return got == table_hash(list(rel.columns), rel.fetchall())
        except Exception as e:  # a failing query is a failed operation, not a crash
            print(f"check {q}: {type(e).__name__}: {e}")
            return False

    with ThreadPoolExecutor(max_workers=run.cpus) as pool:
        for q, ok in zip(QUERIES, pool.map(one, QUERIES)):
            if not ok:
                print(f"check {q}: MISMATCH")
            run.record(ok)


def _execute(run, q: str, data: str, label: str) -> tuple[float, float]:
    """Build and write one query; return (build seconds, total seconds)."""
    t = time.perf_counter()
    with run.group(f"{label}:build"):
        df = suite.QUERIES[q](run.spark, data)
    built = time.perf_counter()
    with run.group(f"{label}:action"):
        df.write.format("noop").mode("overwrite").save()
    return built - t, time.perf_counter() - t


def _pass(run, order, data, label, src) -> dict:
    """One closed-loop pass; per query: seconds, build seconds, rows read,
    read_parquet seconds and calls."""
    per = {}
    for q in order:
        calls, rows, secs = src.calls, src.rows_read, src.seconds
        try:
            build, total = _execute(run, q, data, f"{label}:{q}")
            ok = True
        except Exception as e:
            print(f"{label} {q}: {type(e).__name__}: {e}")
            build = total = 0.0
            ok = False
        run.record(ok)
        per[q] = {"s": total, "build_s": build, "rows": src.rows_read - rows,
                  "read_s": src.seconds - secs, "reads": src.calls - calls, "ok": ok}
    return per


def _arrival_file(table: str, i: int) -> str:
    return f"{table[0]}{i:05d}.parquet"


def _stage_feed(run, data: str) -> tuple[str, str, list[list[int]]]:
    """Lay out the ETL's input tables (``orders`` and ``lineitem`` as
    directories holding the generated table, the others linked) and
    pre-stage the arriving batches; return the input directory, the
    staging directory and each batch's order ids."""
    etl, stage = os.path.join(run.work, "etl"), os.path.join(run.work, "feed")
    os.makedirs(stage)
    for t in ETL_TABLES:
        if t in ("orders", "lineitem"):
            os.makedirs(os.path.join(etl, f"{t}.parquet"))
            os.link(os.path.join(data, f"{t}.parquet"), os.path.join(etl, f"{t}.parquet", "base.parquet"))
        else:
            os.link(os.path.join(data, f"{t}.parquet"), os.path.join(etl, f"{t}.parquet"))
    n = max(4, round(TAIL_SHARE * run.seconds / ARRIVAL_STEP_S))
    ids = []
    for i, tables in enumerate(gen.arrivals(run.seed, n, ARRIVAL_ORDERS)):
        for t, table in tables.items():
            pq.write_table(table, os.path.join(stage, _arrival_file(t, i)))
        ids.append(tables["orders"].column("o_orderkey").to_pylist())
    return etl, stage, ids


class Feed(threading.Thread):
    """Open-loop order feed: moves batch ``i`` (its line items, then its
    orders) into the ETL's input tables at ``start + i * ARRIVAL_STEP_S``,
    whatever the ETL is doing."""

    def __init__(self, n, stage, etl, start):
        super().__init__(daemon=True)
        self.stage, self.etl = stage, etl
        self.due = [start + i * ARRIVAL_STEP_S for i in range(n)]

    def run(self):
        for i, due in enumerate(self.due):
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            for t in ("lineitem", "orders"):
                name = _arrival_file(t, i)
                os.rename(os.path.join(self.stage, name), os.path.join(self.etl, f"{t}.parquet", name))


def _etl(run, etl) -> tuple[float, float, set]:
    """One ETL run; return its duration, end time and the names of the
    files it read."""
    t = time.perf_counter()
    df = suite.QUERIES[ETL_QUERY](run.spark, etl)
    df.write.format("noop").mode("overwrite").save()
    end = time.time()
    return time.perf_counter() - t, end, {os.path.basename(f) for f in df.inputFiles()}


def _ingest(run, etl, stage, ids) -> tuple[list, dict]:
    """Run the ETL back to back while the feed runs, and once more after
    its last batch; return the runs' durations and each order's latency."""
    feed = Feed(len(ids), stage, etl, time.time() + ARRIVAL_STEP_S)
    feed.start()
    durations, ends, reads = [], [], []
    while True:
        last = not feed.is_alive()  # every batch is in before this run lists its inputs
        try:
            seconds, end, read = _etl(run, etl)
            durations.append(seconds)
            ends.append(end)
            reads.append(read)
            run.record(True)
        except Exception as e:
            print(f"etl run {len(ends)}: {type(e).__name__}: {e}")
            run.record(False)
        if last:
            break
    first = metrics.first_inclusion(
        reads, {i: {_arrival_file(t, i) for t in ("lineitem", "orders")} for i in range(len(ids))})
    emitted = {o: first[i] for i, batch in enumerate(ids) if i in first for o in batch}
    due = {o: feed.due[i] for i, batch in enumerate(ids) for o in batch}
    return durations, metrics.order_latencies(emitted, dict(enumerate(ends)), due)


def _check_feed(run, etl, ids, lat, oracle_sql) -> None:
    """The ETL over the final input equals its DuckDB twin, and every
    arrived order reached its output, in a run that read it."""
    duck = duckdb.connect()
    for t in ETL_TABLES:
        src = f"{etl}/{t}.parquet" + ("/*.parquet" if t in ("orders", "lineitem") else "")
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    df = suite.QUERIES[ETL_QUERY](run.spark, etl)
    rows = [tuple(r) for r in df.collect()]
    rel = duck.sql(oracle_sql)
    match = table_hash(df.columns, rows) == table_hash(list(rel.columns), rel.fetchall())
    if not match:
        print(f"etl: {ETL_QUERY} over the fed input differs from its DuckDB twin")
    out = {r[df.columns.index("order_id")] for r in rows}
    for o in (o for batch in ids for o in batch):
        run.record(match and o in out and o in lat)


def _layers(run, passes: list, walls: list) -> None:
    """Per-layer metrics of the traced snapshot passes, as medians over
    passes of per-pass totals."""
    run.stop_session()
    groups = eventlog.summarize(eventlog.read_events(run.event_log_dir()))
    per_pass = []
    for k, (per, wall) in enumerate(zip(passes, walls)):
        build = eventlog.combine(groups, lambda g, k=k: g.startswith(f"p{k}:") and g.endswith(":build"))
        action = eventlog.combine(groups, lambda g, k=k: g.startswith(f"p{k}:") and g.endswith(":action"))
        both = eventlog.combine(groups, lambda g, k=k: g.startswith(f"p{k}:"))
        per_pass.append({
            "plans.build_ms": sum(v["build_s"] for v in per.values()) * 1e3,
            "plans.build_jobs": build["jobs"],
            "sources.read_parquet_ms": sum(v["read_s"] for v in per.values()) * 1e3,
            "sources.read_parquet_calls": sum(v["reads"] for v in per.values()),
            "operators.action_ms": sum(v["s"] - v["build_s"] for v in per.values()) * 1e3,
            "operators.action_jobs": action["jobs"],
            **layers.spark_layers(both, wall * 1e3, run.cpus),
        })
    for name in per_pass[0]:
        run.layer(name, statistics.median(p[name] for p in per_pass), layers.unit(name))
    layers.streaming_absent(run)
    run.layer("gen.late_ms_p99", 0, "ms")
    run.layer("gen.backlog_files_max", 0, "count")
    zero = dict.fromkeys(eventlog.COUNTERS, 0)
    run.breakdown = {
        f"p{k}": {q: {**v, **{ph: {c: groups.get(f"p{k}:{q}:{ph}", zero)[c] for c in eventlog.COUNTERS}
                              for ph in ("build", "action")}}
                  for q, v in per.items()}
        for k, per in enumerate(passes)
    }


def _baselines(run, order, data, src, traced_pass_s: float) -> None:
    """Untraced pass at all cores, then one at a single core, each on a
    fresh context in the same (warm) JVM."""
    run.start_session(event_log=False)
    untraced = sum(v["s"] for v in _pass(run, order, data, "untraced", src).values())
    run.stop_session()
    run.start_session(cpus=1, event_log=False)
    single = sum(v["s"] for v in _pass(run, order, data, "single", src).values())
    run.layer("session.speedup_1_to_n", single / untraced, "ratio")
    run.layer("trace.overhead_share", traced_pass_s / untraced - 1.0, "ratio")


def run(run) -> None:
    data = os.path.join(run.work, "data")
    rows = gen.write_tables(run.seed, data)
    src = SourceCounter(rows)
    suite.read_parquet = src
    rng = random.Random(run.seed)
    run.start_session()
    duck = duckdb.connect()
    for t in rows:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = __spark_entry__.oracle_sql()
    _check(run, data, duck, oracles)
    etl, stage, ids = _stage_feed(run, data)
    for _ in range(WARM_ETL_RUNS):
        _etl(run, etl)

    setup_s = time.time() - run.t0
    t_start = time.perf_counter()
    passes, walls = [], []
    # whole passes for about half the run, then the tail phase
    while not passes or time.perf_counter() - t_start + walls[-1] < run.seconds / 2:
        order = rng.sample(QUERIES, len(QUERIES))
        t = time.perf_counter()
        passes.append(_pass(run, order, data, f"p{len(passes)}", src))
        walls.append(time.perf_counter() - t)
    if run.trace:  # the traced run reports layers only, and its baselines take the time
        _layers(run, passes, walls)
        _baselines(run, rng.sample(QUERIES, len(QUERIES)), data, src, statistics.median(walls))
        return
    etl_s, lat = _ingest(run, etl, stage, ids)
    _check_feed(run, etl, ids, lat, oracles[ETL_QUERY])

    execs = [v for per in passes for v in per.values() if v["ok"]]
    every = [v["s"] for v in execs] + etl_s
    tail = list(lat.values()) or [float(run.seconds)]  # no order arrived: every one failed
    run.e2e_metric("setup_s", setup_s, "s")
    run.e2e_metric("peak_rss_mb", run.peak_rss_mb(), "MiB")
    run.e2e_metric("pass_s", statistics.median(walls), "s")
    run.e2e_metric("query_p50_s", metrics.percentile(every, 50), "s")
    run.e2e_metric("query_p90_s", metrics.percentile(every, 90), "s")
    run.e2e_metric("snapshot_events_per_s",
                   sum(v["rows"] for v in execs) / sum(v["s"] for v in execs), "1/s")
    run.e2e_metric("tail_latency_p50_s", metrics.percentile(tail, 50), "s")
    run.e2e_metric("tail_latency_p90_s", metrics.percentile(tail, 90), "s")
