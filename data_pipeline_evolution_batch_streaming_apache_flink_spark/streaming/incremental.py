"""Incremental multi-dimension temporal enrichment (SURVEY §3.3 —
reference scenario 6, ``flink-applications/06-flink-cdc-temporal-join.json:30``).

The reference statement chains FOUR ``FOR SYSTEM_TIME AS OF`` joins behind
one UNNEST, gated by the watermarks of all five inputs (reference
``README.md:526-534``). A single Structured Streaming query cannot chain
that many stateful as-of operators (each ``applyInPandasWithState`` output
loses its event-time watermark column for downstream stateful ops), so the
idiomatic Spark realization is **incremental view maintenance in
foreachBatch** — the same pattern Delta/Iceberg pipelines use:

- Every micro-batch routes the unified CDC stream into per-table
  append-only parquet logs (state lives in files, partitioned — no driver
  state, no single-machine bound).
- The emission frontier = ``min`` over all inputs of (cumulative max event
  time − delay): exactly Flink's multi-input watermark. A silent input
  stalls the frontier — the reference's idle-source behavior
  (``README.md:526-544``); the same heartbeat mitigation applies. Each
  input's max event time is observed (``DataFrame.observe``) on its log
  write, so routing runs one Spark job per input and no extra action.
  The log writes are independent, so they run concurrently, one driver
  thread each.
- Facts whose event time crosses the frontier since the previous batch are
  enriched with **batch as-of joins against the dim logs** (each dim
  version valid at the fact's event time — all such versions have
  necessarily arrived once the frontier passed) and appended to the output
  upsert log.

Logs, output and ``frontier.json`` follow the exactly-once replay
contract of ``streaming/epochlog.py``.

Per-batch cost: the fact read is O(pending epochs). ``frontier.json``
records the max event time of every fact-log epoch directory that still
holds a row above the emitted frontier, and an emission reads only those
directories; a directory leaves the record once the frontier passes its
max. The dim logs are still read (and sorted by each as-of join) in
full, so dim work stays O(log). Compacting each dim log to the latest
version at-or-below the frontier — the pruning rule of the in-state
streaming operator in ``streaming/__init__.py``, kept replay-safe by the
compaction rule of ``streaming/epochlog.py`` — would bound it.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import epochlog


@dataclass(frozen=True)
class SourceSpec:
    """One input table of the unified CDC stream.

    ``schema`` is the DDL of the decoded rows; ``ts`` the event-time
    column used for watermarking (and as-of versioning for dims).
    """

    name: str
    schema: str
    ts: str


class IncrementalTemporalJoin:
    """foreachBatch engine: route → log → frontier → as-of enrich → emit.

    ``enrich(fact_df, dim_logs) -> DataFrame`` is the statement body —
    typically a chain of ``operators.joins.asof_join`` calls plus
    projection/agg (see ``plans.pizzeria_streaming`` for scenario 6).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        fact: SourceSpec,
        dims: list[SourceSpec],
        enrich: Callable[[DataFrame, dict[str, DataFrame]], DataFrame],
        route: Callable[[DataFrame], dict[str, DataFrame]],
        delay: str = "0 seconds",
    ):
        self.spark = spark
        self.base = base_dir
        self.fact = fact
        self.dims = {d.name: d for d in dims}
        self.enrich = enrich
        self.route = route
        self.delay = delay
        self.meta_path = os.path.join(base_dir, "frontier.json")
        os.makedirs(base_dir, exist_ok=True)

    def _log_path(self, name: str) -> str:
        return os.path.join(self.base, "logs", name)

    # -- the micro-batch body ----------------------------------------------
    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        specs = {self.fact.name: self.fact, **self.dims}
        meta = epochlog.load_meta(
            self.meta_path,
            {"max_ts": {}, "emitted_frontier": None, "last_epoch": None, "pending_facts": {}},
        )
        # replay rules: streaming/epochlog.py. A partly applied epoch
        # rewrites its own log directories before reading them back.
        if epochlog.applied(meta, epoch_id):
            return
        routed = self.route(batch_df)

        # One job per routed table: its log write. The table's max event
        # time rides that write as an observed metric (NULL for a table
        # absent from this batch), so the frontier costs no extra action.
        def write(name: str, rows: DataFrame):
            seen = Observation()
            ts = specs[name].ts
            epochlog.write(
                rows.observe(seen, F.expr(f"max(CAST(`{ts}` AS TIMESTAMP)) AS m")),
                self._log_path(name),
                epoch_id,
            )
            return seen.get["m"]

        # The writes are independent: run them concurrently, one thread
        # per table, so their planning and commit overlap. A plain thread
        # would lose the caller's JVM local properties — the streaming
        # query's job group (which stop() cancels) and any job group a
        # caller counts jobs by — so every target is wrapped on its own
        # (a shared wrapper would share one mutable property set). Leaving
        # the pool waits for every write, and a failed write re-raises
        # here, before anything reaches frontier.json.
        with ThreadPoolExecutor(max_workers=len(routed)) as pool:
            futures = {
                name: pool.submit(inheritable_thread_target(self.spark)(write), name, rows)
                for name, rows in routed.items()
            }
            observed = {name: f.result() for name, f in futures.items()}
        prev_frontier = meta["emitted_frontier"]
        for name, m in observed.items():
            if m is None:
                continue
            cur = m.isoformat(sep=" ")
            prev = meta["max_ts"].get(name)
            if prev is None or cur > prev:
                meta["max_ts"][name] = cur
            # a fact epoch whose rows are all at or below the emitted
            # frontier can never emit, so it is not recorded
            if name == self.fact.name and (prev_frontier is None or cur > prev_frontier):
                meta["pending_facts"][epochlog.epoch_dir(epoch_id)] = cur

        # multi-input watermark: min over every input's cumulative max −
        # delay. Inputs that never produced a row hold the frontier at -inf
        # (reference idle-source stall).
        if len(meta["max_ts"]) < len(specs):
            epochlog.commit(self.meta_path, meta, epoch_id)
            return
        # driver-local arithmetic on a handful of locally-held isoformat
        # strings — the createDataFrame+collect Spark job this replaces
        # paid a full scheduling round-trip per micro-batch (review r7);
        # min-then-subtract is identical to subtract-then-min
        from datetime import datetime, timedelta

        from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.sessions import _parse_gap_ms

        lo = min(meta["max_ts"].values())  # isoformat strings order correctly
        frontier_dt = datetime.fromisoformat(lo) - timedelta(
            milliseconds=_parse_gap_ms(self.delay)
        )
        frontier_s = frontier_dt.isoformat(sep=" ")
        if prev_frontier is not None and frontier_s <= prev_frontier:
            epochlog.commit(self.meta_path, meta, epoch_id)
            return

        # every recorded epoch holds a row above prev_frontier; the filter
        # below still drops its rows at or below it (late arrivals)
        facts = epochlog.read(
            self.spark, self._log_path(self.fact.name), self.fact.schema, sorted(meta["pending_facts"])
        )
        ts = F.col(self.fact.ts).cast("timestamp")
        emittable = facts.filter(ts <= F.lit(frontier_s).cast("timestamp"))
        if prev_frontier is not None:
            emittable = emittable.filter(ts > F.lit(prev_frontier).cast("timestamp"))

        dim_logs = {
            name: epochlog.read(self.spark, self._log_path(name), spec.schema)
            for name, spec in self.dims.items()
        }
        out = self.enrich(emittable, dim_logs)
        epochlog.write(out, os.path.join(self.base, "out"), epoch_id)

        meta["emitted_frontier"] = frontier_s
        meta["pending_facts"] = {
            d: m for d, m in meta["pending_facts"].items() if m > frontier_s
        }
        epochlog.commit(self.meta_path, meta, epoch_id)

    # -- results ------------------------------------------------------------
    def output(self) -> DataFrame:
        """All emitted rows (append log of per-epoch directories). Compact
        downstream with ``operators.changelog.latest_per_key`` for upsert
        semantics."""
        return epochlog.output(self.spark, os.path.join(self.base, "out"))

    def run_available_now(self, stream_df: DataFrame, timeout_s: int = 600) -> None:
        """Drain a bounded stream through the engine (tests/backfills);
        raises on timeout."""
        epochlog.drain(stream_df, self.foreach_batch, os.path.join(self.base, "ckpt"), timeout_s)
