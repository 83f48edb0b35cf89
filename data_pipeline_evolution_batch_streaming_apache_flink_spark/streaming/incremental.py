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

Per-batch cost: the fact read is O(pending epochs). ``frontier.json``
records the max event time of every fact-log epoch directory that still
holds a row above the emitted frontier, and an emission reads only those
directories; a directory leaves the record once the frontier passes its
max. The dim logs are still read (and sorted by each as-of join) in
full, so dim work stays O(log). Compacting each dim log to the latest
version at-or-below the frontier — the pruning rule of the in-state
streaming operator in ``streaming/__init__.py`` — would bound it.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


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
        os.makedirs(base_dir, exist_ok=True)

    # -- log plumbing -------------------------------------------------------
    # Every write lands in a per-epoch subdirectory with overwrite mode, so
    # a replayed micro-batch (Structured Streaming's at-least-once
    # foreachBatch contract) overwrites its own previous attempt instead of
    # appending duplicates — the logs and the output are exactly-once after
    # any number of retries (ADVICE r1).
    def _log_path(self, name: str) -> str:
        return os.path.join(self.base, "logs", name)

    @staticmethod
    def _epoch_dir(epoch_id: int) -> str:
        return f"e{int(epoch_id):010d}"

    def _write_epoch(self, df: DataFrame, path: str, epoch_id: int) -> None:
        """Overwrite into an epoch-named subdir (idempotent replay)."""
        df.write.mode("overwrite").parquet(os.path.join(path, self._epoch_dir(epoch_id)))

    def _read_log(self, spec: SourceSpec) -> DataFrame:
        path = self._log_path(spec.name)
        if not os.path.isdir(path):
            return self.spark.createDataFrame([], spec.schema)
        return (
            self.spark.read.schema(spec.schema)
            .option("recursiveFileLookup", "true")
            .parquet(path)
        )

    def _read_epochs(self, spec: SourceSpec, epoch_dirs: list[str]) -> DataFrame:
        """The named epoch directories of a log, by explicit paths."""
        if not epoch_dirs:
            return self.spark.createDataFrame([], spec.schema)
        path = self._log_path(spec.name)
        return self.spark.read.schema(spec.schema).parquet(
            *(os.path.join(path, d) for d in epoch_dirs)
        )

    def _meta_path(self) -> str:
        return os.path.join(self.base, "frontier.json")

    def _load_meta(self) -> dict:
        try:
            with open(self._meta_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"max_ts": {}, "emitted_frontier": None, "last_epoch": None, "pending_facts": {}}

    def _save_meta(self, meta: dict) -> None:
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, self._meta_path())

    # -- the micro-batch body ----------------------------------------------
    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        specs = {self.fact.name: self.fact, **self.dims}
        meta = self._load_meta()
        # Fully-applied epochs (meta saved) are skipped outright on replay;
        # a partially-applied epoch (crash before _save_meta) re-runs and
        # its per-epoch overwrites land on the same paths — idempotent
        # either way. Epoch ids are monotonic per checkpoint (Structured
        # Streaming continues numbering across restarts).
        last = meta["last_epoch"]
        if last is not None and int(epoch_id) <= int(last):
            return
        routed = self.route(batch_df)

        # One job per routed table: its log write. The table's max event
        # time rides that write as an observed metric (NULL for a table
        # absent from this batch), so the frontier costs no extra action.
        def write(name: str, rows: DataFrame):
            seen = Observation()
            ts = specs[name].ts
            self._write_epoch(
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
                meta["pending_facts"][self._epoch_dir(epoch_id)] = cur
        meta["last_epoch"] = int(epoch_id)

        # multi-input watermark: min over every input's cumulative max −
        # delay. Inputs that never produced a row hold the frontier at -inf
        # (reference idle-source stall).
        if len(meta["max_ts"]) < len(specs):
            self._save_meta(meta)
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
            self._save_meta(meta)
            return

        # every recorded epoch holds a row above prev_frontier; the filter
        # below still drops its rows at or below it (late arrivals)
        facts = self._read_epochs(self.fact, sorted(meta["pending_facts"]))
        ts = F.col(self.fact.ts).cast("timestamp")
        emittable = facts.filter(ts <= F.lit(frontier_s).cast("timestamp"))
        if prev_frontier is not None:
            emittable = emittable.filter(ts > F.lit(prev_frontier).cast("timestamp"))

        dim_logs = {name: self._read_log(spec) for name, spec in self.dims.items()}
        out = self.enrich(emittable, dim_logs)
        self._write_epoch(out, os.path.join(self.base, "out"), epoch_id)

        meta["emitted_frontier"] = frontier_s
        meta["pending_facts"] = {
            d: m for d, m in meta["pending_facts"].items() if m > frontier_s
        }
        self._save_meta(meta)

    # -- results ------------------------------------------------------------
    def output(self) -> DataFrame:
        """All emitted rows (append log of per-epoch directories). Compact
        downstream with ``operators.changelog.latest_per_key`` for upsert
        semantics."""
        path = os.path.join(self.base, "out")
        if not os.path.isdir(path):
            raise FileNotFoundError("no output emitted yet")
        return self.spark.read.option("recursiveFileLookup", "true").parquet(path)

    def run_available_now(self, stream_df: DataFrame, timeout_s: int = 600) -> None:
        """Drain a bounded stream through the engine (tests/backfills).
        Raises on timeout instead of returning with the query still
        running against a half-written output (review r7)."""
        q = (
            stream_df.writeStream.foreachBatch(self.foreach_batch)
            .option("checkpointLocation", os.path.join(self.base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"incremental engine drain exceeded {timeout_s}s; query "
                "stopped — output is partial, rerun with a larger timeout"
            )
