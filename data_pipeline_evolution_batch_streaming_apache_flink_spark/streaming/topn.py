"""Continuous Top-N over an upsert stream (Flink's updating Top-N query).

Flink SQL's signature continuous query::

    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC) AS rnk
      FROM updating_table) WHERE rnk <= N

maintains, per group, the N best CURRENT rows of a keyed changelog —
emitting updates and retractions as upserts/deletes/score-changes move
rows in and out of the top set. Spark Structured Streaming has no
update-mode rank operator, so the idiomatic realization (as with
scenario 6, see ``streaming/incremental.py``) is **incremental view
maintenance in foreachBatch**:

- State is the compacted "updating table": latest row per key, held in a
  partitioned parquet log (no driver state, no single-machine bound).
- Each micro-batch recomputes the Top-N of *touched groups only* —
  groups receiving rows this batch, plus groups a key moved OUT of
  (group reassignment) or was deleted from. Per-batch work is
  O(rows of touched groups), never O(state).
- The output is a (group, rank)-keyed changelog: ``U`` rows where a rank
  position's occupant changed, ``D`` tombstones where a group's top set
  shrank — exactly the wire shape Flink's Top-N emits to an upsert sink
  ("output with rank number" mode).

State, output and ``meta.json`` follow the exactly-once replay contract
of ``streaming/epochlog.py``: prior state comes from the epochs below
the running one. Every ``compact_every`` epochs the epoch's state
directory holds the compacted image (one row per live key) in place of
the batch, and replaces the directories below it, which bounds the log.

Reference behavior: Flink Top-N docs (public); the reference tutorial's
"most recent orders per table" pattern (scenario 2's view projection +
rank) is the batch twin — suite query ``window_rank``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.changelog import latest_per_key
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import epochlog


class StreamingTopN:
    """foreachBatch engine: upsert-compact → touched groups → re-rank → diff.

    Parameters
    ----------
    key_cols : unique key of the updating table (upsert identity).
    group_col : the PARTITION BY column.
    order_by : rank order — list of Columns/names; MUST be a total order
        within a group (include a key column as tiebreak) or ranks are
        nondeterministic.
    version_col : intra-key event order (ts / LSN / offset): highest wins
        within and across batches.
    op_col : optional changelog op column; values in ``delete_ops`` remove
        the key.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        schema: str,
        *,
        key_cols: list[str],
        group_col: str,
        order_by: list[str | Column],
        version_col: str,
        n: int,
        op_col: str | None = None,
        delete_ops: tuple[str, ...] = ("d", "delete", "D"),
        compact_every: int = 8,
    ):
        self.spark = spark
        self.base = base_dir
        self.schema = schema
        self.keys = list(key_cols)
        self.group = group_col
        self.order_by = list(order_by)
        self.version = version_col
        self.n = n
        self.op_col = op_col
        self.delete_ops = delete_ops
        self.compact_every = compact_every
        self.state_path = os.path.join(base_dir, "logs", "state")
        self.out_path = os.path.join(base_dir, "out")
        self.meta_path = os.path.join(base_dir, "meta.json")
        os.makedirs(base_dir, exist_ok=True)

    def _compact(self, raw: DataFrame) -> DataFrame:
        """Latest live row per key (tombstones applied). EVENT order (the
        caller's version column) governs; the processing epoch only breaks
        ties — micro-batch boundaries are an artifact of delivery and must
        never override a CDC version/LSN that arrived out of order."""
        return latest_per_key(
            raw,
            self.keys,
            [self.version, "__epoch"],
            op_col=self.op_col,
            delete_ops=self.delete_ops,
        )

    # -- rank helpers -------------------------------------------------------
    def _order_cols(self) -> list[Column]:
        return [F.col(c) if isinstance(c, str) else c for c in self.order_by]

    def _topn(self, snapshot: DataFrame) -> DataFrame:
        w = Window.partitionBy(self.group).orderBy(*self._order_cols())
        return (
            snapshot.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= self.n)
        )

    # -- the micro-batch body ------------------------------------------------
    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        meta = epochlog.load_meta(self.meta_path, {"last_epoch": None})
        if epochlog.applied(meta, epoch_id):
            return

        batch = latest_per_key(
            batch_df, self.keys, [self.version], op_col=None  # keep deletes as rows
        ).withColumn("__epoch", F.lit(int(epoch_id)).cast("long"))
        batch = batch.localCheckpoint(eager=True)  # consumed 4× below

        # the state before this epoch: from the last compacted image up to,
        # not including, this epoch (a replay must not read its own writes)
        prior_raw = epochlog.read(
            self.spark,
            self.state_path,
            self.schema + ", __epoch long",
            epochlog.below(self.state_path, epoch_id, meta.get("state_from")),
        )
        prior = self._compact(prior_raw).localCheckpoint(eager=True)

        # touched groups: where batch rows land now + where their keys lived
        batch_keys = batch.select(*self.keys).distinct()
        moved_from = prior.join(batch_keys, self.keys, "left_semi").select(self.group)
        touched = (
            batch.select(self.group).union(moved_from).distinct().localCheckpoint(eager=True)
        )

        new_snapshot = self._compact(prior_raw.unionByName(batch))
        new_top = self._topn(new_snapshot.join(touched, self.group, "left_semi"))
        old_top = self._topn(prior.join(touched, self.group, "left_semi"))

        payload = [c for c in new_top.columns if c not in (self.group, "rnk")]
        n_s = new_top.select(
            self.group, "rnk", F.struct(*payload).alias("__new")
        )
        o_s = old_top.select(self.group, "rnk", F.struct(*payload).alias("__old"))
        diff = n_s.join(o_s, [self.group, "rnk"], "full_outer")
        upserts = (
            diff.filter(F.col("__new").isNotNull() & ~F.col("__new").eqNullSafe(F.col("__old")))
            .select(self.group, "rnk", F.col("__new.*"))
            .withColumn("__op", F.lit("U"))
        )
        deletes = (
            diff.filter(F.col("__new").isNull())
            .select(self.group, "rnk", F.col("__old.*"))
            .withColumn("__op", F.lit("D"))
        )
        out = upserts.unionByName(deletes).withColumn(
            "__out_epoch", F.lit(int(epoch_id)).cast("long")
        )
        epochlog.write(out, self.out_path, epoch_id)

        compacting = self.compact_every and int(epoch_id) % self.compact_every == self.compact_every - 1
        epochlog.write(new_snapshot if compacting else batch, self.state_path, epoch_id)
        if compacting:
            meta["state_from"] = int(epoch_id)
        epochlog.commit(self.meta_path, meta, epoch_id)
        if compacting:  # only once meta.json reads from the new image
            epochlog.drop_below(self.state_path, epoch_id)

    # -- results --------------------------------------------------------------
    def changelog(self) -> DataFrame:
        """Raw emitted changelog (every epoch's U/D rows)."""
        return epochlog.output(self.spark, self.out_path)

    def current_topn(self) -> DataFrame:
        """Compacted view: the live Top-N (latest record per (group, rank),
        tombstones applied) — what an upsert sink's table would hold."""
        return latest_per_key(
            self.changelog(),
            [self.group, "rnk"],
            ["__out_epoch"],
            op_col="__op",
            delete_ops=("D",),
        ).drop("__out_epoch")

    def run_available_now(self, stream_df: DataFrame) -> None:
        """Drain a bounded stream through the engine (tests/backfills);
        raises on timeout."""
        epochlog.drain(stream_df, self.foreach_batch, os.path.join(self.base, "ckpt"))
