"""Epoch-log store: the exactly-once state contract of the foreachBatch
engines (``streaming.incremental``, ``streaming.topn``,
``streaming.neardup``) and of ``sinks.ParquetUpsertSink``.

Structured Streaming calls a ``foreachBatch`` body at least once per
epoch: after a failure it calls it again with the same epoch id, and
the earlier attempt may have written some or all of its files. Epoch
ids grow monotonically per checkpoint, across restarts too, so a sink
keyed by epoch id is idempotent (Structured Streaming, SIGMOD 2018):

- Every write of an epoch lands in that epoch's own directory
  ``e<10 digits>`` under its log, in overwrite mode. A replayed epoch
  replaces its earlier attempt instead of appending a second copy, so
  the logs and the output are exactly-once after any number of retries.
- A meta file records the last fully applied epoch. Saving it is the
  epoch's last step and replaces the file atomically; an epoch at or
  below it is skipped before any Spark work (:func:`applied`).
- An epoch replayed after a partial attempt runs again in full, so the
  state it reads back comes from the epochs strictly below it
  (:func:`below`), never from its own earlier writes.
- A log is compacted by writing the compacted image as the compacting
  epoch's own directory, recording that epoch in the meta file as the
  log's first live epoch, and only then deleting the directories below
  it (:func:`drop_below`). Readers start at the recorded epoch, so a
  stop between any two of these steps leaves exactly one image of the
  state in force.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_EPOCH_DIR = re.compile(r"e\d{10}")


def epoch_dir(epoch_id: int) -> str:
    """The directory name of an epoch: ``e`` and ten digits, so that
    names sort in epoch order."""
    return f"e{int(epoch_id):010d}"


def write(df: DataFrame, log: str, epoch_id: int) -> None:
    """Overwrite ``df`` into the epoch's directory of ``log``."""
    df.write.mode("overwrite").parquet(os.path.join(log, epoch_dir(epoch_id)))


def read(spark: SparkSession, log: str, schema: str, epochs: list[str] | None = None) -> DataFrame:
    """``log`` under ``schema``: every epoch, or only the listed epoch
    directories. A missing log or an empty list reads as no rows."""
    if epochs is None:
        if not os.path.isdir(log):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(log)
    if not epochs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*(os.path.join(log, d) for d in epochs))


def below(log: str, epoch_id: int, start: int | None = None) -> list[str]:
    """The epoch directories of ``log`` strictly below ``epoch_id``, from
    ``start`` on when given, in epoch order."""
    if not os.path.isdir(log):
        return []
    lo, hi = epoch_dir(start) if start is not None else "", epoch_dir(epoch_id)
    return sorted(d for d in os.listdir(log) if _EPOCH_DIR.fullmatch(d) and lo <= d < hi)


def drop_below(log: str, epoch_id: int) -> None:
    """Delete the epoch directories of ``log`` below ``epoch_id``. Call it
    only after the meta file that stops reading them has been saved."""
    for d in below(log, epoch_id):
        shutil.rmtree(os.path.join(log, d))


def output(spark: SparkSession, log: str) -> DataFrame:
    """Every row written to ``log``, with the schema its files carry: the
    reader of an engine's results."""
    if not os.path.isdir(log):
        raise FileNotFoundError(f"{log} holds no data: no micro-batch has written to it")
    return spark.read.option("recursiveFileLookup", "true").parquet(log)


def load_meta(path: str, default: dict) -> dict:
    """The meta file at ``path``, or ``default`` before the first epoch
    is applied."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return default


def applied(meta: dict, epoch_id: int) -> bool:
    """Whether ``epoch_id`` was fully applied: its replay is skipped."""
    last = meta.get("last_epoch")
    return last is not None and int(epoch_id) <= int(last)


def commit(path: str, meta: dict, epoch_id: int) -> None:
    """Record ``epoch_id`` as applied: save ``meta`` with it by an atomic
    replace of the file, the epoch's last step."""
    meta["last_epoch"] = int(epoch_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def drain(
    stream_df: DataFrame,
    foreach_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    timeout_s: int = 600,
) -> None:
    """Run a bounded stream through ``foreach_batch`` to its end
    (``availableNow``; tests and backfills). Raises on timeout instead of
    returning with the query still running against a half-written
    output."""
    q = (
        stream_df.writeStream.foreachBatch(foreach_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"foreachBatch drain exceeded {timeout_s}s; query stopped — "
            "output is partial, rerun with a larger timeout"
        )
