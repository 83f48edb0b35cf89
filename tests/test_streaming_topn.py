"""Continuous Top-N (streaming/topn.py) — batch parity + changelog discipline.

The maintained (group, rank) table after draining a replayed upsert
stream must equal the definitional batch query (ROW_NUMBER over the
compacted changelog), through upserts that demote rows, deletes that
promote rows, and a key that moves between groups.
"""

import json
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.changelog import latest_per_key
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming.topn import StreamingTopN

SCHEMA = "k int, grp string, score int, ver int, op string"

BATCHES = [
    # epoch 0: two groups fill up
    [
        {"k": 1, "grp": "a", "score": 50, "ver": 1, "op": "u"},
        {"k": 2, "grp": "a", "score": 40, "ver": 1, "op": "u"},
        {"k": 3, "grp": "a", "score": 30, "ver": 1, "op": "u"},
        {"k": 4, "grp": "b", "score": 90, "ver": 1, "op": "u"},
        {"k": 5, "grp": "b", "score": 10, "ver": 1, "op": "u"},
    ],
    # epoch 1: k=3 overtakes everyone in a; k=5 deleted (b shrinks);
    # intra-batch double-update of k=6 (later ver wins)
    [
        {"k": 3, "grp": "a", "score": 99, "ver": 2, "op": "u"},
        {"k": 5, "grp": "b", "score": 10, "ver": 2, "op": "d"},
        {"k": 6, "grp": "b", "score": 55, "ver": 2, "op": "u"},
        {"k": 6, "grp": "b", "score": 65, "ver": 3, "op": "u"},
    ],
    # epoch 2: k=1 MOVES from group a to group b (must retract from a)
    [
        {"k": 1, "grp": "b", "score": 70, "ver": 4, "op": "u"},
    ],
]


def _write_batches(path, batches):
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(batches):
        f = os.path.join(path, f"b{i}.json")
        with open(f, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        # the file source orders by modification time; force distinct,
        # increasing mtimes so maxFilesPerTrigger=1 replays in batch order
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _engine(spark, tmp_path, n=2, compact_every=2, name="topn"):
    return StreamingTopN(
        spark,
        str(tmp_path / name),
        SCHEMA,
        key_cols=["k"],
        group_col="grp",
        order_by=[F.col("score").desc(), F.col("k")],
        version_col="ver",
        n=n,
        op_col="op",
        compact_every=compact_every,
    )


def _batch_reference(spark, n=2):
    all_rows = [r for b in BATCHES for r in b]
    df = spark.createDataFrame([tuple(r.values()) for r in all_rows], SCHEMA)
    snap = latest_per_key(df, "k", ["ver"], op_col="op")
    w = Window.partitionBy("grp").orderBy(F.col("score").desc(), F.col("k"))
    top = snap.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= n)
    return {(r["grp"], r["rnk"]): (r["k"], r["score"]) for r in top.collect()}


def test_streaming_topn_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(src, BATCHES)
    eng = _engine(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    eng.run_available_now(stream)

    got = {
        (r["grp"], r["rnk"]): (r["k"], r["score"]) for r in eng.current_topn().collect()
    }
    assert got == _batch_reference(spark)
    # spot-check the journey: a's winner is k=3 (99), k=1 left a for b
    assert got[("a", 1)] == (3, 99)
    assert got[("b", 1)] == (4, 90)
    assert got[("b", 2)] == (1, 70)
    assert ("a", 3) not in got  # only 2 rows left in a after the move


def test_streaming_topn_changelog_discipline(spark, tmp_path):
    """Untouched groups emit nothing; vanished ranks emit D tombstones."""
    src = str(tmp_path / "src")
    _write_batches(src, BATCHES)
    eng = _engine(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    eng.run_available_now(stream)
    log = eng.changelog()

    # epoch 1 touches a (k=3 upsert) and b (delete + k=6); epoch 2 touches
    # both ONLY because k=1 moved a->b. Epoch 0 must not re-emit in 1/2:
    # rank occupants that didn't change stay silent.
    e1 = {(r["grp"], r["rnk"], r["__op"]) for r in log.filter("__out_epoch = 1").collect()}
    assert ("b", 1, "U") not in e1  # k=4 stayed champion of b — no re-emit
    # epoch 2: k=1 leaves a 2-deep group that had 2 live rows -> rank 2 of a
    # is retracted (k=2 moved up to rank 2? no: a had 3,1,2 -> after move 3,2)
    e2 = {(r["grp"], r["rnk"], r["__op"]) for r in log.filter("__out_epoch = 2").collect()}
    assert ("a", 2, "U") in e2  # k=2 promoted into rank 2
    assert ("b", 2, "U") in e2  # k=1 lands at rank 2 of b


def _stop_before_meta_save(eng, df, epoch_id):
    """Run an epoch whose writes all land but whose meta save fails: a
    directory squats on the meta file's temporary name, as if the
    process stopped right before the atomic replace."""
    blocker = os.path.join(eng.base, "meta.json.tmp")
    os.makedirs(blocker)
    with pytest.raises(OSError):
        eng.foreach_batch(df, epoch_id)
    os.rmdir(blocker)


def _changes(eng, epoch_id):
    log = eng.changelog().filter(f"__out_epoch = {epoch_id}")
    return {(r["grp"], r["rnk"], r["__op"]) for r in log.collect()}


def test_streaming_topn_replayed_epoch_is_skipped(spark, tmp_path):
    """Re-running an applied epoch is a no-op, and re-running a partly
    applied one (state written, meta not saved) reads only the state of
    the epochs before it (exactly-once contract)."""
    dfs = [spark.createDataFrame([tuple(r.values()) for r in b], SCHEMA) for b in BATCHES]
    eng = _engine(spark, tmp_path)
    eng.foreach_batch(dfs[0], 0)
    first = sorted(map(tuple, eng.changelog().collect()))
    eng.foreach_batch(dfs[0], 0)  # replay
    assert sorted(map(tuple, eng.changelog().collect())) == first

    # epoch 1 compacts the state log (compact_every=2)
    _stop_before_meta_save(eng, dfs[1], 1)
    eng.foreach_batch(dfs[1], 1)
    assert _changes(eng, 1) == {("a", 1, "U"), ("a", 2, "U"), ("b", 2, "U")}
    got = {(r["grp"], r["rnk"]): (r["k"], r["score"]) for r in eng.current_topn().collect()}
    assert got == {("a", 1): (3, 99), ("a", 2): (1, 50), ("b", 1): (4, 90), ("b", 2): (6, 65)}

    eng = _engine(spark, tmp_path, compact_every=0, name="topn_c0")
    eng.foreach_batch(dfs[0], 0)
    eng.foreach_batch(dfs[1], 1)
    _stop_before_meta_save(eng, dfs[2], 2)
    eng.foreach_batch(dfs[2], 2)
    assert _changes(eng, 2) == {("a", 2, "U"), ("b", 2, "U")}
    got = {(r["grp"], r["rnk"]): (r["k"], r["score"]) for r in eng.current_topn().collect()}
    assert got == _batch_reference(spark)


def test_streaming_topn_out_of_order_delivery(spark, tmp_path):
    """Event order (version) governs, not processing order: replaying the
    same batches in reverse epoch order converges to the same Top-N —
    the regression that motivated version-first state compaction."""
    eng = _engine(spark, tmp_path)
    for epoch, rows in ((0, BATCHES[2]), (1, BATCHES[1]), (2, BATCHES[0])):
        eng.foreach_batch(
            spark.createDataFrame([tuple(r.values()) for r in rows], SCHEMA), epoch
        )
    got = {
        (r["grp"], r["rnk"]): (r["k"], r["score"]) for r in eng.current_topn().collect()
    }
    assert got == _batch_reference(spark)
