"""Streaming near-dup admission control (streaming/neardup.py).

Crafted corpus replayed in three micro-batches: intra-batch dups pick
the smallest id as canonical, cross-batch dups link to the accepted
log, novel docs enter the index, and replayed epochs are no-ops.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming.neardup import StreamingNearDup

BASE = " ".join(f"alpha{i}" for i in range(30))
OTHER = " ".join(f"beta{i}" for i in range(30))
THIRD = " ".join(f"gamma{i}" for i in range(30))


def _near(text):
    """Change the last word: Jaccard on 2-shingles stays ~0.9."""
    words = text.split()
    return " ".join(words[:-1] + ["changed"])


BATCHES = [
    [(1, BASE), (2, OTHER), (3, _near(BASE))],     # 3 is an intra-batch dup of 1
    [(4, _near(BASE)), (5, THIRD)],                # 4 dups accepted 1; 5 novel
    [(6, _near(THIRD)), (7, _near(OTHER))],        # cross-batch dups of 5 and 2
]

SCHEMA = "doc_id long, body string"


def _write_batches(path):
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(BATCHES):
        f = os.path.join(path, f"b{i}.json")
        with open(f, "w") as fh:
            for doc_id, body in rows:
                fh.write(json.dumps({"doc_id": doc_id, "body": body}) + "\n")
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _engine(spark, tmp_path):
    return StreamingNearDup(
        spark,
        str(tmp_path / "neardup"),
        id_col="doc_id",
        text_col="body",
        n=2,
        threshold=0.7,
        num_perm=64,
        bands=32,
    )


def test_streaming_neardup_decisions(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batches(src)
    eng = _engine(spark, tmp_path)
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    eng.run_available_now(stream)

    dec = {r["id"]: r["dup_of"] for r in eng.decisions().collect()}
    assert dec == {1: None, 2: None, 3: 1, 4: 1, 5: None, 6: 5, 7: 2}

    accepted = {r["id"] for r in eng.accepted().collect()}
    assert accepted == {1, 2, 5}

    # every dup decision carries a verified score at/above the threshold
    for r in eng.decisions().filter(F.col("dup_of").isNotNull()).collect():
        assert r["jaccard"] >= 0.7


def test_streaming_neardup_replayed_epoch_is_skipped(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    b0 = spark.createDataFrame(BATCHES[0], SCHEMA)
    # a partly applied epoch: its logs land, then the meta save fails (a
    # directory squats on the meta file's temporary name); the replay
    # must not find its own documents as accepted twins
    blocker = os.path.join(eng.base, "meta.json.tmp")
    os.makedirs(blocker)
    with pytest.raises(OSError):
        eng.foreach_batch(b0, 0)
    os.rmdir(blocker)
    eng.foreach_batch(b0, 0)
    assert {r["id"]: r["dup_of"] for r in eng.decisions().collect()} == {1: None, 2: None, 3: 1}
    assert {r["id"] for r in eng.accepted().collect()} == {1, 2}

    first = sorted(map(tuple, eng.decisions().collect()))
    n_docs = eng.accepted().count()
    eng.foreach_batch(b0, 0)  # replay of the applied epoch
    assert sorted(map(tuple, eng.decisions().collect())) == first
    assert eng.accepted().count() == n_docs
