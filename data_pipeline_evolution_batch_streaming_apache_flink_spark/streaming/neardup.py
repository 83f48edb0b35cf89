"""Streaming near-duplicate detection: incremental MinHash + LSH.

Batch near-dup (``operators/dedup.py minhash_lsh_pairs``) answers "which
pairs in this corpus are near-duplicates". The streaming question is
different: *as documents arrive, is each one a near-dup of anything
accepted before?* — the admission-control shape of a continuously
ingesting training-data pipeline (only novel documents enter the
corpus; duplicates are logged with their canonical twin).

foreachBatch incremental maintenance (the same engine shape as
``streaming/topn.py``):

- State = two partitioned parquet logs: the accepted-documents log
  (id, text) and the LSH band index (band, band_hash, id). No driver
  state.
- Each micro-batch: (1) intra-batch dedup first (batch
  ``minhash_lsh_pairs`` inside the batch; smallest id is canonical —
  deterministic regardless of arrival order within the batch);
  (2) surviving docs compute band hashes and equi-join the band index —
  only colliding buckets meet, linear candidate generation exactly as
  in batch LSH; (3) candidates verify with EXACT Jaccard against the
  accepted log's text (no false positives from signature noise);
  (4) novel docs append to both logs, duplicates emit
  (doc_id, dup_of, jaccard) decisions.

Logs, decisions and ``meta.json`` follow the exactly-once replay
contract of ``streaming/epochlog.py``: a micro-batch matches against the
documents accepted by the epochs below it. At scale, bucket/partition
the band index by ``band_hash`` so the per-batch join prunes to
colliding partitions, and compact it periodically (`compact_files`).

MinHash family, band math, and verification all reuse the batch
operator's public pieces — the streaming path cannot drift from the
batch path's definition of "near-duplicate".

``dup_of`` points at the smallest near-duplicate partner, which inside
one batch may itself have been rejected (A<B<C with only A–B and B–C
similar: C records dup_of=B). That's a provenance CHAIN, the standard
greedy-streaming semantics; resolve chains to canonical roots offline
with ``operators/dedup.py near-dup clustering`` when needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.functions.text import word_shingles
from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signature,
)
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import epochlog


class StreamingNearDup:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        *,
        id_col: str,
        text_col: str,
        n: int = 5,
        threshold: float = 0.7,
        num_perm: int = 128,
        bands: int = 32,
        seed: int = 42,
    ):
        if num_perm % bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        self.spark = spark
        self.base = base_dir
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.threshold = threshold
        self.num_perm = num_perm
        self.bands = bands
        self.rows_per_band = num_perm // bands
        self.seed = seed
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.base, name)

    # -- band hashing -------------------------------------------------------
    def _band_rows(self, docs: DataFrame) -> DataFrame:
        """(id, band, band_hash) over a NORMALIZED (id, text) frame — one
        row per band per doc; the band hash folds the band's signature
        slice through xxhash64."""
        sig = minhash_signature("text", self.n, self.num_perm, self.seed)
        with_sig = docs.select("id", sig.alias("__sig"))
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.element_at("__sig", b * self.rows_per_band + r + 1)
                            for r in range(self.rows_per_band)
                        ],
                    ).alias("band_hash"),
                )
                for b in range(self.bands)
            ]
        )
        return with_sig.select("id", F.explode(bands).alias("bb")).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
        )

    # -- the micro-batch body ------------------------------------------------
    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        meta_path = self._path("meta.json")
        meta = epochlog.load_meta(meta_path, {"last_epoch": None})
        if epochlog.applied(meta, epoch_id):
            return

        batch = batch_df.select(
            F.col(self.id_col).alias("id"), F.col(self.text_col).alias("text")
        ).dropDuplicates(["id"]).localCheckpoint(eager=True)

        # 1. intra-batch: smallest id in each near-dup group is canonical
        intra = minhash_lsh_pairs(
            batch, "id", "text", self.n, self.threshold, self.num_perm, self.bands, self.seed
        ).localCheckpoint(eager=True)
        # a doc is a dup of the SMALLEST partner below it (deterministic)
        intra_dups = (
            intra.groupBy(F.col("id_b").alias("id"))
            .agg(F.min("id_a").alias("dup_of"), F.max("jaccard").alias("jaccard"))
        )
        survivors = batch.join(intra_dups.select("id"), "id", "left_anti")

        # 2. candidates vs the index of the documents accepted before this
        # epoch: band equi-join (a replay must not match its own writes)
        index = self._accepted("bands", "band int, band_hash long, id long", epoch_id)
        cand = (
            self._band_rows(survivors)
            .withColumnRenamed("id", "new_id")
            .join(index.withColumnRenamed("id", "old_id"), ["band", "band_hash"])
            .select("new_id", "old_id")
            .distinct()
        )

        # 3. exact verification against accepted text
        accepted = self._accepted("docs", "id long, text string", epoch_id)
        sh_new = survivors.select(
            F.col("id").alias("new_id"), word_shingles("text", self.n).alias("__sha")
        )
        sh_old = accepted.select(
            F.col("id").alias("old_id"), word_shingles("text", self.n).alias("__shb")
        )
        verified = (
            cand.join(sh_new, "new_id")
            .join(sh_old, "old_id")
            .withColumn(
                "jaccard",
                F.round(
                    F.size(F.array_intersect("__sha", "__shb"))
                    / F.size(F.array_union("__sha", "__shb")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= self.threshold)
        )
        # dup of the smallest matching accepted doc (deterministic)
        cross_dups = verified.groupBy(F.col("new_id").alias("id")).agg(
            F.min("old_id").alias("dup_of"), F.max("jaccard").alias("jaccard")
        )

        # 4. decisions + state updates
        novel = survivors.join(cross_dups.select("id"), "id", "left_anti").localCheckpoint(
            eager=True
        )
        decisions = (
            novel.select("id", F.lit(None).cast("long").alias("dup_of"),
                         F.lit(None).cast("double").alias("jaccard"))
            .unionByName(intra_dups.select("id", "dup_of", "jaccard"))
            .unionByName(cross_dups.select("id", "dup_of", "jaccard"))
            .withColumn("__epoch", F.lit(int(epoch_id)).cast("long"))
        )
        epochlog.write(decisions, self._path("out"), epoch_id)
        epochlog.write(novel.select(F.col("id").cast("long"), "text"), self._path("docs"), epoch_id)
        epochlog.write(
            self._band_rows(novel).select(
                F.col("band").cast("int"), F.col("band_hash").cast("long"), F.col("id").cast("long")
            ),
            self._path("bands"),
            epoch_id,
        )
        epochlog.commit(meta_path, meta, epoch_id)

    def _accepted(self, log: str, schema: str, epoch_id: int) -> DataFrame:
        path = self._path(log)
        return epochlog.read(self.spark, path, schema, epochlog.below(path, epoch_id))

    # -- results --------------------------------------------------------------
    def decisions(self) -> DataFrame:
        return epochlog.output(self.spark, self._path("out"))

    def accepted(self) -> DataFrame:
        return epochlog.read(self.spark, self._path("docs"), "id long, text string")

    def run_available_now(self, stream_df: DataFrame) -> None:
        """Drain a bounded stream through the engine (tests/backfills);
        raises on timeout."""
        epochlog.drain(stream_df, self.foreach_batch, self._path("ckpt"))
