"""Deduplication operators for training-data pipelines.

Four strategies, all shuffle-disciplined for 100 TB inputs:

- exact:          hash group-by on the dedup key (one shuffle, map-side combine)
- ngram-jaccard:  exact near-dup via inverted shingle index (equi-join on
                  shingle — no cross join ever materializes)
- minhash-LSH:    approximate near-dup; banded signatures bucket candidates,
                  then exact-jaccard verification. The scale path: candidate
                  generation cost is O(docs x bands), independent of corpus
                  pair count.
- embedding:      cosine-threshold pairs (exact; LSH/IVF variants live in
                  operators/similarity.py)

Every function returns DataFrames; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.functions.text import word_shingles
from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.util import (
    cap_buckets,
    explode_noinfer,
    fan_out,
    unpersist_local_checkpoint,
)
from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.batch import read_parquet

MINHASH_PRIME = 2147483647  # 2^31-1, Mersenne: (a*h + b) stays < 2^62


def exact_dedup(df: DataFrame, keys: str | list[str], tiebreak: str) -> DataFrame:
    """Keep one row per exact key: the one with the smallest ``tiebreak``
    (deterministic, unlike ``dropDuplicates``). One shuffle with map-side
    partial ``min_by``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(F.min_by(F.struct(*payload), F.col(tiebreak)).alias("__keep"))
        .select(*keys, *[F.col(f"__keep.{c}").alias(c) for c in payload])
    )


def streaming_dedup(
    df: DataFrame,
    keys: str | list[str],
    watermark_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Exact dedup on a stream with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state is O(keys per watermark window), not
    O(all keys ever) — the streaming twin of :func:`exact_dedup` for
    at-least-once upstream delivery (reference W6 double-emission,
    README.md:268-301)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if watermark_col is not None:
        df = df.withWatermark(watermark_col, delay)
    return df.dropDuplicatesWithinWatermark(keys)


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # fan out the raw (id, text) BEFORE shingling: the shuffle moves small
    # strings and the expensive shingle/array build runs on every core
    # (a projection above a repartition executes on the input partitions).
    base = fan_out(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")))
    return base.select("__id", word_shingles("__t", n).alias("__sh"))


def _explode_shingles(min_size: int = 1) -> Column:
    """Inference-proof explode of the ``__sh`` array from :func:`_shingled`
    (see :func:`operators.util.explode_noinfer` for why the bare-attribute
    form re-evaluates the whole shingle build serially below fan_out)."""
    return explode_noinfer("__sh", min_size)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.7,
    max_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact near-duplicate pairs by n-gram (word-shingle) Jaccard.

    Inverted-index formulation: explode distinct shingles, self-equi-join on
    the shingle (hash join — pairs sharing nothing never meet), count shared
    shingles per pair, then jaccard = shared / (|A| + |B| - shared).

    ``max_df`` drops shingles appearing in more than that many documents
    (stop-shingle guard: a shingle shared by k docs contributes k^2 join
    rows). Leave None for exactness on small corpora; set at scale.

    ``prefix_filter=True`` switches to the AllPairs/ppjoin-style EXACT
    prefix index (same results, scale path): order every doc's shingles
    by ascending global document frequency and index only the first
    ``|s| - ceil(t*|s|) + 1`` of them. Any pair with J >= t shares >=
    ``ceil(t*max(|a|,|b|))`` shingles, and the globally-first shared
    shingle provably lies inside BOTH prefixes — so joining prefixes
    loses nothing, while the high-df shingles (the quadratic buckets)
    fall in suffixes and are never indexed. Candidates are then
    verified with the full shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if prefix_filter:
        return _ngram_jaccard_prefix(df, id_col, text_col, n, threshold)
    sh = _shingled(df, id_col, text_col, n)
    inv = sh.select("__id", F.size("__sh").alias("__size"), _explode_shingles().alias("__s"))
    if max_df is not None:
        df_counts = inv.groupBy("__s").agg(F.count("*").alias("__df")).filter(F.col("__df") <= max_df)
        inv = inv.join(df_counts.select("__s"), "__s")
    a = inv.select(F.col("__id").alias("id_a"), F.col("__size").alias("sa"), "__s")
    b = inv.select(F.col("__id").alias("id_b"), F.col("__size").alias("sb"), "__s")
    shared = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count("*").alias("__shared"))
    )
    jac = F.col("__shared") / (F.col("sa") + F.col("sb") - F.col("__shared"))
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _ngram_jaccard_prefix(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> DataFrame:
    """Prefix-filtered exact Jaccard join (see ngram_jaccard_pairs).

    The epsilon in the ceil guards float noise (0.3*10 -> 3.0000000004
    would otherwise over-shorten the prefix); erring toward a LONGER
    prefix only adds candidates, never loses pairs.
    """
    from pyspark.sql import Window

    sh = _shingled(df, id_col, text_col, n)
    inv = sh.select("__id", F.size("__sh").alias("__size"), _explode_shingles().alias("__s"))
    dfc = inv.groupBy("__s").agg(F.count("*").alias("__df"))
    ranked = inv.join(dfc, "__s").withColumn(
        "__pos",
        F.row_number().over(Window.partitionBy("__id").orderBy("__df", "__s")),
    )
    plen = F.col("__size") - F.ceil(F.col("__size") * threshold - F.lit(1e-6)) + 1
    prefix = ranked.filter(F.col("__pos") <= plen).select("__id", "__s")
    cand = (
        prefix.select(F.col("__id").alias("id_a"), "__s")
        .join(prefix.select(F.col("__id").alias("id_b"), "__s"), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)  # reused by the id set AND the verify join
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("__cid"))
        .union(cand.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    sets = _shingled(
        df.join(cand_ids, F.col(id_col) == F.col("__cid"), "left_semi"),
        id_col, text_col, n,
    ).select("__id", "__sh")
    jac = F.round(
        F.size(F.array_intersect("__sha", "__shb"))
        / F.size(F.array_union("__sha", "__shb")),
        6,
    )
    return (
        cand.join(sets.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sets.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Line-level exact deduplication across the corpus (the CCNet /
    boilerplate-removal step): a line keeps only its FIRST occurrence —
    smallest (doc id, line position) — and every repeat (headers, footers,
    navigation chrome duplicated across pages) is dropped; documents are
    reassembled with line order preserved. Docs whose every line was seen
    earlier come back empty (''), preserving row count for accounting.

    Shape: posexplode → one hash shuffle on the LINE (min_by winner per
    distinct line, map-side partial) → join back on the line → per-doc
    sorted reassembly. Line strings shuffle once; no driver collection.
    ``sep`` is a LITERAL separator (escaped before the regex split, so
    the same string reassembles the docs). Returns the input columns
    with ``out_col`` (default: replace ``text_col``) holding the
    deduplicated text.
    """
    import re as _re

    out = out_col or text_col
    lines = df.select(
        F.col(id_col).alias("__lid"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("__pos", "__line"),
    )
    winners = lines.groupBy("__line").agg(
        F.min(F.struct("__lid", "__pos")).alias("__w")
    )
    kept = (
        lines.join(winners, "__line")
        .filter((F.col("__w.__lid") == F.col("__lid")) & (F.col("__w.__pos") == F.col("__pos")))
        .groupBy("__lid")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
            ).alias("__dedup")
        )
    )
    joined = df.join(kept, F.col(id_col) == F.col("__lid"), "left")
    return joined.select(
        *[c for c in df.columns if c != out],
        F.coalesce(F.col("__dedup"), F.lit("")).alias(out),
    )


def contamination_pairs(
    train: DataFrame,
    benchmark: DataFrame,
    train_id: str,
    bench_id: str,
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 5,
    min_shared: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination scan: (train doc, benchmark doc) pairs
    sharing at least ``min_shared`` distinct word n-grams — the standard
    eval-contamination check run before training. Inverted-index
    equi-join on the shingle, so cost is linear in shingle volume, never
    |train| × |benchmark|; the benchmark side is tiny and broadcasts.

    ``max_df`` drops shingles appearing in more than that many TRAIN
    docs (stop-shingle guard, same tradeoff as ngram_jaccard_pairs).
    Returns (train_id, bench_id, n_shared) with n_shared >= min_shared.
    """
    bench_text = bench_text_col or text_col
    t_inv = _shingled(train, train_id, text_col, n).select(
        F.col("__id").alias("__tid"), _explode_shingles().alias("__s")
    )
    if max_df is not None:
        keep = t_inv.groupBy("__s").agg(F.count("*").alias("__df")).filter(F.col("__df") <= max_df)
        t_inv = t_inv.join(keep.select("__s"), "__s")
    b_inv = _shingled(benchmark, bench_id, bench_text, n).select(
        F.col("__id").alias("__bid"), _explode_shingles().alias("__s")
    )
    return (
        t_inv.join(F.broadcast(b_inv), "__s")
        .groupBy("__tid", "__bid")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            F.col("__tid").alias(train_id + "_train"),
            F.col("__bid").alias(bench_id + "_bench"),
            "n_shared",
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    train_id: str,
    bench_id: str,
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 5,
    min_shared: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Drop every training document contaminated by the benchmark
    (:func:`contamination_pairs`): one broadcast-able anti-join against
    the (tiny) contaminated-id set."""
    pairs = contamination_pairs(
        train, benchmark, train_id, bench_id, text_col, bench_text_col, n, min_shared, max_df
    )
    drop = pairs.select(F.col(train_id + "_train").alias(train_id)).distinct()
    return train.join(F.broadcast(drop), train_id, "left_anti")


def _hash_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p. Plain LCG expansion of the seed so the
    family is reproducible without RNG state."""
    params = []
    s = seed
    for _ in range(num_perm):
        s = (s * 1103515245 + 12345) % MINHASH_PRIME
        a = 1 + (s % (MINHASH_PRIME - 1))
        s = (s * 1103515245 + 12345) % MINHASH_PRIME
        b = s % MINHASH_PRIME
        params.append((a, b))
    return params


def minhash_signature(text_col: Column | str, n: int = 5, num_perm: int = 128, seed: int = 42) -> Column:
    """MinHash signature (array<bigint> of length num_perm) of a text's
    n-word shingle set. Shingles hash through xxhash64 -> [0, p) and each
    permutation takes min((a*h + b) mod p) — whole expression JVM-side."""
    return minhash_signature_from_shingles(word_shingles(text_col, n), num_perm, seed)


def _perm_min(hashes: Column, a: int, b: int) -> Column:
    return F.array_min(F.transform(hashes, lambda h: F.pmod(h * a + b, F.lit(MINHASH_PRIME))))


def banded_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_perm: int = 128,
    bands: int = 64,
    seed: int = 42,
) -> DataFrame:
    """LSH band keys per document: ``(__id, band, bhash)`` — the shared
    candidate-generation stage of :func:`minhash_lsh_pairs` and the
    persisted-index pair :func:`lsh_write_index`/:func:`lsh_probe_pairs`.

    Permutation mins and band hashes run in numpy via mapInPandas: the
    JVM higher-order-function formulation is interpreted (CodegenFallback)
    and ~5x slower. Only the shingle->int hash stays JVM (xxhash64).
    Signatures are engine-internal — candidates are always verified with
    exact Jaccard downstream, so the band-hash function needs
    determinism, not cross-engine parity; the (a,b) universal hash
    family and its recall guarantee are unchanged.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    sh = _shingled(df, id_col, text_col, n)

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    params = _hash_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    BAND_MIX = np.int64(1_000_003)
    # 2^31-1 keeps bh*MIX+sig < 2^52 (no int64 overflow); band-hash
    # collisions only add false candidates, which exact verification kills.
    BAND_MOD = np.int64(MINHASH_PRIME)

    def _band_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if not len(p):
                continue
            # One pass over the whole Arrow batch, no per-record loop:
            # concatenate every row's shingle hashes, apply all num_perm
            # permutations to the flat vector at once, then segmented-min
            # back to per-row signatures with minimum.reduceat.
            lens = p["__h"].map(len).to_numpy()
            keep = lens > 0
            if not keep.any():
                continue
            pk = p[keep]
            lens = lens[keep]
            flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in pk["__h"]])
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            perm = (A * flat[None, :] + B) % MINHASH_PRIME  # (num_perm, total)
            sig = np.minimum.reduceat(perm, starts, axis=1)  # (num_perm, n_rows)
            bsig = sig.T.reshape(len(pk), bands, rows_per_band)
            bh = np.zeros((len(pk), bands), dtype=np.int64)
            for j in range(rows_per_band):  # polynomial rolling combine
                bh = (bh * BAND_MIX + bsig[:, :, j]) % BAND_MOD
            yield pd.DataFrame({
                "__id": np.repeat(pk["__id"].to_numpy(), bands),
                "band": np.tile(np.arange(bands, dtype=np.int32), len(pk)),
                "bhash": bh.reshape(-1),
            })

    hashed = sh.select(
        "__id",
        F.transform(F.col("__sh"), lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME))).alias("__h"),
    )
    id_type = df.schema[id_col].dataType.simpleString()
    return hashed.mapInPandas(_band_rows, schema=f"__id {id_type}, band int, bhash long")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.7,
    num_perm: int = 128,
    bands: int = 64,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate near-duplicate pairs: MinHash + banded LSH + exact
    verification.

    bands=64 x rows=2 gives P(candidate | jaccard=s) = 1-(1-s^2)^64 —
    ~1-2e-19 at s=0.7, so recall at the default threshold is effectively 1
    while candidate generation stays linear in corpus size. Candidates are
    then verified with exact Jaccard on the shingle sets, so reported pairs
    are never false positives.

    ``max_bucket`` drops LSH buckets larger than that many docs (mirrors
    ``ngram_jaccard_pairs``' ``max_df``): an adversarial corpus of
    near-identical documents collapses into one bucket per band, which
    would otherwise materialize a single K-element aggregation row and
    K²/2 candidate pairs. The drop happens while buckets are still
    individual (spillable) rows, so memory stays bounded; recall is lost
    only for documents duplicated more than ``max_bucket`` times — run
    :func:`exact_dedup` first so exact duplicates never reach LSH.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    banded = banded_rows(df, id_col, text_col, n, num_perm, bands, seed)
    # Candidate pairs via bucket-collect, not a banded-self-join: Spark does
    # not reuse the exchange across the two sides of a self-join here (the
    # MapInPandas stage fails sameResult), so a join would run the Python
    # minhash stage and the scan TWICE. groupBy(band, bhash) runs them once
    # and emits each bucket's pairs with posexplode+slice. A pathological
    # bucket of K near-identical docs yields K^2/2 pairs either way; the
    # quadratic blowup is inherent to LSH candidates, not to this shape —
    # max_bucket (util.cap_buckets) is the guard against it.
    banded = cap_buckets(banded, ("band", "bhash"), max_bucket)
    buckets = (
        banded.groupBy("band", "bhash")
        .agg(F.collect_list("__id").alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    cand = (
        buckets.select(F.posexplode("__ids").alias("__i", "__a"), "__ids")
        .select(
            "__a",
            F.explode(F.slice("__ids", F.col("__i") + 2, F.size("__ids"))).alias("__b"),
        )
        .select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
        )
        .distinct()
    )
    # Verify by re-shingling ONLY candidate docs: candidates are a tiny
    # fraction of the corpus (LSH's point), so joining the raw (id, text)
    # against the candidate id set and shingling that subset beats
    # re-running the full-corpus shingle lineage for both join sides.
    # The candidate set is materialized once (it feeds the id set AND the
    # verification join; without this the Python signature stage and the
    # bucket shuffle would execute twice) — it is pair-count sized, tiny
    # relative to the corpus by LSH design. LAZY (r14): every consumer
    # sits in the caller's one final query, whose first executed
    # partition materializes the pin — the eager job bought nothing.
    cand = cand.localCheckpoint(eager=False)
    cand_ids = (
        cand.select(F.col("id_a").alias("__cid"))
        .union(cand.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    sets = _shingled(
        df.join(cand_ids, F.col(id_col) == F.col("__cid"), "left_semi"),
        id_col, text_col, n,
    ).select("__id", "__sh")
    verified = (
        cand.join(sets.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sets.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__sha", "__shb"))
                / F.size(F.array_union("__sha", "__shb")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_signature_from_shingles(shingles_col: Column | str, num_perm: int = 128, seed: int = 42) -> Column:
    """Signature from a precomputed shingle-array column (avoids
    re-shingling when the caller already has the sets)."""
    col = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    hashes = F.transform(col, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME)))
    return F.array(*[_perm_min(hashes, a, b) for a, b in _hash_params(num_perm, seed)])


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine-threshold near-duplicate pairs over an embedding column.

    Brute-force O(n^2/2) — the correctness baseline. At scale use the
    LSH-bucketed variant (operators/similarity.bucketed_cosine_pairs) which
    only compares within hyperplane-hash buckets.

    Execution: distributed block-nested-loop, nothing touches the driver.
    Each row gets a deterministic block id in [0, n_blocks) (xxhash64 of
    the id); every unordered block pair (i, j), i <= j, becomes one
    ``applyInPandas`` group carrying block i as the "a" side and block j as
    the "b" side. A row replicates n_blocks+1 times (one per pair it joins),
    so the shuffle volume is (n_blocks+1)·|corpus| and the per-group working
    set is ~2·|corpus|/n_blocks rows — bounded by raising ``n_blocks`` as
    the corpus grows (group count n_blocks·(n_blocks+1)/2 keeps every
    executor busy). No per-group split lever is needed here (VERDICT r12
    #5 audit): block membership is a CONTENT HASH of the id, so block
    sizes concentrate tightly around |corpus|/n_blocks regardless of the
    data distribution — a hot group cannot arise the way a dense
    embedding cluster makes a quantizer cell or LSH bucket hot, and
    ``n_blocks`` IS the granularity knob. Scoring is numpy, vectorized across pairs but
    SEQUENTIAL across dimensions — the identical left-fold IEEE order as
    the JVM ``aggregate``/DuckDB ``list_reduce`` formulation, so scores
    are bit-identical to the SQL-expression version (and the oracle).
    The Arrow boundary carries only pairs within 1e-6 of the threshold;
    the exact ``round(6) >= threshold`` filter runs JVM-side (numpy
    rounds half-even, Spark/DuckDB half-up — never round in Python).
    Returns (id_a, id_b, cos) with id_a < id_b, round(cos,6) >= threshold.
    Zero-norm vectors: cosine is undefined (0/0 -> NaN) and such pairs
    are DROPPED by contract — same documented semantics as
    ``similarity.bucketed_cosine_pairs`` (engines disagree on both 0/0
    and NaN ordering, so exclude-by-contract is the only cross-engine
    stable choice); filter zero vectors upstream if they must surface.
    """
    import numpy as np
    import pandas as pd

    raw = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    blk = raw.withColumn(
        "__b", F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).cast("int")
    )
    a_side = blk.select(
        F.col("__b").alias("__ki"),
        F.explode(F.sequence(F.col("__b"), F.lit(n_blocks - 1))).alias("__kj"),
        F.lit("a").alias("__side"),
        "__id",
        "__v",
    )
    b_side = blk.select(
        F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("__ki"),
        F.col("__b").alias("__kj"),
        F.lit("b").alias("__side"),
        "__id",
        "__v",
    )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"
    margin = threshold - 1e-6

    def _block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key
        pa = pdf[pdf["__side"] == "a"]
        pb = pdf[pdf["__side"] == "b"]
        if not len(pa) or not len(pb):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        A = np.stack(pa["__v"].to_numpy()).astype(np.float64)
        B = np.stack(pb["__v"].to_numpy()).astype(np.float64)
        ids_a = pa["__id"].to_numpy()
        ids_b = pb["__id"].to_numpy()
        # zero-norm contract (see docstring): 0/0 -> NaN, and every
        # NaN comparison below is False, so such pairs drop cleanly.
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = _fold_matmul(A, B) / (_fold_norms(A)[:, None] * _fold_norms(B)[None, :])
        if i == j:
            # Same block on both sides: each unordered pair appears twice,
            # keep the (a < b) orientation only.
            mask = (ids_a[:, None] < ids_b[None, :]) & (cos >= margin)
            ia, ib = np.nonzero(mask)
            lo, hi = ids_a[ia], ids_b[ib]
        else:
            # Disjoint blocks: every cross pair appears exactly once;
            # normalize the orientation.
            ia, ib = np.nonzero(cos >= margin)
            ua, ub = ids_a[ia], ids_b[ib]
            swap = ua > ub
            lo = np.where(swap, ub, ua)
            hi = np.where(swap, ua, ub)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[ia, ib]})

    scored = (
        a_side.unionByName(b_side)
        .groupBy("__ki", "__kj")
        .applyInPandas(_block_pairs, schema=out_schema)
    )
    return (
        scored.withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _fold_matmul(A, B):
    """(n,d)x(m,d) -> (n,m) dot products with LEFT-FOLD summation order
    over dimensions (vectorized across pairs, sequential across dims) —
    bit-identical to ``functions.vectors.dot`` and the DuckDB oracle's
    ``list_reduce`` fold. numpy's pairwise-summing ``@`` would differ in
    the last ulps and flip rounded values at 6dp boundaries."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for i in range(A.shape[1]):
        acc += A[:, i][:, None] * B[:, i][None, :]
    return acc


def _fold_norms(A):
    """Left-fold L2 norms, matching ``functions.vectors.norm``."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc += A[:, i] * A[:, i]
    return np.sqrt(acc)


def simhash_bits(text_col: Column | str, nbits: int = 32) -> Column:
    """SimHash over whitespace tokens, returned as an array<int> of bits
    (index j = bit j). Bit source: bit j of (md5(token) mod 2^nbits),
    extracted arithmetically — the identical formula is expressible in the
    DuckDB oracle (conv/md5 both exist there).

    bit_j(doc) = 1 if sum over tokens of (2*bit_j(tok) - 1) > 0.
    """
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.functions.text import tokens

    toks = tokens(text_col)
    # 64-bit int from the first 15 hex chars of md5 (fits in bigint), mod 2^nbits
    # hash each token ONCE (md5 hex -> bigint), then derive all bit sums
    hashed = F.transform(
        toks,
        lambda t: F.pmod(F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"), F.lit(2 ** nbits)),
    )

    def bit_total(j: int) -> Column:
        contrib = F.transform(hashed, lambda h: (F.shiftright(h, j) % 2) * 2 - 1)
        return F.aggregate(contrib, F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    bits = [F.when(bit_total(j) > 0, F.lit(1)).otherwise(F.lit(0)) for j in range(nbits)]
    return F.array(*bits)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str, nbits: int = 32) -> DataFrame:
    """Packed SimHash signatures: one bigint per document, bit j set when
    the token-weighted sum of bit j is positive (same formula as
    :func:`simhash_bits`, same md5 bit source — so the DuckDB oracle's
    SQL spelling still matches bit-for-bit).

    One Arrow-batched pass over the corpus: the SQL-expression version
    re-evaluates the per-token md5 lambda once per bit (32x) and again on
    each side of the self-join; here each distinct token is hashed exactly
    once per batch (memoized) and the 2*nbits bit-sums are one numpy
    reduction. Returns ``(id_col, simhash bigint)``.
    """
    if not 1 <= nbits <= 62:
        raise ValueError("nbits must fit a positive bigint (1..62)")
    out_schema = f"{id_col} {dict(df.dtypes)[id_col]}, simhash bigint"

    def _sigs(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+")
        mod = 1 << nbits
        shifts = np.arange(nbits, dtype=np.uint64)
        memo: dict[str, int] = {}

        def h(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16) % mod
                memo[tok] = v
            return v

        for pdf in batches:
            sigs = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                # NULL text -> zero tokens -> all-zero signature, matching
                # the simhash_bits JVM twin bit-for-bit (review r7: [""]
                # hashed NULL docs to the EMPTY-STRING signature, pairing
                # every NULL doc with every empty doc at hamming 0)
                toks = ws.split(text.strip()) if text is not None else []
                hs = np.fromiter((h(t) for t in toks), dtype=np.uint64, count=len(toks))
                # per-bit sum of (2*bit - 1): positive -> signature bit set
                votes = (((hs[:, None] >> shifts) & 1) * 2 - 1).astype(np.int64).sum(axis=0)
                sigs[i] = int(((votes > 0).astype(np.uint64) << shifts).sum())
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sigs})

    return df.select(id_col, text_col).mapInPandas(_sigs, schema=out_schema)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    nbits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocked by splitting the signature into ``bands`` bit segments: any
    pair within distance max_hamming < bands shares at least one identical
    segment (pigeonhole), so candidates come from an equi-join on the
    integer key (segment index, segment value) — never a cross join.
    Hamming distance is a single ``bit_count(xor)`` on the packed
    signatures. ``max_bucket`` drops segment buckets larger than that many
    docs before they are collected (the adversarial near-identical-corpus
    guard — see :func:`minhash_lsh_pairs`), trading recall on >max_bucket
    duplicate groups for bounded memory. Returns (id_a, id_b, hamming),
    id_a < id_b.
    """
    if bands <= max_hamming:
        raise ValueError("need bands > max_hamming for exact pigeonhole blocking")
    seg = nbits // bands
    segmask = (1 << seg) - 1
    sh = simhash_signatures(
        fan_out(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))),
        "__id",
        "__t",
        nbits,
    )
    blocked = sh.select(
        "__id",
        F.col("simhash").alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("seg"),
                        F.shiftright("simhash", b * seg).bitwiseAND(F.lit(segmask)).alias("segbits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__s"),
    ).select("__id", "__sig", "__s.seg", "__s.segbits")
    # Bucket-collect instead of a blocked-self-join so the Python signature
    # stage runs once (Spark does not reuse the exchange across self-join
    # sides; see minhash_lsh_pairs). __id is the struct's first field, so
    # least/greatest order pairs by id.
    blocked = cap_buckets(blocked, ("seg", "segbits"), max_bucket)
    buckets = (
        blocked.groupBy("seg", "segbits")
        .agg(F.collect_list(F.struct("__id", "__sig")).alias("__xs"))
        .filter(F.size("__xs") > 1)
    )
    cand = (
        buckets.select(F.posexplode("__xs").alias("__i", "__a"), "__xs")
        .select(
            "__a",
            F.explode(F.slice("__xs", F.col("__i") + 2, F.size("__xs"))).alias("__b"),
        )
        .select(F.least("__a", "__b").alias("__p"), F.greatest("__a", "__b").alias("__q"))
        .select(
            F.col("__p.__id").alias("id_a"),
            F.col("__q.__id").alias("id_b"),
            F.col("__p.__sig").alias("__sa"),
            F.col("__q.__sig").alias("__sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup pairs -> dedup clusters: connected components of the pair
    graph by iterative min-label propagation, entirely in DataFrames.

    Each round joins every node's current label to its neighbors and
    takes the per-node min — the standard large-graph pattern (what
    GraphFrames' connectedComponents does under the hood). Converges in
    O(component diameter) rounds; near-dup graphs are shallow (dup sets
    link densely through shared buckets), so a handful of rounds
    suffices. Per round: one join + one group-by, lineage truncated with
    ``localCheckpoint`` so plans don't grow with iterations, and the
    PREVIOUS round's label blocks freed once the new round's checkpoint
    has materialized (the iterative-operator storage discipline — same
    as the graph family and ``kcenter_select``; without it an N-round
    run pins N+1 copies of the (node, comp) frame). The convergence
    check is one small action per round (count of changed labels) — no
    per-node driver work.

    Returns (node, component) for every node appearing in ``pairs``;
    ``component`` is the smallest node id in the component (canonical).
    Raises if ``max_iter`` rounds don't converge (pathological chain
    longer than max_iter — raise the cap for adversarial graphs).
    """
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.graph import BROADCAST_NODES

    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # Near-dup pair graphs are tiny next to the corpus: broadcast-HINT
    # the per-round label table below the graph family's node gate
    # (guide §3.1 — an eager checkpoint scans with an unknown size
    # estimate, so the planner otherwise sort-merge-joins every round).
    small = labels.count() <= BROADCAST_NODES
    prev_ckpt: DataFrame | None = labels
    for _ in range(max_iter):
        lab = labels.hint("broadcast") if small else labels
        old = labels.alias("o")
        # ONE job per round (r14): the new label table carries a
        # per-node changed flag (the convergence join folded into the
        # round's plan), the round's frame is a LAZY localCheckpoint,
        # and the changed-count action is what materializes it — the
        # count reads the concrete checkpoint RDD, so nothing is
        # column-pruned past it and the next round scans the stored
        # blocks. Previously the eager checkpoint and the convergence
        # join were two separate jobs per round, and at sf0.1 the CC
        # rounds are job-latency-bound (PERF r13 scaling: near_dedup
        # 8c/32c = 0.85).
        merged = (
            sym.join(lab, sym["b"] == lab["node"])
            .select(F.col("a").alias("node"), F.col("comp"))
            .union(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .alias("n")
            .join(old.hint("broadcast") if small else old, "node")
            .select(
                F.col("node"),
                F.col("n.comp").alias("comp"),
                (F.col("n.comp") != F.col("o.comp")).alias("__chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = merged.filter(F.col("__chg")).count()
        # merged is materialized (the count ran) and the count was the
        # last read of the old labels frame — free its blocks before
        # the next round. The returned final labels stays pinned.
        if prev_ckpt is not None:
            unpersist_local_checkpoint(prev_ckpt)
        prev_ckpt = merged
        labels = merged.select("node", "comp")
        if changed == 0:
            unpersist_local_checkpoint(sym)
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-dup pairs and summarize each cluster: canonical id
    (the member to KEEP under min-id policy) and member count. Docs with
    no near-dup pair form no cluster (they are already unique)."""
    comp = connected_components(pairs, id_a, id_b, max_iter)
    return comp.groupBy(F.col("comp").alias("component")).agg(
        F.count("*").alias("n_members")
    )


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    out_col: str = "weight_ppm",
) -> DataFrame:
    """SOFT deduplication: down-weight near-duplicate clusters instead
    of dropping members (the SoftDedup idea — He et al. 2024, "SoftDedup:
    an Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training"; also the sampling-weight variant most curation stacks
    keep alongside hard dedup). Hard dedup throws away the signal that a
    document was independently published many times; soft dedup keeps
    every member but gives a cluster of size m weight ``1/m`` each, so a
    cluster contributes ~one document's worth of expected training mass
    while preserving intra-cluster variation.

    ``pairs`` is any near-dup pair set (:func:`ngram_jaccard_pairs`,
    :func:`minhash_lsh_pairs`, :func:`simhash_pairs`, ...). Returns
    ``df`` plus ``out_col``: ``10^6 div m`` ppm for members of an
    m-sized cluster, ``10^6`` for documents in no pair (already
    unique). Integer division keeps it engine-exact; downstream
    samplers (``curation.weighted_sample`` /
    ``curation.temperature_resample``) consume the ppm column directly.

    Scale shape: :func:`connected_components` on the pair graph (pairs
    ≪ corpus), one grouped count per component, one broadcast-friendly
    left join back onto the corpus keyed by ``id_col`` — the corpus is
    touched once."""
    comp = connected_components(pairs, id_a, id_b, max_iter)
    sized = comp.join(
        comp.groupBy("comp").agg(F.count(F.lit(1)).alias("__m")), "comp"
    ).select(F.col("node").alias("__node"), "__m")
    return (
        df.join(sized, F.col(id_col) == F.col("__node"), "left")
        .withColumn(
            out_col,
            F.expr("CAST(1000000 div coalesce(__m, 1) AS BIGINT)"),
        )
        .drop("__node", "__m")
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.7,
    max_iter: int = 20,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash-LSH candidate pairs ->
    exact-Jaccard verification -> connected components -> keep only each
    cluster's smallest-id member (plus every unclustered row).

    The whole path is equi-join + group-by shaped: candidates from LSH
    buckets (linear in corpus x bands), clustering O(diameter) rounds,
    and the final drop is one broadcast-able anti-join of the corpus
    against the (tiny) set of non-canonical duplicate ids.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, n=n, threshold=threshold)
    comp = connected_components(pairs, max_iter=max_iter)
    drop = comp.filter(F.col("node") != F.col("comp")).select(F.col("node").alias(id_col))
    return df.join(F.broadcast(drop), id_col, "left_anti")


def _token_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Whitespace tokens -> one row per position-stamped token n-gram:
    (id, pos, gram). One narrow repartition (fan_out) so the gram build
    runs on every core, then explode only — no shuffle.

    The size->=n doc gate lives INSIDE the generator (posexplode(NULL)
    emits no rows): a ``.where(size(__toks) >= n)`` would
    alias-substitute below fan_out's exchange and re-run the tokenizer
    serially in the scan stage (see util.explode_noinfer)."""
    base = fan_out(df.select(F.col(id_col), F.col(text_col)))
    with_toks = base.select(
        id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    grams = F.when(
        F.size("__toks") >= F.lit(int(n)),
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - n),
            lambda i: F.array_join(F.slice("__toks", i + 1, n), " "),
        ),
    )
    return with_toks.select(id_col, F.posexplode(grams).alias("pos", "gram"))


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection: maximal token spans covered
    by n-grams that occur at least ``min_count`` times corpus-wide (the
    repeated-substring criterion of the training-data dedup literature
    — find the boilerplate, license headers, navigation chrome that
    exact- and document-level dedup both miss).

    Returns ``(id, span_start, span_end, n_dup_grams)`` with token
    positions inclusive: each row is a maximal run of duplicated
    n-grams (adjacent or overlapping gram hits merge into one span).

    Scale shape: explode to position-stamped grams (narrow), ONE
    shuffle to count gram occurrences, an equi-join back on the gram
    (reuses the same hash partitioning), then one shuffle per doc for
    the gaps-and-islands merge. Gram positions within a doc are
    ascending, so island detection is a single ``lag`` — no
    running-max window state.
    """
    from pyspark.sql import Window

    grams = _token_grams(df, id_col, text_col, n)
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("__cnt"))
        .where(F.col("__cnt") >= min_count)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    flagged = hits.withColumn(
        "__new", F.when(prev.isNull() | (F.col("pos") - prev > n), 1).otherwise(0)
    ).withColumn("__island", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .drop("__island")
    )


def mask_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    out_col: str = "text_dedup",
) -> DataFrame:
    """Remove every token covered by a duplicated n-gram (see
    :func:`duplicate_spans`) and reassemble the remaining text in
    original token order. Documents with nothing duplicated pass
    through unchanged; fully-covered documents come back empty.

    Same shuffle discipline as duplicate_spans plus one per-doc
    aggregation to rebuild the text (sorted struct collect — order
    deterministic under any partition layout).
    """
    grams = _token_grams(df, id_col, text_col, n)
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("__cnt"))
        .where(F.col("__cnt") >= min_count)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tpos"))
        .distinct()
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    tokens = df.select(id_col, F.posexplode(toks).alias("tpos", "tok"))
    kept = tokens.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias(out_col)
    )
    return df.join(rebuilt, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(""))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
    min_size: int = 1,
) -> DataFrame:
    """Directed near-superset pairs by shingle containment
    ``C(A in B) = |A ∩ B| / |A|`` (Broder's containment score).

    Symmetric Jaccard misses the commonest web-corpus duplication shape:
    a short document living whole inside a long one (truncated mirrors,
    quoted articles, boilerplate-wrapped copies). A 50-shingle doc fully
    contained in a 5000-shingle doc has J ≈ 0.01 but C = 1.0.

    Same inverted-index equi-join shape as :func:`ngram_jaccard_pairs`
    (shingles sharing nothing never meet; one shuffle for the shared
    count), and the asymmetry is free: each undirected pair is aggregated
    once (id_a < id_b) and both directions are projected from the one
    shared count (``shared/sa`` and ``shared/sb``).

    ``max_df`` is the stop-shingle guard (a shingle in k docs makes k^2
    join rows); ``min_size`` drops docs with fewer distinct shingles than
    that (a 1-shingle doc is "contained" everywhere — pure noise).

    Returns (id_sub, id_super, containment) with containment >= threshold,
    rounded to 6dp for cross-engine determinism.
    """
    sh = _shingled(df, id_col, text_col, n)
    # min_size gate lives INSIDE the generator (explode(NULL) = no rows):
    # a .filter(size >= k) here would alias-substitute below fan_out and
    # re-evaluate the whole shingle build serially in the scan stage.
    inv = sh.select(
        "__id", F.size("__sh").alias("__size"), _explode_shingles(min_size).alias("__s")
    )
    if max_df is not None:
        df_counts = (
            inv.groupBy("__s").agg(F.count("*").alias("__df")).filter(F.col("__df") <= max_df)
        )
        inv = inv.join(df_counts.select("__s"), "__s")
    a = inv.select(F.col("__id").alias("id_a"), F.col("__size").alias("sa"), "__s")
    b = inv.select(F.col("__id").alias("id_b"), F.col("__size").alias("sb"), "__s")
    shared = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count("*").alias("__shared"))
        # pair-count-sized by LSH-family design; the fwd/rev union below
        # consumes it twice, and without the pin the ENTIRE upstream
        # (shingle build + inverted-index self-join) replays per branch.
        .localCheckpoint(eager=False)
    )
    fwd = shared.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        F.round(F.col("__shared") / F.col("sa"), 6).alias("containment"),
    )
    rev = shared.select(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_super"),
        F.round(F.col("__shared") / F.col("sb"), 6).alias("containment"),
    )
    return fwd.union(rev).filter(F.col("containment") >= threshold)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): position-bearing local fingerprints with the
    guarantee that any shared substring of length ``k + window - 1``
    produces at least one shared fingerprint — the standard plagiarism /
    code-clone / boilerplate localizer, complementing the house
    global near-dup family (MinHash is set-level, ``duplicate_spans``
    is exact-span; winnowing is the sub-linear-index middle ground).

    Per document: hash every character ``k``-gram (first 15 hex chars of
    md5 folded to a 60-bit int — the house portable hash), then in every
    sliding window of ``window`` consecutive gram hashes select the
    MINIMUM, ties to the RIGHTMOST position (the paper's robust-winnowing
    rule, which makes the selection deterministic); duplicate selections
    collapse. Documents shorter than ``k`` emit nothing; documents with
    1..window-1 grams emit the minimum of what exists (one truncated
    window), so every hashable document yields ≥1 fingerprint.

    Everything is row-local codegen'd SQL (one ``transform`` building the
    gram structs, one ``transform``+``aggregate`` doing the O(m·window)
    argmin sweep, no UDF, no shuffle); ``fan_out`` spreads the md5-heavy
    projection across cores first. Expected fingerprint density is
    ``2/(window+1)`` grams — the index is ~``2m/(window+1)`` rows per
    m-char document.

    Returns ``(id, pos, fp)`` — 1-based gram start position and 60-bit
    fingerprint hash.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    base = fan_out(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    )
    gram_h = (
        f"CAST(conv(substr(md5(substring(__t, p, {k})), 1, 15), 16, 10) AS BIGINT)"
    )
    ps = (
        f"CASE WHEN length(__t) >= {k} THEN "
        f"transform(sequence(1, length(__t) - {k} + 1), "
        f"p -> named_struct('h', {gram_h}, 'p', p)) "
        f"ELSE CAST(array() AS array<struct<h: bigint, p: int>>) END"
    )
    sels = (
        f"transform(sequence(1, greatest(size(__ps) - {window} + 1, 1)), s -> "
        f"aggregate(slice(__ps, s, {window}), "
        f"CAST(NULL AS struct<h: bigint, p: int>), "
        f"(acc, x) -> CASE WHEN acc IS NULL OR x.h < acc.h "
        f"OR (x.h = acc.h AND x.p > acc.p) THEN x ELSE acc END))"
    )
    return (
        base.select("__id", F.expr(ps).alias("__ps"))
        .select("__id", F.explode(F.expr(f"array_distinct({sels})")).alias("__fp"))
        .where(F.col("__fp").isNotNull())
        .select(
            F.col("__id").alias("id"),
            F.col("__fp.p").alias("pos"),
            F.col("__fp.h").alias("fp"),
        )
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints — the MOSS match
    step: candidate plagiarism/boilerplate pairs ranked by how many
    local fingerprints they share.

    Positions are dropped (presence per doc), then the inverted
    fingerprint index self-joins exactly like ``ngram_jaccard_pairs``:
    pairs sharing nothing never meet a hash join. ``max_df`` drops
    fingerprints present in more than that many documents BEFORE both
    the join and the per-doc totals (a fingerprint shared by c docs
    contributes c² join rows — same stop-shingle quadratic, same guard;
    totals use the filtered set so ``shared <= least(fp_a, fp_b)`` holds
    exactly). ``overlap_micro`` is exact integer containment vs the
    smaller filtered fingerprint set.

    Returns ``(id_a, id_b, shared_fps, fp_a, fp_b, overlap_micro)``
    with ``id_a < id_b`` and ``shared_fps >= min_shared``.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    # One materialization of the compact (id, fp) index: it is consumed
    # by the df-count guard, the per-doc totals, AND both join sides —
    # without the pin the md5-heavy fingerprint build (and its distinct
    # shuffle) replays once per consumer (8 FileScans observed). The
    # index is ~2m/(window+1) rows per m-char doc, far smaller than the
    # text, so pinning it is also the right 100-TB call. Lazy like
    # basket/triangle: materializes on first use, shared after.
    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, window=window)
        .select("id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    filtered = None
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
        )
        # the filtered index feeds the totals AND the join below: pin it
        # or the df-count aggregate + semi-join replay per consumer (r13
        # plan audit: the unpinned suite plan held 4 copies). persist
        # (not localCheckpoint) keeps size stats broadcastable.
        filtered = fps = fps.join(keep.select("fp"), "fp").persist()
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    # both self-join sides consume withn — pin one materialization
    withn = fps.join(sizes, "id").persist()
    a = withn.select(
        F.col("id").alias("id_a"), F.col("__n").alias("fp_a"), "fp"
    )
    b = withn.select(
        F.col("id").alias("id_b"), F.col("__n").alias("fp_b"), "fp"
    )
    out = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "fp_a", "fp_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            "fp_a",
            "fp_b",
            F.expr("(shared_fps * 1000000) div least(fp_a, fp_b)")
            .cast("bigint")
            .alias("overlap_micro"),
        )
    )
    # Bound the pins' lifetime (VERDICT r13 #1): every consumer of the
    # persisted index runs inside this one eager checkpoint — with the
    # InMemoryRelation stats (and the broadcasts they enable) intact —
    # after which the CacheManager entries are freed instead of
    # accumulating per invocation for the life of the session. The
    # returned checkpoint (pair-count sized) self-cleans via the
    # ContextCleaner when the caller drops the frame.
    out = out.localCheckpoint(eager=True)
    if filtered is not None:
        filtered.unpersist()
    withn.unpersist()
    return out


#: Auto band_parts rule: one band contributes n_docs rows split across
#: band_parts directories; size parts so each (band, prefix) dir holds
#: about this many rows (tiny dirs = file-creation-bound writes locally
#: AND at object-store scale; huge dirs = coarse probe pruning).
_LSH_TARGET_DIR_ROWS = 50_000
_LSH_MAX_BAND_PARTS = 256


def _auto_band_parts(n_docs: int) -> int:
    """ceil(n_docs / target-rows-per-dir), clamped to [1, 256] — one
    band contributes n_docs rows split across this many directories."""
    return max(1, min(_LSH_MAX_BAND_PARTS, -(-n_docs // _LSH_TARGET_DIR_ROWS)))


def _hadoop_path_exists(spark, path: str) -> bool | None:
    """Authoritative FS existence via the py4j bridge on a classic
    session; ``None`` under Spark Connect (no ``_jvm``, ADVICE r10) —
    the caller then falls back to read-and-classify-the-error."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath)


def lsh_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_perm: int = 128,
    bands: int = 64,
    seed: int = 42,
    band_parts: int | None = None,
) -> None:
    """Persist a MinHash-LSH band index for INCREMENTAL near-dup
    admission: the batch twin of ``streaming/neardup.py`` — dedup each
    NEW shard against the accepted corpus without re-shingling the
    corpus, the shape corpus growth actually takes at 100 TB.

    Two artifacts under ``path``:

    - ``buckets/`` — ``(bhash, id)`` rows partitioned by ``band`` and
      ``__bp = bhash mod band_parts``: probes prune to the (band,
      prefix) partitions their own band keys name, so a small shard's
      probe reads a fraction of the index instead of all of it;
    - ``docs/`` — ``(id, text)`` once (NOT per band), read only for the
      exact-Jaccard verification of candidate ids;
    - ``meta/`` — one row recording the signature parameters and the
      chosen ``band_parts``: probes read the layout from the index
      instead of having to guess it, and mismatched signature params
      fail fast instead of silently missing every candidate.

    ``band_parts=None`` (default) sizes the prefix split from the corpus
    count so each (band, prefix) directory holds ~``_LSH_TARGET_DIR_ROWS``
    rows: a small corpus writes bands×1 directories (the r8 fixed-16
    split made the suite's 2.5k-doc build spend most of its time
    creating 1024 near-empty files: 10.8 → 3.2 s warmed, probe digests
    identical — tools/index_build_ab.py), a 10^9-doc corpus bands×256.

    Build cost: one signature pass + one partitioned write, plus one
    corpus pass for ``docs/``. With ``band_parts=None`` the sizing count
    is derived from the (localCheckpointed) signature pass itself —
    rows-per-band of the banded frame — NOT an extra evaluation of the
    corpus, which may be an expensive derived pipeline rather than a
    table scan (ADVICE r9); docs that shingle to nothing contribute no
    index rows, so rows-per-band is also the more faithful sizing input.
    """
    banded = banded_rows(corpus, id_col, text_col, n, num_perm, bands, seed)
    if band_parts is None:
        # materialize the signature pass once: the count reads it for
        # free and the partitioned write below reuses it instead of
        # recomputing shingles+minhash
        banded = banded.localCheckpoint(eager=True)
        band_parts = _auto_band_parts(banded.count() // bands)
    (
        banded.withColumn("__bp", F.pmod(F.col("bhash"), F.lit(band_parts)))
        # hash-repartition on the layout keys BEFORE partitionBy: without
        # it every write task emits one file per (band, prefix) dir it
        # sees — tasks x bands x band_parts tiny files (measured 13k
        # files / 50 s at sf0.01); with it each dir gets the one task
        # that owns its key (~bands x band_parts files total)
        .repartition(F.col("band"), F.col("__bp"))
        .write.partitionBy("band", "__bp")
        .mode("overwrite")
        .parquet(path + "/buckets")
    )
    corpus.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).write.mode("overwrite").parquet(path + "/docs")
    corpus.sparkSession.createDataFrame(
        [(int(band_parts), int(bands), int(num_perm), int(n), int(seed))],
        "band_parts int, bands int, num_perm int, n int, seed int",
    ).write.mode("overwrite").parquet(path + "/meta")


def lsh_probe_pairs(
    new_docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n: int = 5,
    num_perm: int = 128,
    bands: int = 64,
    seed: int = 42,
    band_parts: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """Probe a persisted LSH index (:func:`lsh_write_index`) with a new
    shard: returns cross pairs ``(query_id, corpus_id, jaccard >=
    threshold)`` — exactly the admission decision "which new docs
    near-duplicate the accepted corpus".

    The probe's own band keys name the (band, bhash-prefix) partitions
    that can possibly collide; their distinct set (≤ bands*band_parts
    values — bounded, driver-safe) becomes a partition-column filter, so
    unprobed prefixes are pruned at planning time and never read. The
    signature parameters MUST match the index build (same shingle n,
    permutations, bands, seed) — band hashes are meaningless across
    configs: when the index carries ``meta/`` (written since r9) a
    mismatch raises instead of silently missing every candidate, and the
    stored ``band_parts`` overrides the argument (the prefix split is a
    property of the index layout, not of the probe). Indexes written
    before ``meta/`` existed fall back to the ``band_parts`` argument;
    a ``meta/`` directory that exists but holds no row is an interrupted
    write and raises (ADVICE r9 — treating it as pre-meta would silently
    disable both guards).
    Candidates join on (band, bhash) and are verified with exact Jaccard
    by re-shingling ONLY the touched docs (probe side + matched corpus
    ids from ``docs/``), so reported pairs are never false positives;
    the recall argument is minhash_lsh_pairs' banding bound, unchanged.
    ``max_bucket`` caps pathological probe buckets like the in-memory
    operator.
    """
    from pyspark.errors import AnalysisException

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.util import cap_buckets

    spark = new_docs.sparkSession
    # "pre-meta index" means the meta/ PATH does not exist at all; any
    # existing-but-broken state (unreadable parquet from a killed write,
    # a dir holding only _temporary, zero committed rows) is an
    # interrupted write and must raise — falling back to the caller's
    # band_parts would silently disable the signature guard and the
    # stored layout override, the exact silent-miss mode the guard
    # exists to prevent (ADVICE r9 + review r10: a bare read exception
    # alone cannot distinguish absent from corrupt).
    # Classic sessions get the authoritative Hadoop FS existence check;
    # under Spark Connect (_jvm absent, ADVICE r10) fall back to the
    # read path and use the AnalysisException error condition to tell
    # absent (PATH_NOT_FOUND) from corrupt (any other failure).
    meta_exists = _hadoop_path_exists(spark, path + "/meta")
    if meta_exists is False:
        meta = None  # genuinely pre-meta index: trust the caller's band_parts
    else:
        corrupt = ValueError(
            f"corrupt LSH index at {path!r}: meta/ exists but is "
            "unreadable or holds no row (interrupted write?) — "
            "rebuild with lsh_write_index"
        )
        try:
            meta = read_parquet(spark, path + "/meta").head()
        except AnalysisException as exc:
            cond = getattr(exc, "getCondition", getattr(exc, "getErrorClass", lambda: None))()
            if meta_exists is None and cond == "PATH_NOT_FOUND":
                meta = None  # Connect-path equivalent of the FS miss
            else:
                raise corrupt from exc
        else:
            if meta is None:
                raise corrupt
    if meta is not None:
        stored = {"bands": meta["bands"], "num_perm": meta["num_perm"],
                  "n": meta["n"], "seed": meta["seed"]}
        given = {"bands": bands, "num_perm": num_perm, "n": n, "seed": seed}
        if stored != given:
            raise ValueError(
                f"probe signature params {given} do not match the index "
                f"build {stored} — band hashes are meaningless across "
                "configs; probe with the parameters the index was built with"
            )
        band_parts = int(meta["band_parts"])
    q = banded_rows(new_docs, id_col, text_col, n, num_perm, bands, seed)
    # probe keys feed pruning AND the join: LAZY checkpoint (r14) — the
    # pruning collect below is the first action and materializes it, so
    # the pin costs no job of its own (the CC/count pattern)
    q = cap_buckets(q, ("band", "bhash"), max_bucket).withColumn(
        "__bp", F.pmod(F.col("bhash"), F.lit(band_parts))
    ).localCheckpoint(eager=False)
    # Bounded driver round-trip: distinct (band, prefix) keys of the probe.
    probed = sorted(
        (r["band"], r["__bp"])
        for r in q.select("band", "__bp").distinct().collect()
    )
    keys = [b * band_parts + p for b, p in probed]
    index = read_parquet(spark, path + "/buckets").filter(
        (F.col("band") * band_parts + F.col("__bp")).isin(keys)
    )
    cand = (
        q.select("band", "bhash", F.col("__id").alias("query_id"))
        .join(index.select("band", "bhash", F.col("__id").alias("corpus_id")), ["band", "bhash"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .distinct()
        # LAZY (r14): all three consumers sit in the caller's single
        # final query, whose first executed partition materializes the
        # pin — the former eager job bought nothing
        .localCheckpoint(eager=False)
    )
    probe_sets = _shingled(
        new_docs.join(
            cand.select(F.col("query_id").alias("__cid")).distinct(),
            F.col(id_col) == F.col("__cid"),
            "left_semi",
        ),
        id_col, text_col, n,
    ).select(F.col("__id").alias("query_id"), F.col("__sh").alias("__sha"))
    corpus_docs = read_parquet(spark, path + "/docs").join(
        cand.select(F.col("corpus_id").alias("__cid")).distinct(),
        F.col("__id") == F.col("__cid"),
        "left_semi",
    )
    corpus_sets = _shingled(
        corpus_docs.select(F.col("__id").alias("cid"), F.col("__text").alias("ctext")),
        "cid", "ctext", n,
    ).select(F.col("__id").alias("corpus_id"), F.col("__sh").alias("__shb"))
    return (
        cand.join(probe_sets, "query_id")
        .join(corpus_sets, "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__sha", "__shb"))
                / F.size(F.array_union("__sha", "__shb")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("query_id", "corpus_id", "jaccard")
    )
