"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``            exact brute-force top-k (correctness baseline)
- ``ivf_cosine_topk``        IVF: k-means coarse quantizer, probe nearest
                             cells only — scan cost drops by ~n_cells/n_probe
                             (persisted: ``ivf_write_index``/``ivf_probe_topk``)
- ``pq_cosine_topk``         product quantization: ADC scan over m-byte
                             codes + exact re-rank — bandwidth drops to
                             m bytes/vector
- ``ivf_pq_topk``            residual IVFADC (Jégou et al. 2011): both
                             savings multiplied — the 100 TB path
                             (persisted: ``ivfpq_write_index``/``ivfpq_probe_topk``)
- ``bucketed_cosine_pairs``  random-hyperplane LSH bucketing for pair
                             generation without a cross join

All distance math is JVM-side (functions/vectors.py) or Arrow-batched
numpy. Both quantizer fits (coarse cells and PQ codebooks) train on a
bounded content-hash sample — deterministic AND layout-independent —
then apply in one Arrow-batched corpus pass: at 100 TB the data is
scanned once for assignment, never iterated over by Lloyd's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_evolution_batch_streaming_apache_flink_spark.functions.vectors import cosine, norm
from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.util import cap_buckets, fan_out
from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.batch import read_parquet


def _check_query_cap(queries: DataFrame, query_id: str, max_query_rows: int | None) -> None:
    """Enforce the small-query contract: probe with ``limit(cap + 1)``
    (never scans more than cap+1 rows, collects nothing) and fail fast
    with guidance instead of letting a million-row "query" set OOM the
    driver."""
    if max_query_rows is not None:
        probe = queries.select(query_id).limit(max_query_rows + 1).count()
        if probe > max_query_rows:
            raise ValueError(
                f"query side exceeds max_query_rows={max_query_rows}; the top-k "
                "operators collect and broadcast the query set. For query sets "
                "this large use a pair operator instead "
                "(operators.dedup.embedding_cosine_pairs or "
                "operators.similarity.bucketed_cosine_pairs), or raise "
                "max_query_rows if the driver can genuinely hold it."
            )


def _collect_query_vectors(queries: DataFrame, query_id: str, vec_col: str, max_query_rows: int | None):
    """Bounded driver collect of the (small, broadcast) query side —
    cap-checked by :func:`_check_query_cap` first."""
    _check_query_cap(queries, query_id, max_query_rows)
    return queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("__qv")).toPandas()


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    include_self: bool = False,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Exact top-k nearest corpus rows per query by cosine similarity.

    The (small) query set ships to executors once (``max_query_rows``
    enforces that contract — oversized query sets raise with a pointer at
    the pair operators instead of collecting); corpus partitions
    score against it with numpy inside ``mapInPandas`` — the corpus (the
    100 TB side) is scanned once with no shuffle. Summation is
    vectorized across pairs but SEQUENTIAL across dims: the same
    left-fold IEEE order as the JVM/DuckDB formulation, so scores are
    bit-identical to the SQL-expression version. Each partition emits
    only its local top-k per query (plus 2e-6-raw-score slack so rounded
    ties survive); the exact global ranking — round to 6 decimals,
    corpus-id tiebreak — runs JVM-side on those few rows.
    Returns (query_id, corpus_id, cos, rank).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import _fold_matmul, _fold_norms

    spark = corpus.sparkSession
    qdf = _collect_query_vectors(queries, query_id, query_vec, max_query_rows)
    Q = _stack(qdf["__qv"])
    q_ids = qdf["qid"].to_numpy()
    nq = _fold_norms(Q)
    bc = spark.sparkContext.broadcast((q_ids, Q, nq))

    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = f"qid {qid_type}, cid {cid_type}, cos double"

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, Qm, nQ = bc.value
        for p in batches:
            if not len(p):
                continue
            C = _stack(p["__cv"])
            ids_c = p["__cid"].to_numpy()
            cos = _fold_matmul(Qm, C) / (nQ[:, None] * _fold_norms(C)[None, :])
            if not include_self:
                cos = np.where(ids_q[:, None] == ids_c[None, :], -np.inf, cos)
            frames = _local_topk_frames(ids_q, ids_c, cos, k)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    c = fan_out(corpus.select(F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cv")))
    scored = c.mapInPandas(_score, schema=out_schema).withColumn("cos", F.round("cos", 6))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id + "_q"), F.col("cid").alias(corpus_id + "_c"), "cos", "rank")
    )


def _check_positive(**knobs) -> None:
    """Reject any knob below 1; ``None`` (auto) passes."""
    for name, value in knobs.items():
        if value is not None and value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")


def _stack(vectors):
    """(n, d) float64 matrix of a pandas column of vectors."""
    import numpy as np

    return np.stack(vectors.to_numpy()).astype(np.float64)


def _unit_rows(X):
    """``X`` with every row scaled to unit L2 norm (all-zero rows stay
    zero)."""
    import numpy as np

    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _local_topk_frames(ids_q, ids_c, cos, k: int) -> list:
    """Per-query LOCAL top-k candidate rows from a scored block —
    shared by :func:`cosine_topk` (per corpus partition) and
    :func:`_block_topk` (its IVF caller, per quantizer cell). The 2e-6 slack below
    the raw kth score keeps rounded ties alive for the exact global
    6dp ranking; -inf self-masks drop via isfinite. This block is
    load-bearing for the suite's hash checks — one copy only."""
    import numpy as np
    import pandas as pd

    frames = []
    for qi in range(len(ids_q)):
        row = cos[qi]
        kth = np.partition(row, -k)[-k] if len(row) > k else -np.inf
        keep = np.nonzero(row >= kth - 2e-6)[0]
        keep = keep[np.isfinite(row[keep])]
        if len(keep):
            frames.append(pd.DataFrame(
                {"qid": ids_q[qi], "cid": ids_c[keep], "cos": row[keep]}
            ))
    return frames


def _cell_assign_mapper(cent_bc):
    """mapInPandas function assigning each ``(cid, __cv)`` row its
    nearest cell by cosine against the broadcast centroid matrix —
    shared by :func:`_fit_cells` and :func:`ivf_knn_join`."""

    def _assign(batches):
        import numpy as np

        for p in batches:
            if not len(p):
                continue
            V = _unit_rows(_stack(p["__cv"]))
            yield p.assign(__cell=_assign_cells(V, cent_bc.value).astype(np.int32))

    return _assign


def _assign_cells(X, cent, chunk: int = 65536):
    """Cell index per row of X by COSINE against the centroids (X rows
    must be unit vectors; centroids are normalized here), chunked so the
    score block never materializes n x k doubles at once for huge X. Ties
    break to the LOWEST centroid index (argmax) — deterministic. Used by
    BOTH the driver-side spherical Lloyd's fit and the executor-side
    assignment pass, so training and assignment geometry are identical
    by construction."""
    import numpy as np

    cu = _unit_rows(cent)
    out = np.empty(len(X), dtype=np.int64)
    for i in range(0, len(X), chunk):
        out[i : i + chunk] = (X[i : i + chunk] @ cu.T).argmax(1)
    return out


def _hash_sampled_matrix(
    vectors: DataFrame,
    sample_frac: float | None,
    max_train_rows: int | None,
    return_count: bool = False,
    return_hashes: bool = False,
):
    """(n, d) float64 training matrix drawn LAYOUT-INDEPENDENTLY from the
    single-column ``v`` DataFrame: every row gets a uniform score from a
    content hash of its vector (``xxhash64`` — no ``sample()``/
    ``limit()``, whose picks depend on partition layout), the fraction
    and cap are hash thresholds, and the matrix is ordered by that hash —
    so the same data yields a bit-identical matrix regardless of storage
    order, partitioning, or retries. The cap costs one extra count of the
    sampled column. Shared by :func:`pq_fit_codebooks`,
    :func:`_fit_cells`, and the IVF cell join's split sizing
    (:func:`_side_sample`). ``return_count=True`` returns ``(matrix, n_rows)`` where
    ``n_rows`` is the pre-cap row count of the (frac-filtered) input —
    with ``sample_frac=None`` that is the full corpus count, reusing the
    count the cap logic already pays. ``return_hashes=True`` appends the
    rows' hash scores (ascending, aligned with the matrix) so a caller
    can MERGE two sides' samples into the union's sample without a
    third pass: the lowest-``max_train_rows`` hashes of A ∪ B are a
    subset of each side's lowest-``max_train_rows``
    (``margin_mine_ivf``)."""
    import numpy as np

    # Uniform content hash in [0, 1): shift the signed 64-bit hash into
    # unsigned range. 64 bits keep distinct-vector collisions negligible;
    # equal hashes are (within rounding) equal vectors, so any tie order
    # yields the same training matrix.
    u = (F.xxhash64(F.col("v")).cast("double") + F.lit(float(2 ** 63))) / F.lit(float(2 ** 64))
    sampled = vectors.withColumn("__u", u)
    cur_thr = 1.0
    n_rows: int | None = None
    if sample_frac is not None:
        sampled = sampled.filter(F.col("__u") < F.lit(float(sample_frac)))
        cur_thr = float(sample_frac)
    if max_train_rows is not None:
        n_rows = sampled.count()
        if n_rows > max_train_rows:
            # Threshold with slack (5% + 64 absolute) so ≥ max_train_rows
            # rows survive with overwhelming probability; the exact cap is
            # the deterministic hash-order truncation below.
            frac = min(1.0, max_train_rows / n_rows * 1.05 + 64.0 / n_rows)
            sampled = sampled.filter(F.col("__u") < F.lit(cur_thr * frac))
    if return_count and n_rows is None:
        n_rows = sampled.count()
    pdf = sampled.toPandas().sort_values("__u", kind="mergesort", ignore_index=True)
    if max_train_rows is not None and len(pdf) > max_train_rows:
        pdf = pdf.head(max_train_rows)
    if not len(pdf):
        raise ValueError("cannot fit a quantizer on an empty (or fully sampled-out) corpus")
    mat = _stack(pdf["v"])
    out = (mat,)
    if return_count:
        out += (n_rows,)
    if return_hashes:
        out += (pdf["__u"].to_numpy().astype(np.float64),)
    return out if len(out) > 1 else mat


def _fit_cells(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    sample_frac: float | None = None,
    max_train_rows: int = 100_000,
    iters: int = 15,
    restarts: int = 8,
    return_sample: bool = False,
    return_centroids: bool = False,
    _sample=None,
):
    """k-means coarse quantizer: returns (assigned corpus with ``__cell``,
    broadcast-able centroid DataFrame) — plus, with
    ``return_sample=True``, the unit-normalized training sample matrix
    and the pre-cap sampled-row count, so an in-call
    :func:`ivf_knn_join` fit can feed the cell-population estimator
    WITHOUT a second sampling pass over the same corpus. With
    ``sample_frac=None`` (every caller here) the returned count is the
    full corpus row count.

    The fit runs on a bounded content-hash SAMPLE (the standard coarse-
    quantizer recipe: the cells need ~100k representative rows, not the
    corpus), spherical Lloyd's in driver numpy (seeded k-means++ init,
    fixed iterations, restart selection by total cosine — deterministic
    AND layout-independent, since the sample is content-hash ordered);
    assignment is ONE Arrow-batched cosine-argmax pass over the corpus
    against the broadcast centroids — no shuffle. Versus a distributed
    Lloyd's fit (pyspark.ml ``KMeans``): that is ~20 passes over 100 TB
    where the sampled fit is one sample pass + one assignment pass, the
    fit cost is CAPPED (100k rows) instead of corpus-proportional, and
    content-hash sampling makes the centroids layout-independent, which
    a distributed fit is not (``tools/index_build_ab.py`` has the A/B).
    At suite scale the cap exceeds the corpus, so the "sample" is the
    whole corpus and the fit is exact.

    Returned centroids are the cell MEANS (the quantization centers the
    IVF-PQ residuals subtract); they are normalized only where cosine
    needs unit vectors (assignment here, probe ordering in
    :func:`_probe_cells` — cosine is scale-invariant, so the stored scale
    is irrelevant there).

    Determinism scope: layout/retry/restart-independence
    holds on a GIVEN host — :func:`_assign_cells` scores with BLAS
    matmul (``X @ cu.T``), whose last-ulp summation order varies across
    BLAS builds/thread counts, so indexes built on heterogeneous driver
    hosts can differ in tie-adjacent assignments. Same caveat as the
    other numpy float paths in this module; the tests pin same-host
    bit-identity only. Rebuild indexes on one host class, or treat
    cross-host centroid equality as approximate."""
    import numpy as np

    vectors = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if _sample is not None:
        # Caller-provided (raw matrix, pre-cap count) — e.g.
        # margin_mine_ivf merges its two sides' hash samples into the
        # union's sample (bit-identical by the subset property on
        # _hash_sampled_matrix) instead of paying a third scan.
        X, n_rows = _sample
    elif return_sample:
        # The capped sample already pays this count — returning it is free.
        X, n_rows = _hash_sampled_matrix(
            vectors, sample_frac, max_train_rows, return_count=True
        )
    else:
        X, n_rows = _hash_sampled_matrix(vectors, sample_frac, max_train_rows), None
    # Train and assign on the UNIT SPHERE: cosine is this module's probe
    # metric, and Euclidean cells fitted on raw-norm vectors misalign
    # with cosine neighborhoods (measured: probe recall 0.78 vs 0.83 at
    # n_cells=8/n_probe=4 on sf0.01). For already-normalized inputs
    # (the IVF-PQ build) this is an idempotent no-op.
    X = _unit_rows(X)
    # Spherical k-means (assign by cosine, update by mean), k-means++
    # seeding, several seeded restarts, keep the highest-total-cosine fit
    # (FAISS's nredo). Measured against the Euclidean/raw-space
    # alternatives on the suite embeddings (probe recall at n_cells=8,
    # n_probe=4, k=3): raw Euclidean single-init 0.77-0.78, Euclidean
    # 8-restart 0.78-0.85, spherical 8-restart 0.82-0.87 — the cosine
    # metric the probes use is the one the cells should be fitted in.
    # Deterministic: restart r draws from default_rng(seed + r).
    best_score, cent = None, None
    for restart in range(restarts):
        rng = np.random.default_rng(seed + restart)
        trial = np.empty((n_cells, X.shape[1]))
        trial[0] = X[rng.integers(len(X))]
        d2 = ((X - trial[0]) ** 2).sum(1)
        for c in range(1, n_cells):
            # cum[-1], not d2.sum(): numpy's pairwise sum can differ from
            # the sequential cumsum in the last ulp, overrunning
            # searchsorted.
            cum = np.cumsum(d2)
            if cum[-1] <= 0:  # fewer distinct rows than cells: duplicate
                trial[c:] = X[rng.integers(len(X), size=n_cells - c)]
                break
            trial[c] = X[np.searchsorted(cum, rng.random() * cum[-1])]
            d2 = np.minimum(d2, ((X - trial[c]) ** 2).sum(1))
        for _ in range(iters):
            assign = _assign_cells(X, trial)
            for c in range(n_cells):
                mask = assign == c
                if mask.any():
                    trial[c] = X[mask].mean(0)
        cu = _unit_rows(trial)
        score = (X * cu[_assign_cells(X, trial)]).sum()  # total cosine
        if best_score is None or score > best_score:
            best_score, cent = score, trial

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cent)
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    assigned = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).alias("__cv")
    ).mapInPandas(
        _cell_assign_mapper(bc), schema=f"cid {cid_type}, __cv {vec_type}, __cell int"
    )
    # Literal centroid table (n_cells x dim doubles — tiny, broadcast).
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "cell int, centroid array<double>",
    )
    if return_centroids:
        # The raw centroid MATRIX, driver-side — callers that need the
        # normalized probe matrix can derive it directly instead of
        # paying _centroid_matrix's collect job on cent_df (whose rows
        # are float(x) round-trips of exactly these values).
        return assigned, cent_df, cent
    if return_sample:
        # X was normalized onto the unit sphere above — exactly the
        # matrix the ivf_knn_join cell-population estimator assigns.
        return assigned, cent_df, X, n_rows
    return assigned, cent_df


def _probe_cells(queries: DataFrame, query_id: str, vec_col: str, cent_df: DataFrame, n_probe: int) -> DataFrame:
    """Nearest ``n_probe`` cells per query (query x n_cells — tiny cross
    join against the broadcast centroid table). The cell id breaks
    distance ties so the probe set is deterministic even when k-means
    returns equidistant (e.g. collapsed-duplicate) centroids."""
    q = queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("__qv"))
    w = Window.partitionBy("qid").orderBy(F.col("__d").desc(), F.col("cell").asc())
    return (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("__d", cosine("__qv", "centroid"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_probe)
        .select("qid", "__qv", F.col("cell").alias("__cell"))
    )


def _rank_probe_hits(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id + "_q"), F.col("cid").alias(corpus_id + "_c"), "cos", "rank")
    )


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the corpus
    into cells; each query only scans its ``n_probe`` nearest cells.

    The index build is one ML fit + one corpus pass (cell assignment).
    The probe join BROADCASTS the (queries x n_probe) side, so the corpus
    is never shuffled on ``__cell`` — each corpus partition streams past
    the hash table of probing queries; only the few scored candidate rows
    reach the ranking exchange. For a persisted index probed by
    partition-pruned scans (zero IO on unprobed cells), use
    :func:`ivf_write_index` + :func:`ivf_probe_topk`.
    Returns (query_id, corpus_id, cos, rank).
    """
    assigned, cent_df = _fit_cells(corpus, corpus_id, vec_col, n_cells, seed)
    qcells = _probe_cells(queries, query_id, vec_col, cent_df, n_probe)
    scored = (
        assigned.join(F.broadcast(qcells), "__cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(cosine("__qv", "__cv"), 6))
    )
    return _rank_probe_hits(scored, query_id, corpus_id, k)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> None:
    """Persist an IVF index: the corpus written out PARTITIONED BY cell
    (``<path>/index/__cell=<i>/``) plus the tiny centroid table
    (``<path>/centroids``). Build cost: one ML fit + one corpus pass +
    one partitioned write. At 100 TB this is the amortized one-off that
    makes every subsequent probe a partition-pruned scan reading only
    n_probe/n_cells of the data."""
    assigned, cent_df = _fit_cells(corpus, corpus_id, vec_col, n_cells, seed)
    # repartition on the layout key first: otherwise every write task
    # emits a file per cell dir it sees (tasks x n_cells tiny files)
    assigned.repartition(F.col("__cell")).write.partitionBy("__cell").mode(
        "overwrite"
    ).parquet(path + "/index")
    cent_df.write.mode("overwrite").parquet(path + "/centroids")


def ivf_probe_topk(
    queries: DataFrame,
    path: str,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`ivf_write_index`) with
    partition-pruned scans: the union of the queries' probe cells (at most
    n_cells ints — bounded, driver-safe) becomes an ``isin`` filter on the
    partition column, so unprobed cells are pruned at planning time and
    never read. The probe join broadcasts the query side; the corpus-side
    scan flows into the join with NO exchange. Returns
    (query_id, corpus_id, cos, rank)."""
    spark = queries.sparkSession
    cent_df = read_parquet(spark, path + "/centroids")
    qcells = _probe_cells(queries, query_id, vec_col, cent_df, n_probe)
    # Bounded driver round-trip: distinct probed cell ids, <= n_cells ints.
    probed = sorted(r["__cell"] for r in qcells.select("__cell").distinct().collect())
    index = read_parquet(spark, path + "/index").filter(F.col("__cell").isin(probed))
    scored = (
        index.join(F.broadcast(qcells), "__cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(cosine("__qv", "__cv"), 6))
    )
    return _rank_probe_hits(scored, query_id, corpus_id, k)


def pq_fit_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_centroids: int = 16,
    sample_frac: float | None = None,
    iters: int = 15,
    seed: int = 42,
    max_train_rows: int = 100_000,
    normalize: bool = True,
):
    """Train product-quantization codebooks: split the (L2-normalized
    unless ``normalize=False`` — residual encodings are already centered)
    vector into ``m`` subspaces, k-means each subspace to ``n_centroids``
    centroids (Lloyd's, seeded, fixed iterations — deterministic).

    Training runs on a driver-side SAMPLE — the standard PQ recipe (the
    codebook needs ~100k representative rows, not the corpus): at 100 TB
    you fit on ``sample_frac`` ≈ 1e-5 and never touch the full data.
    ``max_train_rows`` is a hard cap on rows collected to the driver,
    applied after the optional fraction sample, so the fit is bounded even
    when a caller forgets ``sample_frac`` on a huge corpus.

    Selection is LAYOUT-INDEPENDENT: every row gets a uniform score from a
    content hash of its vector (``xxhash64`` — no ``sample()``/``limit()``,
    whose picks depend on partition layout), the fraction and cap are
    hash thresholds, and the training matrix is ordered by that hash — so
    the same corpus yields bit-identical codebooks regardless of storage
    order, partitioning, or retries. The cap costs one extra count of the
    sampled column. Returns ``codebooks`` as a numpy array of shape
    (m, n_centroids, d/m).
    """
    import numpy as np

    X = _hash_sampled_matrix(
        corpus.select(F.col(vec_col).alias("v")), sample_frac, max_train_rows
    )
    if normalize:
        X = _unit_rows(X)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_centroids, dsub))
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        cent = sub[rng.choice(n, size=n_centroids, replace=n < n_centroids)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(n_centroids):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(0)
        books[s] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    corpus_id: str,
    vec_col: str = "embedding",
    normalize: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each corpus vector as ``m`` uint8 codes (nearest centroid
    per subspace of the normalized vector — raw vector when
    ``normalize=False``, e.g. IVF residuals) packed into one BinaryType
    column — m bytes/vector instead of 4·d: the compressed index a 100 TB
    corpus is actually scanned from. ``keep_cols`` pass through untouched
    (e.g. the IVF cell id). One corpus pass, no shuffle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    keep_schema = "".join(
        f", {c} {corpus.schema[c].dataType.simpleString()}" for c in keep_cols
    )

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        m, _, dsub = books.shape
        for p in batches:
            if not len(p):
                continue
            X = _stack(p["__v"])
            if normalize:
                X = _unit_rows(X)
            codes = np.empty((len(X), m), dtype=np.uint8)
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = d2.argmin(1)
            out = pd.DataFrame({"cid": p["__cid"], "code": [c.tobytes() for c in codes]})
            for c in keep_cols:
                out[c] = p[c].to_numpy()
            yield out

    return corpus.select(
        F.col(corpus_id).alias("__cid"), F.col(vec_col).alias("__v"), *keep_cols
    ).mapInPandas(_enc, schema=f"cid {cid_type}, code binary{keep_schema}")


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_centroids: int = 16,
    refine: int = 4,
    sample_frac: float | None = None,
    seed: int = 42,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Product-quantization approximate top-k by cosine.

    Pipeline: fit codebooks on a sample → encode corpus to m-byte codes →
    ADC scan (each query precomputes an m×K lookup table of partial dot
    products against its normalized subvectors; corpus codes score via
    table lookups — no float vectors read) → keep ``refine·k`` candidates
    per query → ONE exact-cosine re-rank join on just those rows.

    Scale shape: the heavy scan touches only the code column (m bytes/row,
    vs 4·d for IVF/brute force), stays shuffle-free with per-partition
    candidate pruning, and the exact re-rank is a broadcast-size join.
    Returns (query_id, corpus_id, cos, rank) with exact cosine scores —
    approximation affects only which rows reach the re-rank (recall),
    never the reported values.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    books = pq_fit_codebooks(
        corpus, vec_col=vec_col, m=m, n_centroids=n_centroids,
        sample_frac=sample_frac, seed=seed,
    )
    encoded = pq_encode(corpus, books, corpus_id, vec_col=vec_col)

    qdf = _collect_query_vectors(queries, query_id, vec_col, max_query_rows)
    Q = _unit_rows(_stack(qdf["__qv"]))
    dsub = Q.shape[1] // m
    # per-query ADC tables: lut[q, s, c] = <q_sub_s, centroid_c_of_s>
    lut = np.einsum("qsd,scd->qsc", Q.reshape(len(Q), m, dsub), books)
    bc = spark.sparkContext.broadcast((qdf["qid"].to_numpy(), lut))
    n_keep = refine * k

    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, tables = bc.value
        sub_idx = np.arange(tables.shape[1])
        for p in batches:
            if not len(p):
                continue
            codes = np.stack([np.frombuffer(b, dtype=np.uint8) for b in p["code"]])
            ids_c = p["cid"].to_numpy()
            frames = []
            for qi in range(len(q_ids)):
                score = tables[qi][sub_idx[:, None], codes.T].sum(0)
                mask = ids_c != q_ids[qi]
                cand = np.nonzero(mask)[0]
                if len(cand) > n_keep:
                    cand = cand[np.argpartition(score[cand], -n_keep)[-n_keep:]]
                if len(cand):
                    frames.append(pd.DataFrame(
                        {"qid": q_ids[qi], "cid": ids_c[cand], "approx": score[cand]}
                    ))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = fan_out(encoded).mapInPandas(_scan, schema=f"qid {qid_type}, cid {cid_type}, approx double")
    w_a = Window.partitionBy("qid").orderBy(F.col("approx").desc(), F.col("cid").asc())
    shortlist = cand.withColumn("__r", F.row_number().over(w_a)).filter(F.col("__r") <= n_keep)
    return _exact_rerank(shortlist, queries, corpus, query_id, corpus_id, vec_col, k)


def _exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine re-rank of an approximate (qid, cid, ...) shortlist:
    broadcast the query vectors onto it, fetch the candidate corpus
    vectors with one equi-join (shortlist-sized, tiny by ANN design), and
    keep the true top-k. Reported scores are always exact — approximation
    only decides which rows reach this step."""
    qv = queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("__qv"))
    cv = corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("__cv"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        shortlist.join(F.broadcast(qv), "qid")
        .join(cv, "cid")
        .withColumn("cos", F.round(cosine("__qv", "__cv"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id + "_q"), F.col("cid").alias(corpus_id + "_c"), "cos", "rank")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_centroids: int = 16,
    refine: int = 4,
    sample_frac: float | None = None,
    seed: int = 42,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """IVF-PQ (IVFADC) approximate top-k by cosine — the classic
    billion-scale index (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): a coarse quantizer partitions the
    L2-normalized corpus into ``n_cells`` inverted lists, and each vector
    stores only the PQ code of its RESIDUAL (v − centroid). A query scans
    just its ``n_probe`` nearest cells, scoring
    ``q·centroid + Σ_s LUT[s, code_s]`` — table lookups over m bytes/row,
    no float vectors read.

    Scale shape: combines IVF's scan reduction (~n_probe/n_cells of the
    corpus) with PQ's bandwidth reduction (m bytes vs 4·d), multiplying
    the two savings; the heavy stage stays shuffle-free (per-partition
    candidate pruning) and the exact re-rank is a shortlist-sized join.
    Residual encoding keeps quantization error well below whole-vector PQ
    at the same code size, so recall at equal ``refine`` is higher.
    Returns (query_id, corpus_id, cos, rank) with exact cosine scores.
    """
    encoded, cent_df, books = _ivfpq_build(
        corpus, corpus_id, vec_col, n_cells, m, n_centroids, sample_frac, seed
    )
    return _ivfpq_query(
        encoded, cent_df, books, queries, corpus, query_id, corpus_id,
        vec_col, k, n_probe, refine, max_query_rows,
    )


def _l2_normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(cid, __v) with __v the L2-normalized double vector — JVM-side.
    The norm is floored at 1e-12 (same guard as the numpy paths) so an
    all-zero embedding yields a zero vector, not NaNs into k-means."""
    return (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("__raw"))
        .withColumn("__n", F.greatest(norm("__raw"), F.lit(1e-12)))
        .select("cid", F.transform("__raw", lambda x: x.cast("double") / F.col("__n")).alias("__v"))
    )


def _ivfpq_build(corpus, corpus_id, vec_col, n_cells, m, n_centroids, sample_frac, seed):
    """Shared IVF-PQ index build: normalize → coarse cells → residuals →
    residual codebooks → per-cell codes. Returns
    (encoded(cid, code, __cell), cent_df, books)."""
    normed = _l2_normalized(corpus, corpus_id, vec_col)
    assigned, cent_df = _fit_cells(normed, "cid", "__v", n_cells, seed)
    residuals = assigned.join(F.broadcast(cent_df), assigned["__cell"] == cent_df["cell"]).select(
        "cid",
        "__cell",
        F.zip_with("__cv", "centroid", lambda a, b: a.cast("double") - b).alias("__res"),
    )
    # The residual table feeds three actions (codebook sample count +
    # collect, then encode+write) — pin it once instead of re-running
    # the normalize/assign/join pipeline per action.
    residuals = residuals.localCheckpoint(eager=False)
    books = pq_fit_codebooks(
        residuals, vec_col="__res", m=m, n_centroids=n_centroids,
        sample_frac=sample_frac, seed=seed, normalize=False,
    )
    encoded = pq_encode(
        residuals, books, "cid", vec_col="__res", normalize=False, keep_cols=("__cell",)
    )
    return encoded, cent_df, books


def _ivfpq_probe_tables(queries, query_id, vec_col, cent_df, books, n_probe, max_query_rows):
    """Driver-side probe structures: for each (query, probed cell) an ADC
    lookup table of the query's subvectors against the residual codebooks
    plus the scalar q·centroid. Bounded by the small-query contract
    (<= max_query_rows × n_probe tiny tables; the cap check is
    count-only). Cell-id tiebreak keeps the probe set deterministic for
    equidistant centroids."""
    import numpy as np

    _check_query_cap(queries, query_id, max_query_rows)
    qnormed = _l2_normalized(queries, query_id, vec_col).withColumnRenamed("cid", "qid")
    w = Window.partitionBy("qid").orderBy(F.col("__d").desc(), F.col("cell").asc())
    qprobe = (
        qnormed.crossJoin(F.broadcast(cent_df))
        .withColumn("__d", cosine("__v", "centroid"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_probe)
        .select("qid", "__v", "cell", "centroid")
        .toPandas()
    )
    m, _, dsub = books.shape
    probes_by_cell: dict[int, list] = {}
    for qid, qv, cell, cent in zip(qprobe["qid"], qprobe["__v"], qprobe["cell"], qprobe["centroid"]):
        q = np.asarray(qv, dtype=np.float64)
        c = np.asarray(cent, dtype=np.float64)
        lut = np.einsum("sd,scd->sc", q.reshape(m, dsub), books)  # (m, K)
        probes_by_cell.setdefault(int(cell), []).append((qid, lut, float(q @ c)))
    return probes_by_cell


def _ivfpq_query(
    encoded, cent_df, books, queries, corpus, query_id, corpus_id,
    vec_col, k, n_probe, refine, max_query_rows,
    probes_by_cell=None,
):
    """Shared IVF-PQ probe+scan+re-rank over an encoded index. Callers
    that already derived the probe tables (to prune the codes scan) pass
    them in — the derivation runs exactly once either way."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    if probes_by_cell is None:
        probes_by_cell = _ivfpq_probe_tables(
            queries, query_id, vec_col, cent_df, books, n_probe, max_query_rows
        )
    bc = spark.sparkContext.broadcast(probes_by_cell)
    m = books.shape[0]
    n_keep = refine * k
    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        probes = bc.value
        sub_idx = np.arange(m)
        for p in batches:
            if not len(p):
                continue
            cells = p["__cell"].to_numpy()
            frames = []
            for cell in np.unique(cells):
                plist = probes.get(int(cell))
                if not plist:
                    continue
                mask = cells == cell
                codes = np.stack([np.frombuffer(b, dtype=np.uint8) for b in p["code"][mask]])
                ids_c = p["cid"].to_numpy()[mask]
                for qid, lut, qdotc in plist:
                    score = qdotc + lut[sub_idx[:, None], codes.T].sum(0)
                    cand = np.nonzero(ids_c != qid)[0]
                    if len(cand) > n_keep:
                        cand = cand[np.argpartition(score[cand], -n_keep)[-n_keep:]]
                    if len(cand):
                        frames.append(pd.DataFrame(
                            {"qid": qid, "cid": ids_c[cand], "approx": score[cand]}
                        ))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = fan_out(encoded).mapInPandas(_scan, schema=f"qid {qid_type}, cid {cid_type}, approx double")
    w_a = Window.partitionBy("qid").orderBy(F.col("approx").desc(), F.col("cid").asc())
    shortlist = cand.withColumn("__r", F.row_number().over(w_a)).filter(F.col("__r") <= n_keep)
    return _exact_rerank(shortlist, queries, corpus, query_id, corpus_id, vec_col, k)


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str,
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    n_centroids: int = 16,
    sample_frac: float | None = None,
    seed: int = 42,
) -> None:
    """Persist an IVF-PQ index: residual PQ codes written PARTITIONED BY
    cell (``<path>/codes/__cell=<i>/``) plus the centroid table and the
    codebooks (rows (s, c, v) — m·K tiny vectors). The amortized one-off
    for a 100 TB corpus: every later probe reads only n_probe/n_cells of
    the files AND only m bytes of code per vector — the raw float vectors
    are never stored in the index at all (the re-rank join fetches the
    few shortlisted ones from the source table)."""
    encoded, cent_df, books = _ivfpq_build(
        corpus, corpus_id, vec_col, n_cells, m, n_centroids, sample_frac, seed
    )
    # same files-per-task guard as ivf_write_index: own each cell dir
    encoded.repartition(F.col("__cell")).write.partitionBy("__cell").mode(
        "overwrite"
    ).parquet(path + "/codes")
    cent_df.write.mode("overwrite").parquet(path + "/centroids")
    spark = corpus.sparkSession
    book_rows = [
        (s, c, [float(x) for x in books[s, c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(book_rows, "s int, c int, v array<double>").write.mode(
        "overwrite"
    ).parquet(path + "/codebooks")


def ivfpq_probe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    refine: int = 4,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Probe a persisted IVF-PQ index (:func:`ivfpq_write_index`) with
    partition-pruned scans: unprobed cells are pruned at planning time
    (never read), probed cells stream only their m-byte codes through the
    ADC scan, and the exact re-rank fetches shortlisted vectors from
    ``corpus``. Bounded driver round-trips: probed cell ids (<= n_cells)
    and the m·K codebook table. Returns (query_id, corpus_id, cos, rank)."""
    import numpy as np

    spark = queries.sparkSession
    cent_df = read_parquet(spark, path + "/centroids")
    bpdf = read_parquet(spark, path + "/codebooks").toPandas().sort_values(["s", "c"])
    m = int(bpdf["s"].max()) + 1
    n_centroids = int(bpdf["c"].max()) + 1
    books = np.stack(bpdf["v"].to_numpy()).reshape(m, n_centroids, -1)

    probes_by_cell = _ivfpq_probe_tables(
        queries, query_id, vec_col, cent_df, books, n_probe, max_query_rows
    )
    probed = sorted(probes_by_cell)
    encoded = read_parquet(spark, path + "/codes").filter(F.col("__cell").isin(probed))
    return _ivfpq_query(
        encoded, cent_df, books, queries, corpus, query_id, corpus_id,
        vec_col, k, n_probe, refine, max_query_rows,
        probes_by_cell=probes_by_cell,
    )


def lsh_hash_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The hyperplane-LSH bucket table — ``(__id, tbl, bucket)``, one row
    per (vector, table) with ``bucket`` the n_planes-bit sign pattern of
    the vector against that table's seeded random hyperplanes. This IS
    the LSH index structure: persist it once per corpus and the pair
    expansion + exact verification in :func:`bucketed_cosine_pairs` can
    run against the stored table (``hashed=``) instead of re-evaluating
    n_tables x n_planes interpreted HOF dot products per row per run —
    the same index-vs-probe steady-state split as IVF/IVF-PQ and the
    incremental MinHash index. Deterministic for a given seed.

    NULL-vector contract (ADVICE r8): NULL embeddings are dropped from
    the index — a NULL row can never be a near-dup candidate, and the
    vectorized ``np.stack`` stage cannot represent it. The plane
    dimension is derived from a non-null row, so a leading NULL can't
    poison the whole index (previously ``size(NULL)`` = -1 from an
    arbitrary ``head()`` made every plane empty and hashed every row to
    bucket 0).

    Execution: ONE Arrow-batched numpy pass computes all n_tables x
    n_planes sign bits (left-fold dot accumulation — identical IEEE
    order and therefore identical sign decisions as the Catalyst
    ``aggregate`` HOF formulation this replaces, which interpreted 48
    lambda folds per row and dominated the cold build: ~10 s -> <1 s at
    sf0.1). Plane values are drawn in the same seeded order as always,
    so bucket assignments are bit-stable across versions (the pinned
    recall-1.0 configs depend on them)."""
    import random
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    idt_early = df.schema[id_col].dataType.simpleString()
    df = df.where(F.col(vec_col).isNotNull())  # NULL vectors: see contract above
    dim_row = df.select(F.size(vec_col).alias("d")).head()
    if dim_row is None:  # empty corpus: empty index, not a TypeError
        return df.sparkSession.createDataFrame(
            [], f"__id {idt_early}, tbl int, bucket long"
        )
    dim = dim_row["d"]
    rng = random.Random(seed)
    # same draw order as the original per-table loop: table-major,
    # plane-minor, dim-innermost
    planes = np.array(
        [
            [rng.gauss(0, 1) for _ in range(dim)]
            for _t in range(n_tables)
            for _p in range(n_planes)
        ]
    )  # (n_tables * n_planes, dim)
    weights = 2 ** np.arange(n_planes, dtype=np.int64)
    idt = df.schema[id_col].dataType.simpleString()

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if not len(p):
                continue
            A = _stack(p["__v"])  # (n, d)
            acc = np.zeros((len(p), planes.shape[0]))
            for j in range(A.shape[1]):  # left-fold across dims
                acc += A[:, j : j + 1] * planes[:, j][None, :]
            bits = (acc > 0).astype(np.int64).reshape(len(p), n_tables, n_planes)
            buckets = bits @ weights  # (n, n_tables)
            ids = np.repeat(p["__id"].to_numpy(), n_tables)
            yield pd.DataFrame({
                "__id": ids,
                "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(p)),
                "bucket": buckets.reshape(-1),
            })

    return fan_out(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    ).mapInPandas(_hash, schema=f"__id {idt}, tbl int, bucket long")


def bucketed_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket: int | None = None,
    hashed: DataFrame | None = None,
    verify: str = "pairs",
    bucket_parts: int | None = 1,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: rows hash to a sign-pattern
    bucket per table; only same-bucket pairs are compared, then verified
    with exact cosine. Recall rises with n_tables; precision is exact
    (verification step).

    ``max_bucket`` drops candidate buckets larger than that many rows
    (mirrors ``ngram_jaccard_pairs``' ``max_df``): an adversarial corpus
    of near-identical vectors collapses into one bucket per table, which
    would otherwise materialize a single K-element aggregation row and
    K²/2 pairs. Dropping costs recall only for vectors duplicated more
    than ``max_bucket`` times — run exact dedup first so exact duplicates
    never reach LSH.

    ``hashed``: a precomputed :func:`lsh_hash_buckets` table for ``df``
    (e.g. read back from parquet) — skips the hashing stage so repeat
    runs against a stable corpus probe the persisted index instead of
    rebuilding it. Caller owns parameter consistency (same corpus, same
    n_planes/n_tables/seed).

    ``id_col`` must be UNIQUE per row (it names the pair endpoints).
    Duplicate id values never emit self-pairs in either verify shape,
    but a duplicated id carrying two different vectors makes cross-pair
    multiplicity undefined — deduplicate ids upstream.

    ``verify`` picks the verification strategy by candidate density —
    both produce bit-identical results (parity test-pinned):

    * ``"pairs"`` (default, the sparse/scale regime): expand id-only
      candidate pairs, dedup on (id_a, id_b), join the two vectors back
      for only the deduped survivors. Shuffle volume scales with the
      CANDIDATE count — right when buckets are selective and candidates
      << corpus x n_tables.
    * ``"bucket"`` (the dense regime, e.g. recall-1.0 gate configs where
      candidates approach all-pairs): join each vector once per (table,
      bucket) occupancy and verify whole buckets with a per-group numpy
      left-fold matmul, deduplicating only the pairs that PASS the
      threshold. Shuffle volume scales with corpus x n_tables — at the
      suite's gate config that is 32k vector rows versus 1.7M candidate
      pairs carrying two full vectors each (measured 4.3 -> ~2 s warm at
      sf0.1). Same per-group K^2 bound, still guarded by ``max_bucket``;
      ``bucket_parts`` (default 1) is the opt-in hot-bucket grid split —
      rationale and exactness argument on :func:`_bucket_verified_pairs`.

    Zero-norm vectors: cosine is undefined (0/0), and such pairs are
    DROPPED by contract — documented rather than incidental (ADVICE r6:
    the numpy filter silently dropped NaN while the earlier JVM filter
    kept it, because Spark orders NaN above every double; engines also
    disagree on 0/0, so exclude-by-contract is the only cross-engine
    stable semantics). Filter zero vectors out upstream if they must be
    reported. Returns (id_a, id_b, cos)."""
    if verify not in ("pairs", "bucket"):
        raise ValueError(f"verify must be 'pairs' or 'bucket', got {verify!r}")
    if hashed is None:
        hashed = lsh_hash_buckets(df, id_col, vec_col, n_planes, n_tables, seed)
    # Candidate generation carries IDS ONLY: the pair space is expanded
    # and deduplicated on (id_a, id_b) rows a few bytes wide, and the
    # vectors are joined back just for the verification of the DEDUPED
    # survivors. Copying both full vectors through the collect_list
    # structs and the O(bucket^2) slice/explode expansion was the
    # measured bottleneck of the 16-table config (~6 of 8.6 s warm at
    # sf0.1 — the id-only expansion runs in under 1 s on the same
    # buckets). The join back is two hash joins keyed on id — broadcast
    # when the vector table is small, plain shuffle joins at corpus
    # scale (the same fetch-for-shortlist shape as _exact_rerank).
    hashed = cap_buckets(hashed, ("tbl", "bucket"), max_bucket)
    if verify == "bucket":
        return _bucket_verified_pairs(
            df, hashed, id_col, vec_col, threshold, bucket_parts=bucket_parts
        )
    buckets = (
        hashed.groupBy("tbl", "bucket")
        .agg(F.collect_list("__id").alias("__xs"))
        .filter(F.size("__xs") > 1)
    )
    pairs = (
        buckets.select(F.posexplode("__xs").alias("__i", "__a"), "__xs")
        .select(
            "__a",
            F.explode(F.slice("__xs", F.col("__i") + 2, F.size("__xs"))).alias("__b"),
        )
        .select(F.least("__a", "__b").alias("id_a"), F.greatest("__a", "__b").alias("id_b"))
        # duplicate id values would otherwise surface as a self-pair here
        # (least == greatest) that the bucket-verify path's strict < drops —
        # keep the two shapes identical on ANY input
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = pairs.join(
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")), "id_a"
    ).join(
        df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")), "id_b"
    )
    # Exact verification in Arrow-batched numpy with LEFT-FOLD summation
    # (same discipline as dedup.embedding_cosine_pairs): vectorized
    # across pairs, sequential across dims — bit-identical to the
    # functions.vectors.cosine HOF formulation and the DuckDB oracle,
    # and ~5x faster than the interpreted per-element HOF fold. The
    # Arrow boundary keeps raw-score slack (1e-6); the exact
    # round(6) >= threshold filter runs JVM-side (numpy rounds
    # half-even, Spark/DuckDB half-up).
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import _fold_norms

    idt = df.schema[id_col].dataType.simpleString()

    def _verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if not len(p):
                continue
            A = _stack(p["__va"])
            B = _stack(p["__vb"])
            acc = np.zeros(len(p))
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            denom = _fold_norms(A) * _fold_norms(B)
            # zero-norm contract (see docstring): cosine undefined -> drop
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / denom
            keep = np.nonzero((denom > 0) & (cos >= threshold - 1e-6))[0]
            if len(keep):
                yield pd.DataFrame({
                    "id_a": p["id_a"].to_numpy()[keep],
                    "id_b": p["id_b"].to_numpy()[keep],
                    "cos": cos[keep],
                })

    return (
        cand.mapInPandas(_verify, schema=f"id_a {idt}, id_b {idt}, cos double")
        .withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= threshold)
    )


#: Per-task row budget for a split LSH verify bucket: a K x K score
#: block is K^2 doubles, so 5k rows ~ 200 MB — the same per-task bound
#: the ivf_knn_join grid targets on its corpus axis.
_LSH_TARGET_BUCKET_ROWS = 5_000
_LSH_MAX_BUCKET_PARTS = 64


def _bucket_verified_pairs(
    df: DataFrame,
    hashed: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bucket_parts: int | None = 1,
) -> DataFrame:
    """Dense-regime verification for :func:`bucketed_cosine_pairs`
    (``verify="bucket"``): ship each vector once per (table, bucket)
    occupancy and score whole buckets with a per-group numpy LEFT-FOLD
    matmul (same bit-exact fold discipline as
    ``dedup.embedding_cosine_pairs``), deduplicating only the pairs that
    pass the threshold. When candidates approach all-pairs (recall-1.0
    gate configs), this replaces a candidate-count-sized shuffle —
    millions of (id_a, id_b) rows plus two full vectors joined per pair —
    with a corpus x n_tables one. Per-group working set is K^2 for a
    K-row bucket, bounded by the caller's ``max_bucket`` guard. The r6
    negative result (verify-before-dedup, 8.6 -> 16.7 s) measured the
    INTERPRETED per-element HOF fold re-scoring per occurrence; the
    per-group vectorized matmul removes that cost, which is what flips
    the trade-off here (measured 4.3 -> ~2 s warm at sf0.1).

    ``bucket_parts`` is the hot-bucket split lever (VERDICT r12 #5, the
    ``cell_parts`` pattern of :func:`ivf_knn_join`): LSH buckets track
    embedding density, so one dense cluster is one oversized cogroup
    task here exactly as a hot quantizer cell is there. With parts > 1
    a bucket's rows sub-split by a content hash of the id and every
    unordered part pair (i <= j) becomes its own task — the proven
    block-grid of ``dedup.embedding_cosine_pairs``, so each unordered
    row pair still meets exactly once per (table, bucket) and per-pair
    scores are fold-order identical (digest parity test-pinned).
    ``None`` sizes parts PER BUCKET from an exact window count over the
    (already bucket-partitioned) frame — no extra exchange, cold
    buckets keep parts=1 but still pay the grid's two-sided row
    shipment (~2x a cold bucket's shuffle bytes).

    The DEFAULT is 1 (unsplit), unlike ``cell_parts``' auto — a
    deliberate asymmetry: quantizer cell geometry is fixed by the fit
    (re-celling re-fits everything), but LSH bucket width IS a caller
    knob — one more ``n_planes`` halves every bucket, and
    ``max_bucket`` already drops adversarial collapse — so the
    raise-and-retune contract is the primary answer and the split is
    the opt-in for steady-state probes of a PERSISTED index, where
    re-hashing (rebuilding the index) costs more than splitting."""
    import numpy as np
    import pandas as pd

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import (
        _fold_matmul,
        _fold_norms,
    )

    if bucket_parts is not None and bucket_parts < 1:
        raise ValueError(f"bucket_parts must be >= 1 or None, got {bucket_parts}")
    idt = df.schema[id_col].dataType.simpleString()
    margin = threshold - 1e-6
    withv = hashed.join(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")), "__id"
    )

    if bucket_parts == 1:

        def _bucket_verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
            A = _stack(pdf["__v"])
            ids = pdf["__id"].to_numpy()
            norms = _fold_norms(A)
            denom = norms[:, None] * norms[None, :]
            # zero-norm contract (see bucketed_cosine_pairs): 0/0 drops
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = _fold_matmul(A, A) / denom
            mask = (ids[:, None] < ids[None, :]) & (denom > 0) & (cos >= margin)
            ia, ib = np.nonzero(mask)
            return pd.DataFrame(
                {"id_a": ids[ia], "id_b": ids[ib], "cos": cos[ia, ib]}
            )

        out = withv.groupBy("tbl", "bucket").applyInPandas(
            _bucket_verify, schema=f"id_a {idt}, id_b {idt}, cos double"
        )
    else:
        # Grid split (see docstring): parts per row — per-bucket from a
        # window count (None; the window's hash partitioning on the
        # bucket keys matches the downstream groupBy, so no extra
        # exchange — the cap_buckets argument) or uniform (int > 1).
        if bucket_parts is None:
            w = Window.partitionBy("tbl", "bucket")
            withp = (
                withv.withColumn("__bn", F.count(F.lit(1)).over(w))
                .withColumn(
                    "__parts",
                    F.least(
                        F.ceil(F.col("__bn") / F.lit(_LSH_TARGET_BUCKET_ROWS)),
                        F.lit(_LSH_MAX_BUCKET_PARTS),
                    ).cast("int"),
                )
                .drop("__bn")
            )
        else:
            withp = withv.withColumn("__parts", F.lit(int(bucket_parts)))
        withp = withp.withColumn(
            "__p", F.pmod(F.xxhash64("__id"), F.col("__parts")).cast("int")
        )
        a_side = withp.select(
            "tbl",
            "bucket",
            F.col("__p").alias("__ki"),
            F.explode(
                F.sequence(F.col("__p"), F.col("__parts") - F.lit(1))
            ).alias("__kj"),
            F.lit("a").alias("__side"),
            "__id",
            "__v",
        )
        b_side = withp.select(
            "tbl",
            "bucket",
            F.explode(F.sequence(F.lit(0), F.col("__p"))).alias("__ki"),
            F.col("__p").alias("__kj"),
            F.lit("b").alias("__side"),
            "__id",
            "__v",
        )

        def _grid_verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
            pa = pdf[pdf["__side"] == "a"]
            pb = pdf[pdf["__side"] == "b"]
            if not len(pa) or not len(pb):
                return empty
            A = _stack(pa["__v"])
            B = _stack(pb["__v"])
            ids_a = pa["__id"].to_numpy()
            ids_b = pb["__id"].to_numpy()
            denom = _fold_norms(A)[:, None] * _fold_norms(B)[None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = _fold_matmul(A, B) / denom
            if key[2] == key[3]:
                # diagonal part pair: both sides hold the same rows —
                # the strict < keeps each unordered pair once
                mask = (ids_a[:, None] < ids_b[None, :]) & (denom > 0) & (cos >= margin)
                ia, ib = np.nonzero(mask)
                lo, hi = ids_a[ia], ids_b[ib]
            else:
                # disjoint parts: each cross pair appears exactly once;
                # canonicalize the orientation for the global dedup
                ia, ib = np.nonzero((denom > 0) & (cos >= margin))
                ua, ub = ids_a[ia], ids_b[ib]
                swap = ua > ub
                lo = np.where(swap, ub, ua)
                hi = np.where(swap, ua, ub)
            return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[ia, ib]})

        out = (
            a_side.unionByName(b_side)
            .groupBy("tbl", "bucket", "__ki", "__kj")
            .applyInPandas(_grid_verify, schema=f"id_a {idt}, id_b {idt}, cos double")
        )
    return (
        out.dropDuplicates(["id_a", "id_b"])
        .withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= threshold)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage /
    bandwidth step of large-scale embedding serving (4 bytes/dim float32
    down to 1 byte/dim + one scale): ``code_i = clamp(round(x_i / scale),
    +/-127)`` with ``scale = max|x| / 127``.

    Pure codegen'd higher-order functions (``transform`` / ``zip_with``
    / ``aggregate``) over the array column — zero shuffle, no Python;
    at 100 TB this scales with input splits and never exchanges. The
    rounding is ``floor(x + 0.5)`` (identical IEEE arithmetic in any
    engine, unlike round()'s engine-specific half-even/half-away modes);
    all-zero vectors quantize to all-zero codes with scale 0.

    Output: ``id_col``, ``dim``, ``scale`` (6dp), ``codes``
    (``array<int>``) and ``err_1e9`` — the reconstruction-error checksum
    ``sum(round((x_i - code_i * scale)^2 * 1e9))`` as an exact bigint
    (the float pipeline made hash-comparable across engines, same idiom
    as vector_normalize's unit_checksum).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, maxabs / F.lit(127.0)).otherwise(F.lit(0.0))
    staged = df.select(
        F.col(id_col),
        F.size(F.col(vec_col)).alias("dim"),
        v.alias("__v"),
        scale.alias("__scale"),
    )

    def code(x):
        return (
            F.greatest(
                F.least(F.floor(x / F.col("__scale") + F.lit(0.5)), F.lit(127.0)),
                F.lit(-127.0),
            )
        ).cast("int")

    staged = staged.withColumn(
        "codes",
        F.when(F.col("__scale") > 0, F.transform(F.col("__v"), code)).otherwise(
            F.transform(F.col("__v"), lambda x: F.lit(0))
        ),
    )
    sq = F.zip_with(
        F.col("__v"),
        F.col("codes"),
        lambda x, q: (x - q.cast("double") * F.col("__scale"))
        * (x - q.cast("double") * F.col("__scale")),
    )
    err = F.aggregate(
        F.transform(sq, lambda x: F.round(x * 1e9).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return staged.withColumn("err_1e9", err).select(
        id_col, "dim", F.round("__scale", 6).alias("scale"), "codes", "err_1e9"
    )


def margin_mine(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    knn_k: int = 4,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Margin-based pair mining between two embedding corpora — the
    bitext-mining criterion of Artetxe & Schwenk ("Margin-based Parallel
    Corpus Mining with Multilingual Sentence Embeddings", 2019; the
    CCMatrix/LASER pipeline): a raw cosine threshold can't separate true
    pairs from dense hubs, so each candidate's cosine is RATIO-scored
    against the average cosine of both endpoints' k nearest neighbours
    in the opposite corpus::

        margin(x, y) = cos(x, y) / ( avg_kNN(x)/2 + avg_kNN(y)/2 )

    Returns one row per LEFT item: its best-margin right candidate,
    with ``mutual`` true when the pair is also the best margin for the
    right item (the forward∩backward filter the paper recommends for
    precision). Columns: ``{left_id}_l, {right_id}_r, cos, margin_ppm,
    mutual`` — margin in integer parts-per-million.

    Exact-integer discipline: per-pair cosines come 6dp-rounded from
    :func:`cosine_topk`; micro-unit sums and one integer division make
    the margin layout-independent and SQL-twin-reproducible (float
    means of the kNN cosines would be summation-order-dependent)::

        margin_ppm = (cos_micro · 2·a_k·b_k · 10^6)
                     div (a_sum·b_k + b_sum·a_k)

    with a_sum/a_k the micro-sum/count of x's kNN cosines in RIGHT and
    b_sum/b_k of y's kNN in LEFT (counts matter when a corpus is
    smaller than ``knn_k``). Candidates are the union of forward and
    backward kNN pairs; pairs whose normalizer is ≤ 0 (possible only
    when every neighbour cosine is negative — no meaningful margin)
    are dropped.

    Scale shape: two :func:`cosine_topk` passes (each scans one corpus
    once, no shuffle, the other side broadcast under
    ``max_query_rows``), two bounded-width grouped sums, and joins on
    pair endpoints whose cardinality is ≤ (|L| + |R|)·knn_k. The id
    spaces of the two corpora may overlap (nothing is self-masked —
    corpora are distinct by contract)."""
    _check_positive(knn_k=knn_k)
    fwd = cosine_topk(
        left, right, left_id, right_id, left_vec, right_vec,
        k=knn_k, include_self=True, max_query_rows=max_query_rows,
    ).select(
        F.col(left_id + "_q").alias("l"),
        F.col(right_id + "_c").alias("r"),
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )
    bwd = cosine_topk(
        right, left, right_id, left_id, right_vec, left_vec,
        k=knn_k, include_self=True, max_query_rows=max_query_rows,
    ).select(
        F.col(left_id + "_c").alias("l"),
        F.col(right_id + "_q").alias("r"),
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )
    return _margin_select(fwd, bwd, left_id, right_id)


def _margin_select(
    fwd: DataFrame, bwd: DataFrame, left_id: str, right_id: str,
    _pinned: bool = False,
) -> DataFrame:
    """Shared margin-scoring tail of :func:`margin_mine` /
    :func:`margin_mine_ivf`: given forward and backward kNN pair frames
    (columns ``l, r, cos_micro``), compute the exact-integer margin,
    pick each left item's best-margin partner, and flag mutual bests.

    Each input frame feeds BOTH its normalizer aggregate and the
    candidate union, so it is checkpointed here — without the pin the
    upstream kNN pass (a full corpus scan per evaluation) would run
    twice per side. LAZY (``eager=False``, as in ``excess_lm_scores``):
    the checkpoint still materializes exactly once, at the first
    action, and is shared by the normalizer aggregate and the candidate
    union — but building the plan (explain, conditional pipelines) no
    longer executes both complete kNN passes at construction time
    (ADVICE r11). Bounded: |corpus| x knn_k rows each, distributed
    across executor storage.

    ``_pinned=True`` (r14, margin_mine_ivf): the caller's fwd/bwd are
    already cheap reads of ONE pinned candidate frame — identical
    LogicalRDD under both subtrees, so the planner's ReuseExchange
    dedupes the per-side window shuffles within the final query and the
    two extra checkpoint-materialization jobs here would buy nothing."""
    if not _pinned:
        fwd = fwd.localCheckpoint(eager=False)
        bwd = bwd.localCheckpoint(eager=False)
    a_norm = fwd.groupBy("l").agg(
        F.sum("cos_micro").alias("a_sum"), F.count(F.lit(1)).alias("a_k")
    )
    b_norm = bwd.groupBy("r").agg(
        F.sum("cos_micro").alias("b_sum"), F.count(F.lit(1)).alias("b_k")
    )
    cand = fwd.unionByName(bwd).dropDuplicates(["l", "r"])
    scored = (
        cand.join(a_norm, "l")
        .join(b_norm, "r")
        .withColumn(
            "margin_ppm",
            F.expr(
                "(cos_micro * 2 * a_k * b_k * 1000000)"
                " div (a_sum * b_k + b_sum * a_k)"
            ),
        )
        .where(F.expr("a_sum * b_k + b_sum * a_k > 0"))
    )
    wl = Window.partitionBy("l").orderBy(F.col("margin_ppm").desc(), F.col("r").asc())
    wr = Window.partitionBy("r").orderBy(F.col("margin_ppm").desc(), F.col("l").asc())
    ranked = scored.withColumn("__rl", F.row_number().over(wl)).withColumn(
        "__rr", F.row_number().over(wr)
    )
    return (
        ranked.where(F.col("__rl") == 1)
        .select(
            F.col("l").alias(left_id + "_l"),
            F.col("r").alias(right_id + "_r"),
            (F.col("cos_micro") / 1e6).alias("cos"),
            "margin_ppm",
            (F.col("__rr") == 1).alias("mutual"),
        )
    )


def _centroid_matrix(cent_df: DataFrame):
    """Collect the (tiny, n_cells x dim) centroid table to a unit-row
    numpy matrix ordered by cell id."""
    pdf = cent_df.toPandas().sort_values("cell", ignore_index=True)
    if list(pdf["cell"]) != list(range(len(pdf))):
        raise ValueError("centroid table must hold cells 0..n_cells-1")
    return _unit_rows(_stack(pdf["centroid"]))


def _probe_order(V, cu, take: int):
    """The (at most) ``take`` nearest cells of each unit row of ``V``
    against the unit centroid matrix ``cu``, nearest first. A stable
    argsort of the negated scores keeps equal scores in ascending-cell
    order — the lowest-cell tiebreak of :func:`_probe_cells`. The one
    probe rule of the executor probes and the driver-side fan-in
    estimate, so the estimate counts exactly the cells the probe picks."""
    import numpy as np

    return np.argsort(-(V @ cu.T), axis=1, kind="stable")[:, :take]


def _probe_cells_distributed(
    df: DataFrame, id_col: str, vec_col: str, cent_bc, n_probe: int
) -> DataFrame:
    """``n_probe`` nearest cells per row, computed EXECUTOR-SIDE (one
    Arrow-batched :func:`_probe_order` pass against the already-broadcast
    centroid matrix ``cent_bc``) and exploded to ``(qid, __qv, __cell)``
    rows — no driver collect, so the "query" side may be a full corpus.
    The TIEBREAK RULE matches :func:`_probe_cells` (equal scores go to
    the lowest cell id), but the scores themselves come from a BLAS
    matmul while ``_probe_cells`` folds the cosine in SQL — last-ulp
    score differences can yield tie-adjacent probe sets that differ
    between the two paths (same caveat as documented on ``_fit_cells``)."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()

    def _probe(batches):
        import pandas as pd

        for p in batches:
            if not len(p):
                continue
            order = _probe_order(_unit_rows(_stack(p["qid_vec"])), cent_bc.value, n_probe)
            rep = np.repeat(np.arange(len(p)), order.shape[1])
            yield pd.DataFrame({
                "qid": p["qid"].to_numpy()[rep],
                "__qv": p["qid_vec"].to_numpy()[rep],
                "__cell": order.ravel().astype(np.int32),
            })

    return df.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qid_vec")
    ).mapInPandas(_probe, schema=f"qid {id_type}, __qv {vec_type}, __cell int")


#: Auto split rule of the IVF cell join (the band_parts discipline of
#: ``dedup._auto_band_parts``): a quantizer cell is ONE cogroup task —
#: AQE cannot split a pandas cogroup — so a hot cell (one dense
#: embedding cluster) is a straggler at scale. Size parts so each
#: (cell, part) task scores about this many rows of a side. 25k rows
#: per part tracks the sqrt-cell sizing norm (1e9-row corpus, ~31k
#: cells of ~31k rows) and, with the query-side chunking inside
#: :func:`_block_topk`, bounds the per-task score block at
#: ``_IVF_Q_CHUNK x 25k`` doubles (~200 MB).
_IVF_TARGET_CELL_ROWS = 25_000
_IVF_MAX_CELL_PARTS = 256
#: Query rows scored per numpy block inside a cogroup task — a pure
#: within-task loop (per-pair scores and per-query top-k are chunk-
#: independent), so the full Q x C cos matrix never materializes.
_IVF_Q_CHUNK = 1024


def _auto_cell_parts(n_rows: int) -> int:
    """ceil(n_rows / target-rows-per-task), clamped to [1, 256]."""
    return max(1, min(_IVF_MAX_CELL_PARTS, -(-n_rows // _IVF_TARGET_CELL_ROWS)))


def _side_sample(df: DataFrame, vec_col: str, max_train_rows: int):
    """One side's raw content-hash sample, ``(matrix, pre-cap row count,
    hashes)`` as :func:`_hash_sampled_matrix` returns it, or ``(None, 0,
    None)`` for an empty side: split sizing then degrades to no split,
    never to an error (the join result is empty anyway)."""
    try:
        return _hash_sampled_matrix(
            df.select(F.col(vec_col).cast("array<double>").alias("v")),
            None, max_train_rows, return_count=True, return_hashes=True,
        )
    except ValueError:
        return None, 0, None


def _fanin_parts(X, n_rows: int, cent, take: int) -> dict[int, int]:
    """Per-cell part counts for one side of the IVF cell join, from that
    side's raw hash sample ``X`` (``None`` for an empty side) and its
    pre-cap row count: each sample row counts toward its ``take``
    nearest cells (1 for a corpus side's assignment, ``n_probe`` for a
    probing side's fan-in), the counts scale to the side's size, and
    :func:`_auto_cell_parts` sizes each cell. Exact counts would cost a
    corpus-sized checkpoint or a second assignment scan; an estimate is
    safe because the join result is identical at ANY parts, so sample
    error only moves the straggler threshold, and a cell hot enough to
    straggle is heavily represented in a uniform sample."""
    import numpy as np

    if X is None:
        return {}
    order = _probe_order(_unit_rows(X), cent, take)
    counts = np.bincount(order.ravel(), minlength=len(cent))
    scale = (n_rows or len(X)) / len(X)
    return {c: _auto_cell_parts(int(counts[c] * scale)) for c in range(len(cent)) if counts[c] > 0}


def _split_grid(
    a: DataFrame, a_id: str, a_parts: dict, b: DataFrame, b_id: str, b_parts: dict, n_cells: int
):
    """The hot-cell 2D split grid of the IVF cell join. Cell ``c`` of
    side ``a`` splits into ``a_parts[c]`` parts by a content hash of
    ``a``'s own id (``pmod(xxhash64(id), parts)`` — deterministic and
    layout-independent), and each ``a`` row is replicated across the
    ``b_parts[c]`` parts of the other side (and symmetrically for
    ``b``), so every (a, b) pair of a cell meets exactly once, in task
    ``(cell, __ap, __bp)``. Missing cells have one part. Returns ``(a,
    b, cogroup keys)``; with every part count at 1 both inputs come back
    unchanged and the key is ``__cell`` alone.

    Exactness: per-pair scores are block-composition-independent
    (``_fold_matmul`` folds dims per pair), no pair is scored twice, and
    a part's local top-k threshold is never above the unsplit cell's,
    so the candidate set only grows and the exact global ranking returns
    the unsplit result (digest-pinned by test). Cost: each row ships
    once per part of the other side, in split cells only."""
    if all(p <= 1 for p in (*a_parts.values(), *b_parts.values())):
        return a, b, ["__cell"]
    parts_df = a.sparkSession.createDataFrame(
        [(c, a_parts.get(c, 1), b_parts.get(c, 1)) for c in range(n_cells)],
        "__cell int, __an int, __bn int",
    )

    def grid(df, id_col, own, own_n, other, other_n):
        return (
            df.join(F.broadcast(parts_df), "__cell")
            .withColumn(own, F.pmod(F.xxhash64(F.col(id_col)), F.col(own_n)).cast("int"))
            # a sequence of ints explodes to int directly (a generator
            # cannot nest inside a cast)
            .withColumn(other, F.explode(F.sequence(F.lit(0), F.col(other_n) - F.lit(1))))
            .drop("__an", "__bn")
        )

    return (
        grid(a, a_id, "__ap", "__an", "__bp", "__bn"),
        grid(b, b_id, "__bp", "__bn", "__ap", "__an"),
        ["__cell", "__ap", "__bp"],
    )


def _block_topk(Q, ids_q, C, ids_c, k: int, include_self: bool = True) -> list:
    """:func:`_local_topk_frames` of one IVF cell block: query rows ``Q``
    against corpus rows ``C``, scored ``_IVF_Q_CHUNK`` queries at a time
    so the score block stays bounded however many queries probe the
    cell. The fold is :func:`cosine_topk`'s ``_fold_matmul`` left fold,
    so scores are bit-identical to the broadcast path and the SQL twin;
    per-pair scores and per-query top-k are chunk-independent, so the
    chunking is invisible in the output."""
    import numpy as np

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import _fold_matmul, _fold_norms

    nc = _fold_norms(C)[None, :]
    frames = []
    for qs in range(0, len(Q), _IVF_Q_CHUNK):
        Qb, ib = Q[qs : qs + _IVF_Q_CHUNK], ids_q[qs : qs + _IVF_Q_CHUNK]
        cos = _fold_matmul(Qb, C) / (_fold_norms(Qb)[:, None] * nc)
        if not include_self:
            cos = np.where(ib[:, None] == ids_c[None, :], -np.inf, cos)
        frames.extend(_local_topk_frames(ib, ids_c, cos, k))
    return frames


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    include_self: bool = True,
    cent_df: DataFrame | None = None,
    max_train_rows: int = 100_000,
    cell_parts: int | None = None,
    query_parts: int | None = None,
) -> DataFrame:
    """Distributed approximate kNN JOIN between two large embedding
    corpora — the pool-scale sibling of :func:`cosine_topk`, with NO
    query-side driver collect or broadcast (no ``max_query_rows`` cap):
    both sides may be 100 TB.

    Shape: a shared coarse quantizer (``cent_df``, or fitted on
    ``corpus`` via :func:`_fit_cells`'s bounded content-hash sample)
    assigns each corpus row its nearest cell and each query row its
    ``n_probe`` nearest cells (both Arrow-batched executor passes); the
    two sides then COGROUP on ``__cell`` and each cell scores as one
    numpy block (:func:`_block_topk`) — each corpus vector crosses the
    shuffle exactly once and each query vector ``n_probe`` times (a
    pair-level join would ship both vectors per CANDIDATE PAIR: measured
    6x slower at 48k/side). Per (query, cell) only the local top-k rows
    (with the same 2e-6 rounding slack as :func:`cosine_topk`) leave
    Python; the exact global ranking runs JVM-side on those few rows.

    Sizing: ``n_cells`` ~ sqrt(corpus rows) keeps cells executor-sized.
    A hot cell is one cogroup task (AQE cannot split a group), and
    raising ``n_cells`` re-fits the whole geometry, so the operator
    splits hot cells itself on the 2D grid of :func:`_split_grid`:
    ``cell_parts`` sub-splits a cell's CORPUS rows (a dense embedding
    cluster), ``query_parts`` its probing QUERIES (a hot query cluster,
    the same straggler and task-memory shape on the other axis). Each
    lever acts on its own side only: ``None`` (default) sizes parts per
    cell from a content-hash sample of that side (:func:`_fanin_parts`;
    one ``max_train_rows``-capped sample pass, except that the corpus
    side reuses the in-call quantizer fit's sample when no ``cent_df``
    is given), ``1`` keeps the
    side unsplit with no sizing pass, and an int > 1 splits every cell
    of that side uniformly. All-cold inputs (every cell under
    ``_IVF_TARGET_CELL_ROWS``) keep the unsplit plan. The result is
    digest-identical at ANY parts values.

    The quantizer fit is driver-side
    O(restarts · iters · min(sample, max_train_rows) · n_cells · dim);
    cap ``max_train_rows`` near 100-300 rows per cell (the FAISS
    training heuristic) when n_cells is large — centroids only steer
    recall, never correctness of returned scores.

    With ``n_probe == n_cells`` every pair is a candidate and the
    result EQUALS :func:`cosine_topk` (same rounding, same tiebreak) —
    the digest check the tests pin. Returns
    ``({query_id}_q, {corpus_id}_c, cos, rank)``."""
    import numpy as np
    import pandas as pd

    _check_positive(k=k, n_probe=n_probe, cell_parts=cell_parts, query_parts=query_parts)
    corpus_sample = None
    if cent_df is None:
        _, cent_df, fit_X, fit_n = _fit_cells(
            corpus, corpus_id, corpus_vec, n_cells, seed,
            max_train_rows=max_train_rows, return_sample=True,
        )
        corpus_sample = (fit_X, fit_n)
    cent = _centroid_matrix(cent_df)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cent)
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    cvec_type = corpus.schema[corpus_vec].dataType.simpleString()
    assigned = fan_out(
        corpus.select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("__cv"))
    ).mapInPandas(
        _cell_assign_mapper(bc), schema=f"cid {cid_type}, __cv {cvec_type}, __cell int"
    )
    qcells = _probe_cells_distributed(fan_out(queries), query_id, query_vec, bc, n_probe)
    qid_type = queries.schema[query_id].dataType.simpleString()

    def side_parts(parts, df, vec, take, sample=None):
        if parts is not None:
            return dict.fromkeys(range(len(cent)), parts)
        X, n_rows = sample or _side_sample(df, vec, max_train_rows)[:2]
        return _fanin_parts(X, n_rows, cent, take)

    pmap = side_parts(cell_parts, corpus, corpus_vec, 1, corpus_sample)
    qmap = side_parts(query_parts, queries, query_vec, n_probe)
    qcells, assigned, keys = _split_grid(qcells, "qid", qmap, assigned, "cid", pmap, len(cent))

    def _score_cell(lq: pd.DataFrame, rc: pd.DataFrame) -> pd.DataFrame:
        frames = []
        if len(lq) and len(rc):
            frames = _block_topk(
                _stack(lq["__qv"]), lq["qid"].to_numpy(),
                _stack(rc["__cv"]), rc["cid"].to_numpy(), k, include_self,
            )
        if frames:
            return pd.concat(frames, ignore_index=True)
        return pd.DataFrame({"qid": lq["qid"].iloc[:0], "cid": rc["cid"].iloc[:0],
                             "cos": np.array([], dtype=np.float64)})

    scored = (
        qcells.groupBy(*keys)
        .cogroup(assigned.groupBy(*keys))
        .applyInPandas(_score_cell, schema=f"qid {qid_type}, cid {cid_type}, cos double")
        .withColumn("cos", F.round("cos", 6))
    )
    return _rank_probe_hits(scored, query_id, corpus_id, k)


def _probe_assign_mapper(cent_bc, n_probe: int):
    """mapInPandas function computing BOTH quantizer roles for one side
    of :func:`margin_mine_ivf`'s bidirectional IVF join in a single
    executor pass: the row's nearest-cell ASSIGNMENT (corpus role —
    the exact ``_assign_cells`` call :func:`_cell_assign_mapper` makes)
    and its ``n_probe`` nearest PROBE cells (query role — the exact
    :func:`_probe_order` :func:`_probe_cells_distributed` runs). Emits
    one row per (input row, cell) with two role flags; the assignment
    cell is normally ``order[0]`` of the probe set, so the output is
    ``n_probe`` rows per input row — an extra assignment-only row is
    emitted only if BLAS last-ulp differences between the argmax and
    the argsort paths ever diverge (same caveat as documented on
    ``_probe_cells_distributed``), so each role is exactly the cell set
    :func:`ivf_knn_join` computes for it."""
    import numpy as np

    def _f(batches):
        import pandas as pd

        cu = cent_bc.value
        for p in batches:
            if not len(p):
                continue
            V = _unit_rows(_stack(p["__v"]))
            order = _probe_order(V, cu, n_probe)
            acell = _assign_cells(V, cu)
            rep = np.repeat(np.arange(len(p)), order.shape[1])
            cells = order.ravel().astype(np.int32)
            probe = np.ones(len(cells), dtype=bool)
            assigned = cells == acell[rep].astype(np.int32)
            missing = np.flatnonzero(~(order == acell[:, None]).any(axis=1))
            if len(missing):
                rep = np.concatenate([rep, missing])
                cells = np.concatenate([cells, acell[missing].astype(np.int32)])
                probe = np.concatenate([probe, np.zeros(len(missing), dtype=bool)])
                assigned = np.concatenate([assigned, np.ones(len(missing), dtype=bool)])
            ids = p["id"].to_numpy()
            vecs = p["__v"].to_numpy()
            yield pd.DataFrame({
                "id": ids[rep],
                "__v": vecs[rep],
                "__cell": cells,
                "__probe": probe,
                "__assigned": assigned,
            })

    return _f


def margin_mine_ivf(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    knn_k: int = 4,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """Pool-scale :func:`margin_mine`: identical margin criterion and
    output contract, but the kNN passes run through the distributed
    IVF cell join — no query-side collect/broadcast, so BOTH corpora
    may exceed ``margin_mine``'s ``max_query_rows`` cap (mining all of
    a 100 TB left corpus against a 100 TB right one).

    The coarse quantizer is fitted ONCE on a bounded content-hash
    sample of the UNION of both corpora, so forward and backward
    passes share one cell geometry (a per-side fit would make the two
    probe sets inconsistent near cell borders for no recall gain).

    Execution: forward and backward kNN share ONE cogroup pass. Each
    side is scanned once by :func:`_probe_assign_mapper`, which emits
    the row under both quantizer roles (its assignment cell = corpus
    role, its ``n_probe`` probe cells = query role, exactly the cells
    :func:`ivf_knn_join` would compute per direction); one
    ``applyInPandas`` per cell then scores the forward block (left
    probes x right assignments) AND the backward block (right probes x
    left assignments) with :func:`_block_topk`, so per-pair scores are
    bit-identical to the per-direction joins. The scored candidates are
    pinned once (lazy localCheckpoint) and ranked per direction with
    the exact windows :func:`_rank_probe_hits` uses.

    Hot cells split on the 2D grid of :func:`_split_grid`, sized per
    side and per cell by :func:`_fanin_parts` from the side's probe
    fan-in on the already-paid hash samples (a probe set contains the
    assignment cell, so the fan-in bounds both roles' populations).
    The result is digest-identical at any split.

    Approximation scope: the kNN sets (candidates AND the margin's
    kNN-average normalizers) are IVF-approximate; with
    ``n_probe == n_cells`` the probe is exhaustive and the result
    equals :func:`margin_mine` exactly (pinned by test). Recall at
    n_probe < n_cells follows the IVF recall curve of
    ``tools/ann_recall.py``."""
    import numpy as np
    import pandas as pd

    _check_positive(knn_k=knn_k, n_probe=n_probe)
    union_vecs = left.select(F.col(left_vec).alias("embedding")).unionByName(
        right.select(F.col(right_vec).alias("embedding"))
    )
    # ONE content-hash sample pass per side feeds the union quantizer
    # fit (the union's lowest-hash max_train_rows rows are a subset of
    # the two sides' lowest-hash sets — merge by hash, truncate) and
    # that side's split sizing. The merge equals sampling the union
    # outright PROVIDED each side's 1.05x+64-slack hash threshold
    # retained min(n, max_train_rows) rows — overwhelmingly probable,
    # not guaranteed; in the tail the merged fit sees marginally fewer
    # union rows, which only steers recall (centroids never affect
    # returned scores). The two passes (a count + a capped collect each)
    # are independent — submit them from two driver threads so the
    # second side's jobs back-fill the first's stragglers. Each target
    # is wrapped on its own so its jobs keep the caller's JVM local
    # properties (job group, description, scheduler pool).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(inheritable_thread_target(left.sparkSession)(_side_sample), df, vec, max_train_rows)
            for df, vec in ((left, left_vec), (right, right_vec))
        ]
        (XL, nL, uL), (XR, nR, uR) = (f.result() for f in futures)
    if XL is None and XR is None:
        raise ValueError(
            "cannot fit a quantizer on an empty (or fully sampled-out) corpus"
        )
    parts = [(X, u) for X, u in ((XL, uL), (XR, uR)) if X is not None]
    Xall = np.concatenate([p[0] for p in parts])
    uall = np.concatenate([p[1] for p in parts])
    order = np.argsort(uall, kind="stable")
    union_sample = Xall[order][:max_train_rows]
    # Fit on the union: _fit_cells' assignment output is lazy and
    # discarded — only the (driver-side, sample-bounded) centroid fit
    # is paid here, on the merged sample (zero extra scans).
    _, _, cent_raw = _fit_cells(
        union_vecs.withColumn("__uid", F.monotonically_increasing_id()),
        "__uid", "embedding", n_cells, seed, max_train_rows=max_train_rows,
        _sample=(union_sample, nL + nR), return_centroids=True,
    )
    # unit-normalize driver-side — the exact op (and values)
    # _centroid_matrix would recover from cent_df, without its collect job
    cent = _unit_rows(cent_raw)
    spark = left.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    lid_type = left.schema[left_id].dataType.simpleString()
    rid_type = right.schema[right_id].dataType.simpleString()
    lvec_type = left.schema[left_vec].dataType.simpleString()
    rvec_type = right.schema[right_vec].dataType.simpleString()
    lrows = fan_out(
        left.select(F.col(left_id).alias("id"), F.col(left_vec).alias("__v"))
    ).mapInPandas(
        _probe_assign_mapper(bc, n_probe),
        schema=f"id {lid_type}, __v {lvec_type}, __cell int, "
               "__probe boolean, __assigned boolean",
    )
    rrows = fan_out(
        right.select(F.col(right_id).alias("id"), F.col(right_vec).alias("__v"))
    ).mapInPandas(
        _probe_assign_mapper(bc, n_probe),
        schema=f"id {rid_type}, __v {rvec_type}, __cell int, "
               "__probe boolean, __assigned boolean",
    )
    lrows, rrows, keys = _split_grid(
        lrows, "id", _fanin_parts(XL, nL, cent, n_probe),
        rrows, "id", _fanin_parts(XR, nR, cent, n_probe), len(cent),
    )

    def _score_bidir(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        frames: list = []
        # forward: left probes x right assignments; backward: the reverse,
        # with the (query, corpus) ids swapped back into (l, r)
        for d, q, c in (
            (0, l[l["__probe"]], r[r["__assigned"]]),
            (1, r[r["__probe"]], l[l["__assigned"]]),
        ):
            if not len(q) or not len(c):
                continue
            Q, C = _stack(q["__v"]), _stack(c["__v"])
            for fr in _block_topk(Q, q["id"].to_numpy(), C, c["id"].to_numpy(), knn_k):
                frames.append(pd.DataFrame({
                    "__dir": d,
                    "l": fr["cid"] if d else fr["qid"],
                    "r": fr["qid"] if d else fr["cid"],
                    "cos": fr["cos"],
                }))
        if frames:
            return pd.concat(frames, ignore_index=True)
        return pd.DataFrame({
            "__dir": np.array([], dtype=np.int32),
            "l": l["id"].iloc[:0],
            "r": r["id"].iloc[:0],
            "cos": np.array([], dtype=np.float64),
        })

    scored = (
        lrows.groupBy(*keys)
        .cogroup(rrows.groupBy(*keys))
        .applyInPandas(
            _score_bidir, schema=f"__dir int, l {lid_type}, r {rid_type}, cos double"
        )
        .withColumn("cos", F.round("cos", 6))
        # ONE materialization of the heavy pass: both directions' rank
        # windows (and through them _margin_select's normalizers and
        # candidate union) read this pin instead of re-running the
        # cogroup per direction. Lazy, like _margin_select's own pins.
        .localCheckpoint(eager=False)
    )
    wf = Window.partitionBy("l").orderBy(F.col("cos").desc(), F.col("r").asc())
    wb = Window.partitionBy("r").orderBy(F.col("cos").desc(), F.col("l").asc())
    cos_micro = F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro")
    fwd = (
        scored.where(F.col("__dir") == 0)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= knn_k)
        .select("l", "r", cos_micro)
    )
    bwd = (
        scored.where(F.col("__dir") == 1)
        .withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= knn_k)
        .select("l", "r", cos_micro)
    )
    return _margin_select(fwd, bwd, left_id, right_id, _pinned=True)


def ndcg_binary(
    results: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    relevant_totals: DataFrame,
    total_col: str,
    k: int,
) -> DataFrame:
    """nDCG@k of a ranked retrieval result under BINARY relevance — the
    quality readout that closes the similarity family's loop: run any
    top-k operator (brute force, IVF, PQ, LSH), mark which hits are
    truly relevant, and score the RANKING, position-discounted, not
    just the hit count.

    ``results``: one row per (query, retrieved doc) with its 1-based
    ``rank_col`` and 0/1 ``rel_col``. ``relevant_totals``: per query,
    how many relevant docs exist in the whole corpus (``total_col``) —
    that is what the classic ideal DCG truncates against (a query with
    3 relevant docs can at best fill ranks 1..3).

    Exactness: each rank's discount ``1/log2(r+1)`` is micro-rounded
    ONCE into an integer weight; DCG is then an exact bigint sum of
    ``rel * w(rank)``, and the ideal DCG the exact prefix sum of the
    same weights up to ``min(k, total)`` — identical integers on any
    engine/layout, one float division at the end (6dp). Binary
    relevance only — for graded relevance see :func:`ndcg_graded`,
    which keeps the ideal computable from a per-query grade histogram
    instead of a per-query corpus-wide sort.

    Scale shape: one hash aggregation of the (≤ k per query) result
    rows + a per-query equi-join with the totals table; the ideal
    prefix sum is a ≤ k-element HOF fold, row-local codegen.

    Returns ``(query_col, hits, n_relevant, ndcg)``; ``ndcg`` NULL for
    queries with no relevant docs anywhere (ideal DCG undefined).
    """
    _check_positive(k=k)
    w_micro = (
        f"CAST(round(1000000 * ln(2) / ln({rank_col} + 1), 0) AS BIGINT)"
    )
    per_q = (
        results.filter(F.col(rank_col) <= k)
        .groupBy(query_col)
        .agg(
            F.sum(F.expr(f"CAST({rel_col} AS BIGINT) * {w_micro}")).alias("__dcg"),
            F.sum(F.col(rel_col).cast("bigint")).alias("hits"),
        )
    )
    joined = per_q.join(relevant_totals, query_col, "inner")
    ideal_n = F.least(F.lit(k).cast("bigint"), F.col(total_col).cast("bigint"))
    idcg = F.when(
        ideal_n > 0,
        F.aggregate(
            F.sequence(F.lit(1).cast("bigint"), ideal_n),
            F.lit(0).cast("bigint"),
            lambda acc, r: acc
            + F.round(1000000 * F.log(F.lit(2.0)) / F.log(r + 1), 0).cast("bigint"),
        ),
    )
    return joined.select(
        query_col,
        "hits",
        F.col(total_col).cast("bigint").alias("n_relevant"),
        F.when(
            idcg > 0, F.round(F.col("__dcg").cast("double") / idcg.cast("double"), 6)
        ).alias("ndcg"),
    )


def ndcg_graded(
    results: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    grade_totals: DataFrame,
    grade_col: str,
    count_col: str,
    k: int,
    max_grade: int = 30,
) -> DataFrame:
    """nDCG@k under GRADED relevance — the general form of
    :func:`ndcg_binary` with exponential gains ``2^grade - 1``
    (the web-search convention; grade 0 = irrelevant).

    The graded ideal DCG is a per-query corpus-wide sort of grades —
    exactly what the binary closed form avoids. The scale trick here:
    the caller supplies ``grade_totals``, the per-query histogram of
    POSITIVE grades over the whole corpus (``grade_col``,
    ``count_col``; grade-0 rows may be included and are ignored). The
    ideal ranking is then derivable without touching the corpus: sort
    the histogram by grade descending, each grade occupies a contiguous
    rank span ``[cum_before+1, cum_before+count]``, and its ideal
    contribution is ``gain(grade) * sum(w_micro(r))`` over the span
    clipped to ``k``. One window + one fold over a ≤ (#queries ×
    #grades)-row frame — never a per-query corpus sort.

    Exactness discipline matches :func:`ndcg_binary`: each rank's
    discount is micro-rounded ONCE into an integer weight
    (``w_micro(r) = round(1e6 * ln 2 / ln(r+1))``), gains are exact
    bigints via ``shiftleft``, DCG and ideal DCG are exact bigint sums
    — identical on any engine/layout — with one float division at the
    end (6dp). Grades above ``max_grade`` raise (``2^grade`` would
    overflow the micro-weighted bigint product); ``max_grade`` itself
    is capped at 40 (gain*w_micro*k must stay inside int64).

    ``results``: one row per (query, retrieved doc) with 1-based
    ``rank_col`` and integer ``rel_col`` >= 0 (NULL counts as 0).
    Returns ``(query_col, graded_hits, n_graded, ndcg)``; ``ndcg``
    NULL for queries with no positively-graded doc anywhere.
    """
    _check_positive(k=k)
    if not (0 < max_grade <= 40):
        raise ValueError(f"max_grade must be in (0, 40], got {max_grade}")
    w_micro = f"CAST(round(1000000 * ln(2) / ln({rank_col} + 1), 0) AS BIGINT)"
    gain = (
        f"CASE WHEN {rel_col} IS NULL THEN CAST(0 AS BIGINT)"
        f" WHEN {rel_col} > {max_grade} OR {rel_col} < 0 THEN"
        f" CAST(raise_error('ndcg_graded: grade out of [0, {max_grade}]') AS BIGINT)"
        f" ELSE shiftleft(CAST(1 AS BIGINT), CAST({rel_col} AS INT)) - CAST(1 AS BIGINT) END"
    )
    per_q = (
        results.filter(F.col(rank_col) <= k)
        .groupBy(query_col)
        .agg(
            F.sum(F.expr(f"({gain}) * {w_micro}")).alias("__dcg"),
            F.sum((F.coalesce(F.col(rel_col), F.lit(0)) > 0).cast("bigint")).alias(
                "graded_hits"
            ),
        )
    )
    g = F.col(grade_col)
    hist = (
        grade_totals.filter((g > 0) & (F.col(count_col) > 0))
        .groupBy(query_col, grade_col)
        .agg(F.sum(F.col(count_col).cast("bigint")).alias("__cnt"))
    )
    win = Window.partitionBy(query_col).orderBy(g.desc())
    before = F.coalesce(
        F.sum("__cnt").over(win.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    gain_g = (
        f"CASE WHEN {grade_col} > {max_grade} THEN"
        f" CAST(raise_error('ndcg_graded: grade out of [0, {max_grade}]') AS BIGINT)"
        f" ELSE shiftleft(CAST(1 AS BIGINT), CAST({grade_col} AS INT)) - CAST(1 AS BIGINT) END"
    )
    span_hi = F.least(before + F.col("__cnt"), F.lit(k).cast("bigint"))
    contrib = F.when(
        before + 1 <= k,
        F.expr(gain_g)
        * F.aggregate(
            F.sequence(before + 1, span_hi),
            F.lit(0).cast("bigint"),
            lambda acc, r: acc
            + F.round(1000000 * F.log(F.lit(2.0)) / F.log(r + 1), 0).cast("bigint"),
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    ideal = (
        hist.select(query_col, contrib.alias("__c"), F.col("__cnt"))
        .groupBy(query_col)
        .agg(F.sum("__c").alias("__idcg"), F.sum("__cnt").alias("n_graded"))
    )
    joined = per_q.join(ideal, query_col, "left")
    return joined.select(
        query_col,
        "graded_hits",
        F.coalesce(F.col("n_graded"), F.lit(0).cast("bigint")).alias("n_graded"),
        F.when(
            F.col("__idcg") > 0,
            F.round(F.col("__dcg").cast("double") / F.col("__idcg").cast("double"), 6),
        ).alias("ndcg"),
    )
