"""Margin-based pair mining (operators/similarity.py margin_mine).

The sequential reference reproduces the exact micro-int arithmetic in
plain Python, so values (not just ordering) are pinned.
"""

from __future__ import annotations

import math

import pytest

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import margin_mine


def _cos6(a, b) -> float:
    num = sum(x * y for x, y in zip(a, b))
    den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    return round(num / den, 6)


def _reference(left: dict, right: dict, k: int):
    cosm = {
        (l, r): round(_cos6(lv, rv) * 1_000_000)
        for l, lv in left.items() for r, rv in right.items()
    }
    fwd = {
        l: sorted(right, key=lambda r: (-cosm[(l, r)], r))[:k] for l in left
    }
    bwd = {
        r: sorted(left, key=lambda l: (-cosm[(l, r)], l))[:k] for r in right
    }
    a = {l: (sum(cosm[(l, r)] for r in fwd[l]), len(fwd[l])) for l in left}
    b = {r: (sum(cosm[(l, r)] for l in bwd[r]), len(bwd[r])) for r in right}
    cand = {(l, r) for l in left for r in fwd[l]} | {
        (l, r) for r in right for l in bwd[r]
    }
    margins = {}
    for l, r in cand:
        (asum, ak), (bsum, bk) = a[l], b[r]
        den = asum * bk + bsum * ak
        if den > 0:
            n = cosm[(l, r)] * 2 * ak * bk * 1_000_000
            # truncating integer division toward zero, in EXACT integer
            # arithmetic on both branches (ADVICE r10: int(n / den) goes
            # through a float and can be 1 off near an exact quotient)
            margins[(l, r)] = n // den if n >= 0 else -((-n) // den)
    best_l = {
        l: min((p for p in margins if p[0] == l),
               key=lambda p: (-margins[p], p[1]), default=None)
        for l in left
    }
    best_r = {
        r: min((p for p in margins if p[1] == r),
               key=lambda p: (-margins[p], p[0]), default=None)
        for r in right
    }
    out = {}
    for l, p in best_l.items():
        if p is None:
            continue
        out[l] = (p[1], cosm[p] / 1e6, margins[p], best_r[p[1]] == p)
    return out


# LEFT corpus with a clear partner structure; RIGHT contains a "hub"
# (close to everything) and specific partners — the shape margin
# scoring exists to disambiguate.
LEFT = {
    0: [1.0, 0.05, 0.0],
    2: [0.05, 1.0, 0.0],
    4: [0.4, 0.4, 0.8],
}
RIGHT = {
    1: [0.95, 0.1, 0.05],   # partner of 0
    3: [0.1, 0.9, 0.1],     # partner of 2
    5: [0.5, 0.5, 0.5],     # hub: fairly close to everyone
}


def _run(spark, k=2):
    rows_l = [(i, v) for i, v in LEFT.items()]
    rows_r = [(i, v) for i, v in RIGHT.items()]
    l = spark.createDataFrame(rows_l, "vec_id long, embedding array<float>")
    r = spark.createDataFrame(rows_r, "vec_id long, embedding array<float>")
    out = margin_mine(l, r, "vec_id", "vec_id", knn_k=k)
    return {
        row["vec_id_l"]: (
            row["vec_id_r"], row["cos"], row["margin_ppm"], row["mutual"]
        )
        for row in out.collect()
    }


def test_margin_matches_sequential_reference(spark):
    # float32 storage: the reference must see the same rounded vectors
    import numpy as np

    left32 = {i: [float(np.float32(x)) for x in v] for i, v in LEFT.items()}
    right32 = {i: [float(np.float32(x)) for x in v] for i, v in RIGHT.items()}
    got = _run(spark, k=2)
    want = _reference(left32, right32, k=2)
    assert got == want
    # the planted partners win and are mutual
    assert got[0][0] == 1 and got[0][3]
    assert got[2][0] == 3 and got[2][3]


def test_margin_layout_independent(spark):
    rows_l = [(i, v) for i, v in LEFT.items()]
    rows_r = [(i, v) for i, v in RIGHT.items()]
    l = spark.createDataFrame(rows_l, "vec_id long, embedding array<float>")
    r = spark.createDataFrame(rows_r, "vec_id long, embedding array<float>")
    a = margin_mine(l, r, "vec_id", "vec_id", knn_k=2).collect()
    b = margin_mine(
        l.repartition(5), r.repartition(3), "vec_id", "vec_id", knn_k=2
    ).collect()
    key = lambda rows: sorted(tuple(x) for x in rows)  # noqa: E731
    assert key(a) == key(b)


def test_margin_rejects_bad_k(spark):
    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="knn_k"):
        margin_mine(df, df, "vec_id", "vec_id", knn_k=0)


def _bigger_corpora(spark, nl=60, nr=50, d=8, seed=7):
    """Deterministic clustered corpora big enough to exercise several
    cells: left item i prefers right item i % nr."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.normal(size=(nr, d))
    right_rows = [(j, [float(x) for x in base[j]]) for j in range(nr)]
    left_rows = [
        (i, [float(x) for x in base[i % nr] + 0.05 * rng.normal(size=d)])
        for i in range(nl)
    ]
    l = spark.createDataFrame(left_rows, "vec_id long, embedding array<float>")
    r = spark.createDataFrame(right_rows, "vec_id long, embedding array<float>")
    return l, r


def test_margin_mine_ivf_exhaustive_probe_equals_exact(spark):
    """VERDICT r10 #5: with n_probe == n_cells every pair is a
    candidate, so the pool-scale path must reproduce margin_mine
    EXACTLY — same rounding, same margins, same mutual flags."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import margin_mine_ivf

    l, r = _bigger_corpora(spark)
    exact = sorted(tuple(x) for x in margin_mine(l, r, "vec_id", "vec_id", knn_k=3).collect())
    ivf = sorted(tuple(x) for x in margin_mine_ivf(
        l, r, "vec_id", "vec_id", knn_k=3, n_cells=4, n_probe=4
    ).collect())
    assert ivf == exact and len(ivf) == 60


def test_margin_mine_ivf_layout_independent_and_approx_sane(spark):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import margin_mine_ivf

    l, r = _bigger_corpora(spark)
    a = margin_mine_ivf(l, r, "vec_id", "vec_id", knn_k=3, n_cells=4, n_probe=2)
    b = margin_mine_ivf(
        l.repartition(7), r.repartition(5), "vec_id", "vec_id",
        knn_k=3, n_cells=4, n_probe=2,
    )
    key = lambda df: sorted(tuple(x) for x in df.collect())  # noqa: E731
    ka, kb = key(a), key(b)
    assert ka == kb
    # approximate probe still recovers most planted partners
    got = {row[0]: row[1] for row in ka}
    hits = sum(1 for i, j in got.items() if j == i % 50)
    assert hits >= 0.7 * len(got) and len(got) >= 50


def test_ivf_knn_join_exhaustive_equals_cosine_topk(spark):
    """n_probe == n_cells makes the distributed kNN join candidate set
    the full cross product: ranking, rounding, and tiebreaks must then
    match cosine_topk row for row (both include_self settings)."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import cosine_topk, ivf_knn_join

    l, r = _bigger_corpora(spark, nl=25, nr=20)
    for inc in (True, False):
        want = sorted(tuple(x) for x in cosine_topk(
            l, r, "vec_id", "vec_id", k=4, include_self=inc
        ).collect())
        got = sorted(tuple(x) for x in ivf_knn_join(
            l, r, "vec_id", "vec_id", k=4, n_cells=3, n_probe=3, include_self=inc
        ).collect())
        assert got == want


def test_ivf_knn_join_guards(spark):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="k must"):
        ivf_knn_join(df, df, "vec_id", "vec_id", k=0)
    with pytest.raises(ValueError, match="n_probe"):
        ivf_knn_join(df, df, "vec_id", "vec_id", n_probe=0)


def test_margin_select_checkpoints_are_lazy(spark):
    """ADVICE r11: _margin_select's checkpoints are lazy — building the
    margin plan must not execute the two kNN pair frames at
    construction time (margin_mine's only construction-time jobs remain
    cosine_topk's documented capped query-matrix collects). Pin: zero
    Spark jobs run inside the construction-scoped job group."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import _margin_select

    pairs = [(1, 10, 900000), (1, 11, 850000), (2, 10, 800000)]
    fwd = spark.createDataFrame(pairs, "l long, r long, cos_micro bigint")
    bwd = spark.createDataFrame(pairs, "l long, r long, cos_micro bigint")
    sc = spark.sparkContext
    group = "margin-lazy-probe"
    sc.setJobGroup(group, "construction must schedule no jobs")
    try:
        df = _margin_select(fwd, bwd, "vec_id", "vec_id")
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # and the lazily-checkpointed plan still evaluates correctly
    assert {row["vec_id_l"] for row in df.collect()} == {1, 2}


def _skewed_corpora(spark, n_hot=80, n_cold=20, d=8, seed=3):
    """One dense embedding cluster (the deliberately hot quantizer cell)
    plus a scattered tail — the straggler shape cell_parts exists for."""
    import numpy as np

    rng = np.random.default_rng(seed)
    hub = rng.normal(size=d)
    rows = [
        (i, [float(x) for x in hub + 0.02 * rng.normal(size=d)])
        for i in range(n_hot)
    ] + [
        (n_hot + j, [float(x) for x in rng.normal(size=d)])
        for j in range(n_cold)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df


def test_ivf_knn_join_cell_parts_digest_equal(spark):
    """VERDICT r11 #2: splitting a hot cell across cell_parts must be
    invisible in the output — per-pair scores are block-composition-
    independent and the global ranking is exact, so the uniform-split
    and per-cell-auto paths must reproduce the unsplit digests row for
    row, at both partial and exhaustive probe widths."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators import similarity
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    df = _skewed_corpora(spark)
    for n_probe in (2, 4):
        base = sorted(tuple(x) for x in ivf_knn_join(
            df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=n_probe,
            include_self=False, cell_parts=1,
        ).collect())
        assert len(base) >= 100 * 2  # every row found neighbors
        split = sorted(tuple(x) for x in ivf_knn_join(
            df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=n_probe,
            include_self=False, cell_parts=5,
        ).collect())
        assert split == base


def test_ivf_knn_join_auto_cell_parts_splits_hot_cell(spark, monkeypatch):
    """The auto rule (cell_parts=None) must actually engage on a hot
    cell — parts > 1 for the dense cluster's cell — and still match the
    unsplit digests."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators import similarity
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    monkeypatch.setattr(similarity, "_IVF_TARGET_CELL_ROWS", 16)
    sized = []
    orig = similarity._auto_cell_parts
    monkeypatch.setattr(
        similarity, "_auto_cell_parts", lambda n: sized.append(n) or orig(n)
    )
    df = _skewed_corpora(spark)
    got = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=4,
        include_self=False, cell_parts=None,
    ).collect())
    assert sized and max(orig(n) for n in sized) > 1, (
        "auto sizing never split the deliberately hot cell"
    )
    want = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=4,
        include_self=False, cell_parts=1,
    ).collect())
    assert got == want


def test_ivf_knn_join_cell_parts_guard(spark):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="cell_parts"):
        ivf_knn_join(df, df, "vec_id", "vec_id", cell_parts=0)


def test_ivf_knn_join_query_parts_digest_equal(spark):
    """The symmetric query-side split (and the 2D combo with
    cell_parts) must be invisible in the output — distinct queries are
    independent, and each (query, corpus) pair meets exactly once on
    the 2D grid."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    df = _skewed_corpora(spark)
    base = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=2,
        include_self=False, cell_parts=1, query_parts=1,
    ).collect())
    qsplit = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=2,
        include_self=False, cell_parts=1, query_parts=4,
    ).collect())
    assert qsplit == base
    grid = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=2,
        include_self=False, cell_parts=3, query_parts=2,
    ).collect())
    assert grid == base


def test_ivf_knn_join_auto_query_parts_splits_hot_fanin(spark, monkeypatch):
    """The auto query-fan-in estimator must engage on the dense
    cluster (its queries all probe one cell) and still match the
    unsplit digests."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators import similarity
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    monkeypatch.setattr(similarity, "_IVF_TARGET_CELL_ROWS", 16)
    df = _skewed_corpora(spark)
    got = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=2,
        include_self=False, cell_parts=1, query_parts=None,
    ).collect())
    want = sorted(tuple(x) for x in ivf_knn_join(
        df, df, "vec_id", "vec_id", k=3, n_cells=4, n_probe=2,
        include_self=False, cell_parts=1, query_parts=1,
    ).collect())
    assert got == want


def test_ivf_knn_join_query_parts_guard(spark):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ivf_knn_join

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="query_parts"):
        ivf_knn_join(df, df, "vec_id", "vec_id", query_parts=0)


def test_margin_mine_ivf_side_samples_keep_the_callers_job_group(spark):
    """margin_mine_ivf runs its two side-sample passes from helper
    threads; their jobs must stay in the caller's job group, so none of
    them shows up as a job without a group."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import margin_mine_ivf

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    l, r = _bigger_corpora(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("margin-ivf", "margin-ivf")
    try:
        margin_mine_ivf(l, r, "vec_id", "vec_id", knn_k=3, n_cells=4, n_probe=4).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup("margin-ivf")


def test_margin_mine_ivf_split_grid_digest_equal(spark, monkeypatch):
    """margin_mine_ivf sizes its 2D split grid per side from the hash
    samples: on two skewed corpora the sizing must split a hot cell,
    and the split result must equal the unsplit one row for row."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators import similarity
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import margin_mine_ivf

    l, r = _skewed_corpora(spark, seed=3), _skewed_corpora(spark, seed=5)
    key = lambda df: sorted(tuple(x) for x in df.collect())  # noqa: E731
    base = key(margin_mine_ivf(l, r, "vec_id", "vec_id", knn_k=3, n_cells=4, n_probe=2))
    monkeypatch.setattr(similarity, "_IVF_TARGET_CELL_ROWS", 16)
    sized = []
    orig = similarity._auto_cell_parts
    monkeypatch.setattr(
        similarity, "_auto_cell_parts", lambda n: sized.append(n) or orig(n)
    )
    split = key(margin_mine_ivf(l, r, "vec_id", "vec_id", knn_k=3, n_cells=4, n_probe=2))
    assert sized and max(orig(n) for n in sized) > 1, (
        "auto sizing never split a hot cell"
    )
    assert split == base and len(base) == 100
