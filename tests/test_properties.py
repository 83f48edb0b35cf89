"""Property-based tests (hypothesis) for the operators whose semantics
are easy to get subtly wrong: the as-of join (inclusive bound, version
selection, missing keys) against pandas ``merge_asof`` as an independent
oracle, and the MinHash-LSH recall guarantee against the exact
inverted-index Jaccard.

Example counts are small because every example round-trips through Spark;
the generators are biased toward collisions (tiny key/timestamp domains)
so the few examples hit the interesting overlaps.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.joins import asof_join

KEYS = st.integers(min_value=0, max_value=3)
TS = st.integers(min_value=0, max_value=20)  # minutes after a base hour

BASE = pd.Timestamp("2024-01-01 00:00:00")


def _ts(minutes: int):
    return (BASE + pd.Timedelta(minutes=minutes)).to_pydatetime()


dim_rows = st.lists(st.tuples(KEYS, TS, st.integers(0, 100)), min_size=0, max_size=12)
fact_rows = st.lists(st.tuples(KEYS, TS), min_size=1, max_size=12)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(dims=dim_rows, facts=fact_rows)
def test_asof_join_matches_pandas_merge_asof(spark, dims, facts):
    """For every fact, asof_join must pick the latest dim version with
    dim_ts <= fact_ts on the same key (inclusive) — pandas merge_asof with
    direction='backward' computes exactly that."""
    # de-dup dim versions at identical (key, ts): keep max value, matching
    # the operator's documented deterministic winner.
    dim_map = {}
    for k, t, v in dims:
        dim_map[(k, t)] = max(v, dim_map.get((k, t), v))
    dim_list = [(k, _ts(t), v) for (k, t), v in sorted(dim_map.items())]
    fact_list = [(i, k, _ts(t)) for i, (k, t) in enumerate(facts)]

    fact_df = spark.createDataFrame(fact_list, "fid int, k int, fts timestamp")
    if dim_list:
        dim_df = spark.createDataFrame(dim_list, "k int, dts timestamp, v int")
    else:
        dim_df = spark.createDataFrame([], "k int, dts timestamp, v int")

    got = {
        r["fid"]: r["v"]
        for r in asof_join(fact_df, dim_df, key="k", fact_ts="fts", dim_ts="dts").collect()
    }

    fpd = pd.DataFrame(fact_list, columns=["fid", "k", "fts"]).sort_values("fts")
    dpd = pd.DataFrame(dim_list, columns=["k", "dts", "v"]).sort_values("dts")
    if dpd.empty:
        expected = {fid: None for fid in fpd["fid"]}
    else:
        m = pd.merge_asof(
            fpd, dpd, left_on="fts", right_on="dts", by="k",
            direction="backward", allow_exact_matches=True,
        )
        expected = {
            int(r.fid): (None if pd.isna(r.v) else int(r.v)) for r in m.itertuples()
        }
    assert got == expected


# a narrower time domain than TS, so equal-(key, ts) versions are common
CDC_TS = st.integers(min_value=0, max_value=6)
cdc_dim_rows = st.lists(
    st.tuples(KEYS, CDC_TS, st.integers(0, 3), st.sampled_from(["c", "u", "d"])),
    min_size=0, max_size=14,
)
cdc_fact_rows = st.lists(st.tuples(KEYS, CDC_TS), min_size=1, max_size=12)


# pinned cases: equal-(key, ts) versions with a tombstone among them, a
# live/delete tie at one ts, and a later delete, under both join kinds
CDC_DIMS = [(0, 1, 2, "c"), (0, 1, 3, "c"), (0, 1, 3, "d"), (1, 2, 1, "d"),
            (1, 2, 1, "c"), (1, 4, 0, "d"), (3, 0, 1, "u")]
CDC_FACTS = [(0, 1), (0, 3), (1, 2), (1, 3), (1, 5), (2, 0), (3, 0)]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(dims=cdc_dim_rows, facts=cdc_fact_rows, how=st.sampled_from(["left", "inner"]))
@example(dims=CDC_DIMS, facts=CDC_FACTS, how="left")
@example(dims=CDC_DIMS, facts=CDC_FACTS, how="inner")
def test_asof_join_cdc_versions_match_pandas_merge_asof(spark, dims, facts, how):
    """The changelog surface of asof_join against pandas: duplicate
    (key, ts) versions resolve to the max-struct winner (a live version
    beats a tombstone, then the larger image), a winning delete
    tombstones the key until its next version (NULL image under
    ``left``, row dropped under ``inner``). The tiny value domain makes
    equal-(key, ts) duplicates frequent."""
    dim_list = [(k, _ts(t), v, op) for k, t, v, op in dims]
    fact_list = [(i, k, _ts(t)) for i, (k, t) in enumerate(facts)]
    fact_df = spark.createDataFrame(fact_list, "fid int, k int, fts timestamp")
    dim_df = spark.createDataFrame(dim_list, "k int, dts timestamp, v int, op string")
    got = {
        r["fid"]: r["v"]
        for r in asof_join(
            fact_df, dim_df, key="k", fact_ts="fts", dim_ts="dts", how=how, dim_op="op"
        ).collect()
    }

    # winner per (key, ts): max of (live, v), as the struct ordering picks
    dpd = pd.DataFrame(dim_list, columns=["k", "dts", "v", "op"])
    dpd["live"] = dpd["op"] != "d"
    dpd = (
        dpd.sort_values(["k", "dts", "live", "v"])
        .drop_duplicates(["k", "dts"], keep="last")
        .sort_values("dts")
    )
    fpd = pd.DataFrame(fact_list, columns=["fid", "k", "fts"]).sort_values("fts")
    if dpd.empty:
        m = fpd.assign(v=None, live=None)
    else:
        m = pd.merge_asof(fpd, dpd, left_on="fts", right_on="dts", by="k", direction="backward")
    expected = {}
    for r in m.itertuples():
        if pd.notna(r.live) and bool(r.live):
            expected[int(r.fid)] = int(r.v)
        elif how == "left":
            expected[int(r.fid)] = None
    assert got == expected


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
docs = st.lists(
    st.lists(words, min_size=1, max_size=12).map(" ".join),
    min_size=2, max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs)
def test_minhash_lsh_equals_exact_jaccard_at_high_threshold(spark, texts):
    """With bands=64 x rows=2 the candidate-miss probability at
    jaccard >= 0.5 is ~1e-8 and every candidate is verified exactly, so
    LSH output must equal the exact inverted-index pairs."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(df, "doc_id", "text", n=2, threshold=0.5).collect()
    }
    assert lsh == exact


EVENTS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500)),  # (user, ts in seconds)
    min_size=1,
    max_size=25,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=EVENTS)
def test_sessionize_matches_python_reference(spark, events):
    """Session assignment must equal the obvious per-user sequential scan:
    sort a user's events by (ts, id); a new session starts when the gap
    from the previous event exceeds the threshold (strictly)."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.sessions import sessionize

    gap_ms = 60_000  # 1 minute
    rows = [(u, i, t * 1000) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, "user_id int, event_id int, ts_ms long")
    got = {
        (r.user_id, r.event_id): r.session_seq
        for r in sessionize(df, gap="1 minute", tiebreak_cols=("event_id",)).collect()
    }

    expect = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, i, t in rows:
        by_user.setdefault(u, []).append((t, i))
    for u, evs in by_user.items():
        seq, prev = 0, None
        for t, i in sorted(evs):
            if prev is None or t - prev > gap_ms:
                seq += 1
            expect[(u, i)] = seq
            prev = t
    assert got == expect


EDGES = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=EDGES)
def test_connected_components_match_union_find(spark, edges):
    """Iterative min-label propagation must agree with a plain union-find
    on arbitrary small graphs (self-loops excluded by the generator)."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r.node: r.comp for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expect = {n: find(n) for n in parent}
    # canonicalize union-find roots to the component minimum
    comp_min: dict[int, int] = {}
    for n, r in expect.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expect = {n: comp_min[r] for n, r in expect.items()}
    assert got == expect


@given(
    toks=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=60),
    capacity=st.integers(min_value=4, max_value=64),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_matches_sequential_reference(spark, toks, capacity):
    """pack_id/pack_offset must equal the sequential concat-and-chunk
    reference for any token distribution and capacity."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(list(enumerate(toks)), "doc_id long, t long")
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(df, "doc_id", "t", capacity).collect()
    }
    start = 0
    for i, t in enumerate(toks):
        assert got[i] == (start // capacity, start % capacity)
        start += t


@given(
    vals=st.lists(
        st.integers(min_value=-(10 ** 17), max_value=10 ** 17), min_size=1, max_size=20
    ),
    scale=st.integers(min_value=0, max_value=6),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_debezium_decimal_roundtrip(spark, vals, scale):
    """decode(base64(two's-complement bytes of v)) == v / 10^scale for any
    unscaled int64 and scale — positive, negative, zero, multi-byte."""
    import base64
    from decimal import Decimal

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.functions import debezium_decimal

    def enc(v: int) -> str:
        n = max(1, (v.bit_length() + 8) // 8)
        return base64.b64encode(v.to_bytes(n, "big", signed=True)).decode()

    df = spark.createDataFrame([(i, enc(v)) for i, v in enumerate(vals)], "i int, b string")
    got = {r["i"]: r["d"] for r in df.select("i", debezium_decimal("b", scale).alias("d")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == Decimal(v) / (10 ** scale), (v, scale, got[i])


@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dedup_lines_matches_sequential_reference(spark, docs):
    """Corpus-wide first-occurrence line dedup must equal the obvious
    sequential algorithm for any line distribution (tiny line alphabet →
    heavy cross-doc and in-doc collisions)."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import dedup_lines

    rows = [(i, "\n".join(f"line{x}" for x in ls)) for i, ls in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in dedup_lines(df, "doc_id", "text").collect()}
    seen: set[str] = set()
    for i, ls in enumerate(docs):
        kept = []
        for x in ls:
            line = f"line{x}"
            if line not in seen:
                seen.add(line)
                kept.append(line)
        assert got[i] == "\n".join(kept), (i, got[i], kept)


# ---------------------------------------------------------------------------
# duplicate_spans vs sequential reference
# ---------------------------------------------------------------------------

DOC_TEXTS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f"]), min_size=1, max_size=20).map(" ".join),
    min_size=2,
    max_size=8,
)


def _dup_spans_reference(texts, n, min_count):
    grams = {}
    per_doc = []
    for doc_id, text in enumerate(texts):
        toks = text.split()
        pos_grams = [
            (i, " ".join(toks[i : i + n])) for i in range(len(toks) - n + 1)
        ]
        per_doc.append(pos_grams)
        for _, g in pos_grams:
            grams[g] = grams.get(g, 0) + 1
    out = set()
    for doc_id, pos_grams in enumerate(per_doc):
        hits = sorted(i for i, g in pos_grams if grams[g] >= min_count)
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= n:
                spans[-1] = (spans[-1][0], p, spans[-1][2] + 1)
            else:
                spans.append((p, p, 1))
        for s, e, c in spans:
            out.add((doc_id, s, e + n - 1, c))
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=DOC_TEXTS)
def test_duplicate_spans_matches_reference(spark, texts):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dedup import duplicate_spans

    n = 2
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in duplicate_spans(df, n=n, min_count=2).collect()
    }
    assert got == _dup_spans_reference(texts, n, 2)


# ---------------------------------------------------------------------------
# histogram_quantiles error bound: estimate within one bin width of the
# exact quantile, at every level, for arbitrary in-range data
# ---------------------------------------------------------------------------

HQ_VALUES = st.lists(
    st.floats(min_value=0.0, max_value=99.999, allow_nan=False), min_size=5, max_size=200
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=HQ_VALUES)
def test_histogram_quantile_within_bin_width(spark, vals):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.sketches import histogram_quantiles

    bins = 20
    width = 100.0 / bins
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r.q_micro: r.est
        for r in histogram_quantiles(df, "x", 0.0, 100.0, bins=bins).collect()
    }
    sv = sorted(vals)
    for q_micro, est in got.items():
        rank = -(-len(sv) * q_micro // 1_000_000)  # ceil
        exact = sv[max(int(rank) - 1, 0)]
        assert abs(est - exact) <= width + 1e-9, (q_micro, est, exact)


# ------------------------------------------------------- session-4 operators

graph_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=25
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=graph_edges)
def test_triangle_stats_match_bruteforce(spark, edges):
    """Triangle/wedge counts must equal the O(n^3) brute force on any
    small random graph (self-loops and duplicate/reversed edges
    normalized away)."""
    from itertools import combinations

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.graph import triangle_stats

    eset = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({n for e in eset for n in e})
    deg = {n: sum(1 for e in eset if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(None, None)], "src int, dst int"
    ).where("src IS NOT NULL")
    r = triangle_stats(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (
        len(nodes), len(eset), wedges, tris
    )


basket_obs = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 4)), min_size=0, max_size=30
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(obs=basket_obs)
def test_cooccurrence_counts_match_python_reference(spark, obs):
    """Pair/item/basket counts must equal the sequential reference on
    random (basket, item) observations (presence semantics)."""
    from collections import Counter
    from itertools import combinations

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.basket import cooccurrence_pmi

    dedup = sorted(set(obs))
    baskets: dict[int, set[int]] = {}
    for bk, it in dedup:
        baskets.setdefault(bk, set()).add(it)
    item_counts = Counter(it for bk, its in baskets.items() for it in its)
    pair_counts = Counter(
        p for its in baskets.values() for p in combinations(sorted(its), 2)
    )
    df = spark.createDataFrame(
        obs or [(None, None)], "basket int, item int"
    ).where("basket IS NOT NULL")
    got = {
        (r.item_a, r.item_b): r
        for r in cooccurrence_pmi(df, "basket", "item").collect()
    }
    assert set(got) == set(pair_counts)
    for (a, b), r in got.items():
        assert r.pair_count == pair_counts[(a, b)]
        assert r.count_a == item_counts[a]
        assert r.count_b == item_counts[b]
        assert r.n_baskets == len(baskets)


texts_strategy = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
        max_size=40,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=texts_strategy)
def test_char_entropy_matches_python_reference(spark, texts):
    """entropy_micro must equal the exact decomposition computed
    sequentially (UTF-16 code-unit counting, like Spark's length())."""
    import math
    from collections import Counter

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.quality import char_entropy

    def ref(t: str):
        # Spark counts UTF-16 code units for BMP text; the strategy stays
        # below the astral range so code units == codepoints
        n = len(t)
        if n == 0:
            return None
        c = Counter(t)
        s = sum(round(v * math.log(v) * 1e6) for v in c.values())
        return round(math.log(n) * 1e6) - s // n

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {r.doc_id: r.entropy_micro for r in char_entropy(df).collect()}
    want = {i: ref(t) for i, t in enumerate(texts)}
    assert got == want


# ---------------------------------------------------------------------------
# ndcg_graded: the histogram-span ideal DCG equals the definitional
# sort-the-corpus ideal, for arbitrary grade assignments and rankings
# ---------------------------------------------------------------------------

GRADES = st.lists(st.integers(0, 5), min_size=1, max_size=30)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(grades=GRADES, k=st.integers(1, 8), data=st.data())
def test_ndcg_graded_matches_sort_based_definition(spark, grades, k, data):
    import math

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import ndcg_graded

    # retrieve a random subset in a random order as ranks 1..n
    n_ret = data.draw(st.integers(0, len(grades)))
    retrieved = data.draw(st.permutations(range(len(grades))))[:n_ret]

    w = lambda r: round(1_000_000 * math.log(2) / math.log(r + 1))
    gain = lambda g: (1 << g) - 1
    dcg = sum(gain(grades[d]) * w(r) for r, d in enumerate(retrieved, 1) if r <= k)
    idcg = sum(
        gain(g) * w(r)
        for r, g in enumerate(sorted(grades, reverse=True), 1)
        if r <= k
    )
    expected = round(dcg / idcg, 6) if idcg > 0 else None

    res_rows = [(1, r, grades[d]) for r, d in enumerate(retrieved, 1)] or [(1, 1, 0)]
    # the caller-side histogram (positive grades only, count per grade)
    hist_rows = [
        (1, g, sum(1 for x in grades if x == g)) for g in set(grades) if g > 0
    ] or [(1, 1, 0)]
    res = spark.createDataFrame(res_rows, "q long, rank int, rel int")
    hist = spark.createDataFrame(hist_rows, "q long, grade int, cnt long")
    rows = ndcg_graded(res, "q", "rank", "rel", hist, "grade", "cnt", k=k).collect()
    assert len(rows) == 1
    got = rows[0].ndcg
    if expected is None:
        assert got is None
    else:
        assert got == expected, (grades, retrieved, k, got, expected)


ARR_ROWS = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.text(alphabet="abc", max_size=3), min_size=0, max_size=6),
    ),
    min_size=0,
    max_size=15,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(arrs=ARR_ROWS, min_size=st.integers(min_value=1, max_value=4))
def test_explode_noinfer_equals_filter_then_explode(spark, arrs, min_size):
    """util.explode_noinfer's in-generator gate must be row-for-row
    equivalent to filtering on array size then exploding — including
    NULL arrays (no rows either way) and empty arrays."""
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.util import explode_noinfer

    schema = StructType([
        StructField("i", LongType(), False),
        StructField("arr", ArrayType(StringType()), True),
    ])
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrs)], schema)
    got = sorted(
        map(str, df.select("i", explode_noinfer("arr", min_size).alias("e")).collect())
    )
    want = sorted(
        map(
            str,
            df.filter(F.size("arr") >= min_size)
            .select("i", F.explode("arr").alias("e"))
            .collect(),
        )
    )
    assert got == want


# ------------------------------------------------------- round-6 operators

WVALS = st.lists(
    st.one_of(st.integers(-50, 50), st.none()), min_size=1, max_size=20
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    groups=st.lists(st.tuples(st.integers(0, 2), WVALS), min_size=1, max_size=3),
    lo=st.integers(0, 500_000),
    span=st.integers(0, 500_000),
)
def test_winsorize_matches_nearest_rank_reference(spark, groups, lo, span):
    """Per-group clip bounds are the exact nearest-rank order statistics
    rank = max(1, ceil(q*n)); NULLs pass through unclipped and never
    count toward n."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.stats import winsorize

    hi = lo + span
    rows = [(g, v) for g, vals in groups for v in vals]
    df = spark.createDataFrame(rows, "g int, v long")
    got = winsorize(df, ["g"], "v", lower_micro=lo, upper_micro=hi).collect()

    import math

    def bound(vals, q_micro):
        sv = sorted(vals)
        k = max(1, -(-q_micro * len(sv) // 1_000_000))  # ceil, 1-based
        return sv[k - 1]

    by_g = {}
    for g, vals in groups:
        nn = [v for v in vals if v is not None]
        by_g.setdefault(g, []).extend(nn)
    for r in got:
        nn = by_g[r["g"]]
        if r["v"] is None:
            assert r["v_winsorized"] is None and r["clipped"] is None
            continue
        lo_b, hi_b = bound(nn, lo), bound(nn, hi)
        assert r["lo_bound"] == lo_b and r["hi_bound"] == hi_b
        want = min(max(r["v"], lo_b), hi_b)
        assert r["v_winsorized"] == want
        assert r["clipped"] == (want != r["v"])


AUC_ROWS = st.lists(
    st.tuples(st.integers(0, 6), st.booleans()), min_size=1, max_size=40
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=AUC_ROWS)
def test_roc_auc_matches_pair_counting_reference(spark, rows):
    """AUC == P(score_pos > score_neg) + P(tie)/2, counted over every
    (pos, neg) pair — the literal definition the rank-sum machinery
    must reproduce, ties and all; NULL when either class is empty."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.stats import roc_auc

    df = spark.createDataFrame(rows, "score int, label boolean")
    r = roc_auc(df, "score", F.col("label")).collect()[0]
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
    if not pos or not neg:
        assert r["auc"] is None
        return
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = round((wins + ties / 2.0) / (len(pos) * len(neg)), 6)
    assert abs(r["auc"] - want) <= 1e-9, (r["auc"], want)


QN_ROWS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(-10, 10)), min_size=1, max_size=30
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=QN_ROWS)
def test_quantile_normalize_matches_sequential_reference(spark, rows):
    """Each (group, value)'s normalized value is the pooled-global
    order statistic at index clamp(((2*cum - cnt + 1) * N) div (2*n_g),
    1, N) — checked against a direct sequential evaluation of that
    formula (midranks, global sort, nearest-rank lookup)."""
    from collections import Counter

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.stats import quantile_normalize

    df = spark.createDataFrame(rows, "g int, v long")
    got = {
        (r["g"], r["v"]): (r["cnt"], r["normalized"])
        for r in quantile_normalize(df, "g", "v").collect()
    }

    pooled = sorted(v for _, v in rows)
    N = len(pooled)
    want = {}
    for g in {g for g, _ in rows}:
        vals = sorted(v for gg, v in rows if gg == g)
        n_g = len(vals)
        cum = 0
        for v, cnt in sorted(Counter(vals).items()):
            cum += cnt
            idx = ((2 * cum - cnt + 1) * N) // (2 * n_g)
            idx = min(max(idx, 1), N)
            want[(g, v)] = (cnt, pooled[idx - 1])
    assert got == want


IJ_LEFT = st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)), min_size=0, max_size=10)
IJ_RIGHT = st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)), min_size=0, max_size=10)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=IJ_LEFT, right=IJ_RIGHT, lo=st.integers(0, 5), up=st.integers(0, 5))
def test_interval_join_matches_nested_loop_reference(spark, left, right, lo, up):
    """interval_join emits exactly the same-key pairs with
    right_ts in [left_ts - lower, left_ts + upper], both bounds
    INCLUSIVE — checked against the literal nested loop."""
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.joins import interval_join

    ldf = spark.createDataFrame(
        [(k, _ts(m)) for k, m in left], "k int, lts timestamp"
    )
    rdf = spark.createDataFrame(
        [(k, _ts(m)) for k, m in right], "k int, rts timestamp"
    )
    out = interval_join(
        ldf, rdf, "k", "lts", "rts", f"{lo} minutes", f"{up} minutes"
    )
    got = sorted((r["k"], r["lts"], r["rts"]) for r in out.collect())
    want = sorted(
        (lk, _ts(lm), _ts(rm))
        for lk, lm in left
        for rk, rm in right
        if lk == rk and lm - lo <= rm <= lm + up
    )
    assert got == want


VEC = st.lists(
    st.floats(min_value=-4, max_value=4, allow_nan=False, allow_infinity=False,
              width=32),
    min_size=4, max_size=4,
)
# bias toward exact zero vectors so the zero-norm contract path fires
VEC_OR_ZERO = st.one_of(VEC, st.just([0.0, 0.0, 0.0, 0.0]))
CORPUS = st.lists(VEC_OR_ZERO, min_size=2, max_size=10)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=CORPUS, threshold=st.sampled_from([-0.5, 0.0, 0.3, 0.8]))
def test_bucketed_cosine_verify_modes_agree_incl_zero_norm(spark, vecs, threshold):
    """The two verification shapes of bucketed_cosine_pairs (id-only
    pair expansion vs per-bucket matmul) must emit identical (id_a,
    id_b, cos) sets on arbitrary corpora — including zero-norm vectors,
    which both must DROP by the documented contract — and every emitted
    pair must match a literal numpy left-fold reference."""
    import numpy as np

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.similarity import (
        bucketed_cosine_pairs,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    kw = dict(threshold=threshold, n_planes=2, n_tables=6)
    pairs_mode = {(r["id_a"], r["id_b"], r["cos"])
                  for r in bucketed_cosine_pairs(df, "vec_id", "embedding", **kw).collect()}
    bucket_mode = {(r["id_a"], r["id_b"], r["cos"])
                   for r in bucketed_cosine_pairs(df, "vec_id", "embedding", **kw, verify="bucket").collect()}
    assert pairs_mode == bucket_mode
    # literal reference for the emitted pairs: left-fold cosine, 6dp,
    # zero-norm excluded; candidates are LSH-limited so only check that
    # whatever IS emitted is exactly right (precision, not recall)
    arr = [np.array(v, dtype=np.float64) for v in vecs]

    def fold_cos(a, b):
        acc = 0.0
        na = nb = 0.0
        for x, y in zip(a, b):
            acc += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return acc / (np.sqrt(na) * np.sqrt(nb)) if na > 0 and nb > 0 else None
    for ia, ib, cos in pairs_mode:
        ref = fold_cos(arr[ia], arr[ib])
        assert ref is not None, "zero-norm pair emitted despite contract"
        assert round(ref, 6) == cos


# ---------------------------------------------------------------------------
# balanced_shards / budget_select (operators/curation.py, r9): sequential
# single-threaded references computed in plain Python
# ---------------------------------------------------------------------------

shard_rows = st.lists(
    st.tuples(st.integers(0, 10_000)),  # weights; ids assigned by position
    min_size=1, max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=shard_rows, n=st.integers(min_value=1, max_value=5))
def test_balanced_shards_matches_sequential_snake(spark, rows, n):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.curation import balanced_shards

    data = [(i, w) for i, (w,) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, w long")
    got = {r["id"]: r["shard_id"] for r in balanced_shards(df, "w", n, "id").collect()}
    order = sorted(data, key=lambda t: (-t[1], t[0]))
    want = {}
    for rank, (i, _) in enumerate(order):
        rnd, pos = divmod(rank, n)
        want[i] = pos if rnd % 2 == 0 else n - 1 - pos
    assert got == want
    totals = [0] * n
    for i, w in data:
        totals[got[i]] += w
    assert max(totals) - min(totals) <= max(w for _, w in data)


sel_rows = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 30)),  # (score, cost)
    min_size=1, max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=sel_rows, budget=st.integers(min_value=0, max_value=300))
def test_budget_select_matches_sequential_prefix(spark, rows, budget):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.curation import budget_select

    data = [(i, s, c) for i, (s, c) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, score long, cost long")
    got = {r["id"]: r["selected"]
           for r in budget_select(df, "score", "cost", budget, "id").collect()}
    run, want = 0, {}
    for i, _, c in sorted(data, key=lambda t: (-t[1], t[0])):
        run += c
        want[i] = run <= budget
    assert got == want


# ---------------------------------------------------------------------------
# ts_correlation_topk (operators/timeseries.py, r10): numpy.corrcoef is the
# sequential reference — exact to 6dp because the engine's integer centering
# and left-fold cosine reproduce Pearson without float drift
# ---------------------------------------------------------------------------

ts_mats = st.lists(  # per-series bucket counts, some possibly constant
    st.lists(st.integers(0, 9), min_size=4, max_size=4),
    min_size=2, max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(mat=ts_mats)
def test_ts_correlation_matches_numpy(spark, mat):
    import numpy as np

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.timeseries import ts_correlation_topk

    rows = [(sid, b) for sid, counts in enumerate(mat)
            for b, c in enumerate(counts) for _ in range(c)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "sid long, b int")
    got = {(r["sid_q"], r["rank"]): (r["sid_c"], r["cos"])
           for r in ts_correlation_topk(df, "sid", "b", 4, k=2).collect()}
    # live series: appear in df AND non-constant over the 4 buckets
    live = [s for s, c in enumerate(mat) if sum(c) > 0 and len(set(c)) > 1]
    want = {}
    if len(live) >= 2:
        M = np.array([mat[s] for s in live], dtype=np.float64)
        C = np.corrcoef(M)
        for qi, q in enumerate(live):
            scored = sorted(((round(C[qi, ci], 6), c)
                             for ci, c in enumerate(live) if c != q),
                            key=lambda t: (-t[0], t[1]))
            for rank, (cos, c) in enumerate(scored[:2], start=1):
                want[(q, rank)] = (c, cos)
    assert got == want


# ---------------------------------------------------------------------------
# dsir_weights (operators/dsir.py, r10): plain-python hashlib reference
# ---------------------------------------------------------------------------

dsir_corpora = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=5),
    min_size=1, max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(toks=dsir_corpora, tmask=st.integers(min_value=1, max_value=255))
def test_dsir_matches_reference_on_random_corpora(spark, toks, tmask):
    import hashlib
    import math

    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.dsir import dsir_weights

    raw = {i: " ".join(ws) for i, ws in enumerate(toks)}
    target_ids = {i for i in raw if (tmask >> (i % 8)) & 1}
    if not target_ids:
        target_ids = {0}
    B = 64

    def h(g):
        acc = 0
        for ch in hashlib.md5(g.encode()).hexdigest()[:15]:
            acc = acc * 16 + int(ch, 16)
        return acc % B

    def grams(text):
        t = text.strip().split() if text.strip() else [""]
        return t + [t[i] + chr(31) + t[i + 1] for i in range(len(t) - 1)]

    rb, tb, per = {}, {}, {}
    for i, text in raw.items():
        bs = [h(g) for g in grams(text)]
        per[i] = bs
        for b in bs:
            rb[b] = rb.get(b, 0) + 1
            if i in target_ids:
                tb[b] = tb.get(b, 0) + 1
    ct, cr = sum(tb.values()), sum(rb.values())
    lr = {b: round((math.log(tb.get(b, 0) + 1.0) - math.log(rb[b] + 1.0)
                    + math.log(cr + B) - math.log(ct + B)) * 1e6) for b in rb}
    want = {i: (len(bs), sum(lr[b] for b in bs)) for i, bs in per.items()}

    df = spark.createDataFrame(list(raw.items()), "doc_id long, text string")
    tgt = df.where(F.col("doc_id").isin([int(x) for x in target_ids]))
    got = {r["doc_id"]: (r["n_grams"], r["logw_micro"])
           for r in dsir_weights(df, tgt, n_buckets=B).collect()}
    assert got == want
