"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in
``data_pipeline_evolution_batch_streaming_apache_flink_spark.plans.suite``;
this module is the thin driver-facing façade.

Ordering contract (driver-checked window rotation)
--------------------------------------------------
The driver's correctness harness caps at the FIRST 50 ``queries()``
entries, while the suite declares 178.  To accumulate driver-side
evidence for every query over successive rounds, ``queries()`` /
``oracle_sql()`` emit a deterministic per-round ordering:

* slots 1–33: ``PINNED`` — the SURVEY §2-canonical queries (every §2
  operator ID keeps a driver-checked witness every round) plus the
  prompt-mandated LLM-pipeline families (dedup ×5, similarity brute +
  IVF, text analysis, multimodal).
* slots 34–50: the RETRY LANE then a cohort from ``ROTATION``.

  Retry lane (rounds >= 8, VERDICT r7 #2): any non-pinned query whose
  LATEST committed driver row is red (rows/schema/hash false, or an
  err other than the rows-only ``no_oracle`` record) occupies the
  first rotation slots, so a fix produces driver evidence the very
  next round instead of waiting for the wheel to wrap (~9 rounds).

  Cohort: the remaining slots are filled from ``ROTATION`` (a
  committed fixed order — never-driver-checked as of round 5 first,
  in suite-registration order, then the previously-checked rest) by a
  circular pointer that advances exactly as many wheel positions as
  each round consumed: 17/round historically (rounds 6–7, before the
  lane existed), and in lane rounds ``17 - len(lane)`` plus any wheel
  position skipped because the query is already in-window via the
  lane (it IS driver-checked that round, so it is not re-served).
  The pointer is replayed deterministically from the COMMITTED
  CORRECTNESS_r*.json artifacts next to this module; the round number
  is N = count + 1, counting only rounds strictly below
  ``FIRST_UNRECORDED_ROUND`` so the artifact the current round's
  driver itself writes cannot shift the window mid-round (ADVICE r6).
  The window advances each round by committing the previous artifact
  and bumping ``FIRST_UNRECORDED_ROUND``; a guard test nags if the
  bump is forgotten.
* slots 51–178: the remaining queries in ``ROTATION`` order (the local
  full-suite mirror ``tools/check_oracle.py`` still runs all of them).

``tests/test_driver_contract.py`` pins this manifest: the first 50
keys must equal ``PINNED`` + the current cohort, and the full key set
must stay a permutation of ``suite.QUERIES`` — a refactor cannot
silently rotate a canonical query out of the driver's window.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_evolution_batch_streaming_apache_flink_spark.plans import suite

# SURVEY §2-canonical (24) + prompt-mandated LLM-pipeline families (9).
# These stay in the driver-checked window every round.
PINNED: list[str] = [
    "pricing_summary",
    "enriched_orders",
    "view_projection",
    "time_functions",
    "hourly_counts",
    "region_revenue",
    "cube_revenue",
    "supplier_stats",
    "array_membership_join",
    "unnest_join",
    "lookup_join",
    "asof_join",
    "asof_tolerance",
    "interval_join",
    "changelog_compaction",
    "debezium_pipeline",
    "logical_decoding",
    "app_sql_pipeline",
    "top_orders",
    "set_ops",
    "semi_anti_join",
    "window_rank",
    "rollup_revenue",
    "distinct_agg_having",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "similarity_topk",
    "similarity_ivf_topk",
    "text_analysis",
    "multimodal_features",
]

# Fixed rotation order: queries never driver-checked as of round 5
# (CORRECTNESS_r01..r05) first, in suite-registration order, then the
# previously-checked extension queries.  Committed as a static list so
# the cohort for any round is reproducible from the repo alone.
ROTATION: list[str] = [
    # --- never driver-checked through round 5 (105) ---
    "hop_counts",
    "cumulate_counts",
    "bpe_tokenize",
    "profile_columns",
    "unpivot_metrics",
    "near_dedup",
    "dedup_lines",
    "contamination_check",
    "curation_pipeline",
    "bm25_scores",
    "repetition_stats",
    "fuzzy_join",
    "expectations_check",
    "snapshot_diff",
    "weighted_sample",
    "zorder_index",
    "semantic_dedup",
    "rolling_features",
    "incremental_agg",
    "cep_funnel",
    "cep_strict",
    "duplicate_spans",
    "mask_dup_spans",
    "approx_distinct",
    "psi_drift",
    "hashed_features",
    "kmeans",
    "lm_scores",
    "cms_heavy_hitters",
    "interpolate",
    "hist_quantiles",
    "ewma_features",
    "repeat_mix",
    "span_corruption",
    "bm25_topk",
    "normalize_text",
    "mad_outliers",
    "key_skew",
    "corr_matrix",
    "gopher_quality",
    "asof_forward",
    "asof_nearest",
    "pagerank",
    "grouping_sets",
    "standardize",
    "cooccur_pmi",
    "triangle_census",
    "char_entropy",
    "bloom_prune",
    "window_distribution",
    "dataset_split",
    "range_join_pairs",
    "rrf_fusion",
    "hop_distinct_users",
    "hop_hll_users",
    "pagerank_weighted",
    "k_hop_reach",
    "pagerank_personalized",
    "hits_scores",
    "link_prediction",
    "url_dedup",
    "global_ids",
    "dedup_containment",
    "table_digest",
    "record_linkage_em",
    "record_linkage",
    "variant_shred",
    "xml_ingest",
    "nb_classify",
    "winnow_pairs",
    "source_overlap",
    "html_extract",
    "ks_drift",
    "pca_project",
    "negative_sample",
    "lpa_communities",
    "equidepth_bins",
    "k_anonymity",
    "cohort_retention",
    "mannwhitney_drift",
    "cusum_alerts",
    "trend_lines",
    "chi2_independence",
    "kcore",
    "fk_audit",
    "rake_keywords",
    "woe_iv",
    "acf_features",
    "hll_overlap",
    "benford_audit",
    "association_rules",
    "transition_matrix",
    "assortativity",
    "winsorize",
    "zipf_fit",
    "local_clustering",
    "lsh_incremental",
    "seasonal_decompose",
    "quantile_normalize",
    "roc_auc",
    "cuped_metrics",
    "ndcg_eval",
    "ndcg_graded_eval",
    "welch_ttest",
    "js_divergence",
    # --- previously driver-checked extension queries (26) ---
    "similarity_pq_topk",
    "similarity_ivfpq_topk",
    "similarity_lsh_pairs",
    "token_histogram",
    "skew_safe_collect",
    "bigram_topk",
    "chunk_documents",
    "quantize_embeddings",
    "pack_sequences",
    "stratified_sample",
    "take_per_stratum",
    "pii_scrub",
    "regex_token_stats",
    "sessionize",
    "session_windows",
    "quality_percentile",
    "temperature_mix",
    "training_prep",
    "pivot_events",
    "median_metrics",
    "dedup_clusters",
    "tfidf_topterms",
    "scd2_intervals",
    "hourly_spine_gapfill",
    "vector_normalize",
    "json_props_stats",
    # --- added r9 (appended: the wheel replay only reads positions the
    # --- pointer has visited, and it is far from wrapping) ---
    "balanced_shards",
    "budget_select",
    "calibration_bins",
    # --- added r10 (appended, same wheel-stability argument) ---
    "dsir_weights",
    "margin_mine",
    "tokenizer_fertility",
    "soft_dedup",
    "cross_lm_scores",
    "ts_correlation_topk",
    # --- added r11 (appended, same wheel-stability argument) ---
    "margin_mine_ivf",
    "ts_lagged_topk",
    "kcenter_select",
    "excess_lm_scores",
    # --- added r12 (appended, same wheel-stability argument) ---
    "domain_mixture",
]

COHORT_SIZE = 50 - len(PINNED)  # 17
FIRST_ROTATED_ROUND = 6

# Rounds strictly below this are COMMITTED driver artifacts; the file the
# CURRENT round's driver writes (CORRECTNESS_r{this}.json, untracked
# until the next round's start commit) must NOT advance the window
# mid-round (ADVICE r6, medium: re-invoking the entry point after the
# artifact lands would silently shift slots 34-50 to the next cohort).
# Bump by 1 at the start of each round, when the previous round's
# artifact gets committed.
FIRST_UNRECORDED_ROUND = 15

# The retry lane exists from round 8 (VERDICT r7 #2); earlier rounds
# consumed a fixed 17-wide cohort slice, and the replay below must
# reproduce that history exactly to keep the wheel pointer stable.
LANE_SINCE_ROUND = 8

# From round 9 the lane also catches CONTRACT UPGRADES (VERDICT r8 #2):
# a query whose latest committed driver row is the weaker rows-only
# record (err == 'no_oracle') but which NOW declares a SQL twin in
# ``suite.ORACLE`` has strengthened its contract since the driver last
# saw it, and needs a hash-green row without waiting for the wheel to
# wrap (~6 rounds).  Gated by round so the round-8 window replay —
# computed before this rule existed — stays byte-identical.
UPGRADE_LANE_SINCE_ROUND = 9

# Replay-stability freeze (review r9): the upgrade test `q in
# suite.ORACLE` reads the CURRENT code state, so replaying a COMPLETED
# round's lane through it would shift the wheel pointer whenever an
# oracle is later added or removed (e.g. pca_project gaining a twin).
# Once a round's artifact is committed, its upgrade set is therefore
# frozen here — same discipline as FIRST_UNRECORDED_ROUND, nagged by
# the same guard test. Only the CURRENT round computes dynamically.
FROZEN_UPGRADE_LANES: dict[int, tuple[str, ...]] = {
    9: ("bpe_tokenize",),
    10: (),
    # r11's dynamic upgrade set was empty (its lane slot was the
    # pca_project RED retry, not an upgrade) — computed from the
    # committed artifacts before bumping FIRST_UNRECORDED_ROUND to 12.
    11: (),
    # r12's dynamic upgrade set was empty (no latest-committed row is
    # rows-only while declaring a suite.ORACLE twin) — computed from
    # the committed r01–r11 artifacts before bumping
    # FIRST_UNRECORDED_ROUND to 13.
    12: (),
    # r13's dynamic upgrade set was empty (same check over the
    # committed r01–r12 artifacts) — computed before bumping
    # FIRST_UNRECORDED_ROUND to 14.
    13: (),
    # r14's dynamic upgrade set was empty (same check over the
    # committed r01–r13 artifacts) — computed before bumping
    # FIRST_UNRECORDED_ROUND to 15.
    14: (),
}


def current_round() -> int:
    """Round number inferred from driver artifacts committed next to
    this module: CORRECTNESS_r01..r0{N-1} exist when round N runs.
    Only rounds strictly below ``FIRST_UNRECORDED_ROUND`` count, so the
    artifact the current round's driver itself writes cannot rotate the
    window mid-round."""
    here = os.path.dirname(os.path.abspath(__file__))
    n = 0
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", f)
        if m and int(m.group(1)) < FIRST_UNRECORDED_ROUND:
            n += 1
    return max(n + 1, FIRST_ROTATED_ROUND)


def _committed_artifacts() -> list[tuple[int, dict]]:
    """(round, rows) for every committed CORRECTNESS artifact below
    ``FIRST_UNRECORDED_ROUND``, ascending by round."""
    here = os.path.dirname(os.path.abspath(__file__))
    out: list[tuple[int, dict]] = []
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", f)
        if m and int(m.group(1)) < FIRST_UNRECORDED_ROUND:
            with open(f) as fh:
                out.append((int(m.group(1)), json.load(fh)))
    return sorted(out)


def _is_red(row: dict) -> bool:
    """A driver row counts as red unless every present check passed.
    The rows-only record (err == 'no_oracle', null matches) is the
    driver's declared weaker check for oracle-less queries — not red."""
    if row.get("err") == "no_oracle":
        return False
    return (
        bool(row.get("err"))
        or row.get("rows_match") is False
        or row.get("schema_match") is False
        or row.get("hash_match") is False
    )


def retry_lane(round_no: int) -> list[str]:
    """Non-pinned queries whose LATEST committed driver row (over
    artifacts of rounds < round_no) is red — or, from
    ``UPGRADE_LANE_SINCE_ROUND``, whose latest row is the rows-only
    record while the query now declares a SQL twin (contract upgrade)
    — in ROTATION order, capped at the cohort width. Empty before
    ``LANE_SINCE_ROUND``."""
    if round_no < LANE_SINCE_ROUND:
        return []
    latest: dict[str, dict] = {}
    for rnd, rows in _committed_artifacts():
        if rnd >= round_no:
            continue
        for q, row in rows.items():
            latest[q] = row

    if round_no < UPGRADE_LANE_SINCE_ROUND:
        upgrades: set[str] = set()
    elif round_no in FROZEN_UPGRADE_LANES:
        upgrades = set(FROZEN_UPGRADE_LANES[round_no])
    else:
        upgrades = {
            q for q, row in latest.items()
            if row.get("err") == "no_oracle" and q in suite.ORACLE
        }

    def qualifies(q: str) -> bool:
        row = latest.get(q)
        if row is None:
            return False
        return _is_red(row) or q in upgrades

    return [q for q in ROTATION if qualifies(q)][:COHORT_SIZE]


def _window_plan(round_no: int) -> tuple[list[str], list[str]]:
    """(lane, cohort) for ``round_no``, replaying the wheel pointer
    from round 6 so it is reproducible from the repo alone: each round
    advances the pointer past every wheel position it either served in
    the cohort or skipped because the query was already in-window via
    that round's lane."""
    pos = 0
    for rnd in range(FIRST_ROTATED_ROUND, round_no + 1):
        lane = retry_lane(rnd)
        size = COHORT_SIZE - len(lane)
        cohort: list[str] = []
        while len(cohort) < size:
            q = ROTATION[pos % len(ROTATION)]
            pos += 1
            if q in lane:
                continue
            cohort.append(q)
        if rnd == round_no:
            return lane, cohort
    raise AssertionError(f"round_no {round_no} below FIRST_ROTATED_ROUND")


def rotation_cohort(round_no: int) -> list[str]:
    """The extension queries occupying the driver slots after the
    retry lane in a given round (17 wide when the lane is empty)."""
    return _window_plan(round_no)[1]


def ordered_names(round_no: int | None = None) -> list[str]:
    """All suite query names (178 as of r12) in this round's driver-facing order."""
    rnd = current_round() if round_no is None else round_no
    lane, cohort = _window_plan(rnd)
    window = PINNED + lane + cohort
    in_window = set(window)
    tail = [n for n in ROTATION if n not in in_window]
    return window + tail


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (scenario-1 enriched orders analogue) on sf0.001."""
    return suite.q_enriched_orders(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2,
    ordered per the rotation contract in the module docstring."""
    return {name: suite.QUERIES[name] for name in ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for the declared queries — ``suite.ORACLE`` carries
    one SQL string per ``suite.QUERIES`` entry (approximate operators
    pin recall-1.0 configs so exact SQL twins apply), except two
    intentionally rows-only entries with no SQL twin: ``pca_project``
    (eigendecomposition; determinism pinned by the numpy-parity and
    layout tests in tests/test_stats.py) and ``record_linkage_em``
    (iterative EM fixpoint; convergence and layout-independence pinned
    in tests/test_linkage.py). ``bpe_tokenize`` gained a full unrolled
    SQL twin in r8 (suite._bpe_oracle)."""
    return {
        name: suite.ORACLE[name]
        for name in ordered_names()
        if name in suite.ORACLE
    }
