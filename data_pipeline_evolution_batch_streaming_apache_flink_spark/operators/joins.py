"""Join operators beyond Spark's built-ins (SURVEY §2.4).

The reference exercises: multi-way equi-joins (J1, Catalyst-native),
array UNNEST joins (J3), processing-time lookup joins (J4), event-time
AS-OF temporal joins (J5) and interval joins (J6). J1 is plain
``df.join``; the rest live here.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def unnest_join(
    fact: DataFrame,
    dim: DataFrame,
    array_col: str,
    dim_key: str,
    fact_cols: list[str] | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """``CROSS JOIN UNNEST(fact.array_col)`` + equi-join to ``dim``
    (reference flink-applications/01-basic-jdbc.json:30, J3).

    Multiset-preserving: duplicate array elements produce duplicate output
    rows. This is the scalable rewrite of the PG ``= ANY(array)`` theta
    join (J2) — the reference itself performs the same rewrite for Flink
    (README.md:144). explode keeps the fact's partitioning; the dim side
    broadcasts, so no shuffle is introduced at any scale.
    """
    cols = fact_cols or [c for c in fact.columns if c != array_col]
    exploded = fact.select(*cols, F.explode(array_col).alias("__elem"))
    d = F.broadcast(dim) if broadcast_dim else dim
    return exploded.join(d, exploded["__elem"] == d[dim_key]).drop("__elem")


def lookup_join(
    stream: DataFrame,
    lookup: DataFrame,
    on: Column | str | list[str],
    how: str = "inner",
    proctime_col: str | None = "proctime",
) -> DataFrame:
    """Processing-time lookup join — Flink ``JOIN t FOR SYSTEM_TIME AS OF
    t.proctime ON key`` (reference flink-applications/03-flink-cdc-jdbc.json:18).

    Spark realization: a stream-static join. Structured Streaming
    re-evaluates the static side every micro-batch, which IS
    "current state of the lookup table at processing time" — at per-batch
    rather than per-row granularity. The reference documents the same
    consistency window for its per-row lookups (README.md:268-301); ours is
    per-batch-snapshot, strictly more consistent within a batch.

    Works identically on batch DataFrames (one "batch" = the whole input).
    """
    out = stream.join(lookup, on=on, how=how)
    if proctime_col:
        out = out.withColumn(proctime_col, F.current_timestamp())
    return out


def _ident(name: str) -> str:
    """``name`` quoted as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _str(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


# names asof_join gives its working columns (plus __k0.. for the keys)
_ASOF_COLUMNS = ("__ts", "__is_fact", "__dim", "__bver", "__bts", "__fver", "__fts", "__chosen", "__version")


def asof_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str | list[str],
    fact_ts: str,
    dim_ts: str,
    how: str = "left",
    tolerance: str | None = None,
    dim_op: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Event-time temporal join — Flink ``JOIN dim FOR SYSTEM_TIME AS OF
    fact.ts ON key`` (reference flink-applications/06-flink-cdc-temporal-join.json:30):
    each fact row joins the dim **version valid at the fact's event time**
    (latest dim row with ``dim_ts <= fact_ts`` per key).

    ``dim_op``: name of a CDC op column on the dim side (``c``/``u``/``d``).
    A delete event becomes a TOMBSTONE version: facts at-or-after it (until
    the next insert/update) match nothing — NULL image under ``left``,
    dropped under ``inner`` — matching Flink's temporal-join behavior for a
    deleted key (the reference's changelog dims, REPLICA IDENTITY FULL).
    Without ``dim_op`` every dim row is a live version (plain versioned
    table).

    Batch implementation (SURVEY §2.4 J5 strategy (a)): union the fact and
    dim changelog, one window over (key, ts) carrying the last non-null dim
    image forward. Exactly ONE shuffle (hash on key) + an in-partition sort —
    no O(n*versions) range join blowup, so it survives 100x fact growth;
    hot keys are handled by AQE skew splitting on the window's shuffle.
    Duplicate dim versions at the same (key, ts) need no pre-aggregation
    (that would be a second shuffle): the window ordering breaks the tie
    by the dim image itself, so last-in-frame = max struct — the same
    deterministic winner, folded into the one sort.

    The plan is built in a constant number of JVM calls, however many
    columns either side has: two ``selectExpr`` projections, one
    ``unionByName`` and one SQL statement over a temporary view of the
    union. A chain of joins thus costs the driver a few milliseconds per
    join, not a py4j round trip per column. Fact columns pass through
    under their own names, so they must not use the working names
    ``__k0``.. and ``_ASOF_COLUMNS`` (``ValueError``).

    ``tolerance``: optional max staleness (e.g. "1 hour") — dim versions
    older than ``fact_ts - tolerance`` do not match (merge_asof-style).
    Output: all fact columns + dim's non-key/non-ts columns (NULL when no
    version exists and ``how='left'``; rows dropped when ``how='inner'``).

    ``direction`` (pandas ``merge_asof`` surface; Flink only has backward):

    - ``backward`` — latest dim version with ``dim_ts <= fact_ts`` (default,
      the reference's temporal-join semantics).
    - ``forward`` — earliest dim version with ``dim_ts >= fact_ts`` (same
      one-shuffle plan, the in-partition sort reversed; tolerance bounds
      ``dim_ts <= fact_ts + tolerance``).
    - ``nearest`` — whichever of the two is closer in event time; exact
      ties prefer the backward match. Both candidates come off ONE key
      shuffle (two in-partition sorts share the exchange — no second
      Exchange appears in the plan).

    Equal-(key, ts) dim duplicates resolve to the same max-struct winner in
    every direction, so backward and forward agree on exactly-at-ts facts.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    keys = [key] if isinstance(key, str) else list(key)
    clash = sorted(set(fact.columns) & {*_ASOF_COLUMNS, *(f"__k{i}" for i in range(len(keys)))})
    if clash:
        raise ValueError(f"fact columns {clash} clash with asof_join's internal columns")
    dim_payload = [c for c in dim.columns if c not in keys and c not in (dim_ts, dim_op)]
    join_keys = [(_ident(k), f"__k{i}") for i, k in enumerate(keys)]

    # Tag and align the two sides on a common layout:
    #   (__k0.., __ts, __is_fact, __dim struct, fact columns...)
    # __dim leads with __live so a delete (live=false) is itself a carried
    # version; at equal (key, ts) the struct tie-break prefers live over
    # tombstone, then max image — deterministic either way. Each side
    # lacks the other's columns; unionByName fills them with typed NULLs.
    live = f"NOT ({_ident(dim_op)} IN ('d', 'D'))" if dim_op else "true"
    image = "".join(f", {_str(c)}, {_ident(c)}" for c in dim_payload)
    dim_side = dim.selectExpr(
        *[f"{k} AS {i}" for k, i in join_keys],
        f"CAST({_ident(dim_ts)} AS TIMESTAMP) AS __ts",
        "0 AS __is_fact",
        f"named_struct('__live', {live}{image}) AS __dim",
    )
    fact_side = fact.selectExpr(
        "*",
        *[f"{k} AS {i}" for k, i in join_keys],
        f"CAST({_ident(fact_ts)} AS TIMESTAMP) AS __ts",
        "1 AS __is_fact",
    )
    unioned = dim_side.unionByName(fact_side, allowMissingColumns=True)

    # dim rows sort before fact rows at equal ts (__is_fact 0 < 1), giving
    # inclusive AS-OF semantics (version effective AT fact_ts matches);
    # equal-(ts,side) dim ties order by the image, making the carried
    # version the max struct (deterministic) without a dedup shuffle.
    # Forward direction = the same running-carry over the REVERSED sort
    # (desc ts); both sorts hash-partition on the same keys, so nearest
    # costs one Exchange + two in-partition sorts, never two shuffles.
    partition = ", ".join(i for _, i in join_keys)
    carried, version = [], {}
    for side, reverse in (("b", False), ("f", True)):
        if direction not in ("nearest", "forward" if reverse else "backward"):
            continue
        w = (
            f"OVER (PARTITION BY {partition} ORDER BY __ts {'DESC' if reverse else 'ASC'}"
            " NULLS FIRST, __is_fact ASC, __dim ASC NULLS FIRST"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        carried += [
            f"last(__dim, true) {w} AS __{side}ver",
            f"last(CASE WHEN __is_fact = 0 THEN __ts END, true) {w} AS __{side}ts",
        ]
        ver, vts = f"__{side}ver", f"__{side}ts"
        if tolerance is not None:
            within = (
                f"{vts} <= __ts + INTERVAL {tolerance}" if reverse
                else f"{vts} >= __ts - INTERVAL {tolerance}"
            )
            ver, vts = f"CASE WHEN {within} THEN {ver} END", f"CASE WHEN {within} THEN {vts} END"
        version[side] = (ver, vts)

    if direction == "nearest":
        (bver, bts), (fver, fts) = version["b"], version["f"]
        # ties (equidistant versions) prefer the backward match
        back_wins = (
            f"({fver}) IS NULL OR (({bver}) IS NOT NULL AND"
            f" unix_micros(__ts) - unix_micros({bts}) <= unix_micros({fts}) - unix_micros(__ts))"
        )
        chosen = f"CASE WHEN {back_wins} THEN {bver} ELSE {fver} END"
    else:
        chosen = version["f" if direction == "forward" else "b"][0]

    # the rest is one SQL statement over the union: a tombstone (or
    # NULL-op) version then matches like no version at all
    output = ", ".join(
        [_ident(c) for c in fact.columns]
        + [f"__version.{_ident(c)} AS {_ident(c)}" for c in dim_payload]
    )
    view = f"__asof_{uuid.uuid4().hex}"
    unioned.createOrReplaceTempView(view)
    try:
        return unioned.sparkSession.sql(
            f"SELECT {output} FROM ("
            " SELECT *, CASE WHEN __chosen.__live THEN __chosen END AS __version FROM ("
            f"  SELECT *, {chosen} AS __chosen FROM ("
            f"   SELECT *, {', '.join(carried)} FROM {view})))"
            " WHERE __is_fact = 1" + (" AND __version IS NOT NULL" if how == "inner" else "")
        )
    finally:
        unioned.sparkSession.catalog.dropTempView(view)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join (reference README.md:539, J6):
    match rows with ``right_ts BETWEEN left_ts - lower AND left_ts + upper``
    on the same key.

    Batch: an equi-join on key plus a range predicate — Catalyst executes
    hash-join-then-filter, one shuffle per side. In streaming both sides
    need watermarks; Structured Streaming's stream-stream join supports the
    same predicate shape natively.
    """
    keys = [key] if isinstance(key, str) else list(key)
    l = left.alias("l")
    r = right.alias("r")
    cond = None
    for k in keys:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    cond = cond & (
        F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lower}")
    ) & (
        F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
    )
    return l.join(r, cond, how)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_ms: int,
    upper_ms: int,
) -> DataFrame:
    """KEYLESS event-time range join — ``right_ts BETWEEN left_ts -
    lower_ms AND left_ts + upper_ms`` with no equi-key — executed as an
    equi-join via time binning instead of the BroadcastNestedLoopJoin
    Catalyst would otherwise plan (the Databricks "range join
    optimization" / binned-join technique, absent from OSS Spark).

    Bin width = the window length, so every right row lands in exactly
    one bin and every left row's window spans AT MOST TWO consecutive
    bins: the left side explodes to its (<= 2 distinct) candidate bins,
    both sides equi-join on the bin id — ONE hash shuffle per side —
    and the exact predicate filters bin-mates outside the window. Each
    qualifying pair is produced exactly once (the right row's bin is
    unique). The exact comparison is in MICROSECONDS (parquet timestamp
    precision), so boundary rows agree bit-for-bit with an engine
    comparing raw timestamps.

    Scale: shuffle volume is |left|*<=2 + |right| rows keyed by bin —
    never the |left|x|right| nested loop. Skew = hot bins (a traffic
    burst); mitigate by narrowing the window or pre-filtering, the
    standard bursty-data play. Inner semantics only (compose anti/outer
    from it); column names must be disjoint — rename before calling
    (this is usually a self-join).
    """
    if lower_ms < 0 or upper_ms < 0:
        raise ValueError(f"lower_ms/upper_ms must be >= 0, got {lower_ms}/{upper_ms}")
    overlap = sorted(set(left.columns) & set(right.columns))
    if overlap:
        raise ValueError(
            f"left and right share column names {overlap} — rename before range_join"
        )
    width_us = max((lower_ms + upper_ms) * 1000, 1)
    lo_us, up_us = lower_ms * 1000, upper_ms * 1000
    lts = F.unix_micros(F.col(left_ts).cast("timestamp"))
    rts = F.unix_micros(F.col(right_ts).cast("timestamp"))
    l = left.withColumn(
        "__bin",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((lts - F.lit(lo_us)) / F.lit(width_us)),
                    F.floor((lts + F.lit(up_us)) / F.lit(width_us)),
                )
            )
        ),
    )
    r = right.withColumn("__bin", F.floor(rts / F.lit(width_us)))
    return (
        l.join(r, "__bin")
        .where((rts >= lts - F.lit(lo_us)) & (rts <= lts + F.lit(up_us)))
        .drop("__bin")
    )
