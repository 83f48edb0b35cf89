"""Streaming row-pattern recognition (the Flink CEP operator shape).

Same semantics as the batch ``operators.cep.match_pattern`` — relaxed
contiguity, greedy earliest match, ``within`` timeout, AFTER MATCH SKIP
PAST LAST ROW — driven by the watermark so results are final on emit
(append mode, no retractions).

Why emission is safe: events at-or-below the watermark are *final* (no
older event can still arrive), and the greedy matcher's decisions for a
match depend only on events up to its last step, so any match completed
entirely from final events can never be changed by future arrivals.
Incomplete partials simply stay buffered.

Why state is bounded (``within`` is therefore REQUIRED, exactly as
Flink's CEP docs recommend a ``within`` for unbounded keys): every
event of a not-yet-emittable match must lie within ``within`` of a
completion event that is still in the future (> watermark), so after
each trigger the buffer is pruned to events newer than
``watermark - within`` plus the not-yet-final tail. Everything older
can provably never appear in a future match: timed-out starts never
consume events, and consumed events are dropped with their emitted
match, so re-running the matcher on the pruned buffer reproduces
exactly the full-history results restricted to future matches.

Per-key work per trigger re-scans the retained buffer — O(buffer) with
numpy index arrays, the same order as Flink's NFA state traversal for
the equivalent pattern.
"""

from __future__ import annotations

import pickle
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.cep import Step, _as_col, _check_steps, _match_events
from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import _ms


def streaming_match_pattern(
    df: DataFrame,
    steps: Sequence[Step],
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str | None = None,
    within: int | None = None,
    delay: str = "0 seconds",
    contiguity: str = "relaxed",
) -> DataFrame:
    """Watermark-driven twin of ``operators.cep.match_pattern`` (and,
    with ``contiguity="strict"``, of ``match_strict``).

    ``ts_col`` is a real event-time timestamp (watermarked with
    ``delay``); matching order and the emitted ``{step}_ts_ms`` columns
    use its epoch-millis. For relaxed contiguity ``within`` (millis) is
    required — it is what bounds the per-key state (see module
    docstring).

    Strict contiguity emits every run of k consecutive events whose
    rows satisfy the step predicates in order (all overlapping matches,
    like the batch ``match_strict``). Finality is stronger here: the
    adjacency of two at-or-below-watermark events can never change, so
    matches among finals emit immediately and the retained state is
    just the last ``k-1`` final events (for runs spanning a trigger
    boundary) plus the not-yet-final tail — ``within`` is optional.

    Output schema matches the batch operator: ``key_col``,
    ``match_seq`` (1-based per key, monotone across micro-batches while
    the key holds buffered state; restarts at 1 if the key matches
    again after its buffer fully drained — state is dropped then so an
    unbounded key space cannot leak), per step ``{name}_ts_ms`` and
    (if ``id_col``) ``{name}_{id_col}``.
    """
    import numpy as np

    names = _check_steps(steps)
    k = len(steps)
    if contiguity not in ("relaxed", "strict"):
        raise ValueError(f"contiguity must be 'relaxed' or 'strict', got {contiguity!r}")
    strict = contiguity == "strict"
    if within is None and not strict:
        raise ValueError(
            "streaming_match_pattern requires within (millis) for relaxed "
            "contiguity: it is the state bound — an open-ended pattern "
            "would buffer every event of a key forever (use the batch "
            "match_pattern for that)"
        )

    proj = [F.col(key_col), F.col(ts_col).cast("timestamp").alias("__ts")]
    if id_col:
        proj.append(F.col(id_col).cast("long").alias("__id"))
    slim = df.select(
        *proj, *[_as_col(p).cast("boolean").alias(f"__p{j}") for j, (_, p) in enumerate(steps)]
    ).withWatermark("__ts", delay)

    key_type = df.schema[key_col].dataType
    fields = [T.StructField(key_col, key_type), T.StructField("match_seq", T.LongType())]
    for name in names:
        fields.append(T.StructField(f"{name}_ts_ms", T.LongType()))
        if id_col:
            fields.append(T.StructField(f"{name}_{id_col}", T.LongType()))
    out_schema = T.StructType(fields)
    out_names = [f.name for f in fields]

    def fn(key_tuple, pdfs, state: GroupState):
        seq, events = pickle.loads(state.get[0]) if state.exists else (0, [])
        for pdf in pdfs:
            for d in pdf.to_dict(orient="records"):
                events.append(
                    (
                        _ms(d["__ts"]),
                        int(d["__id"]) if id_col else 0,
                        tuple(bool(d[f"__p{j}"]) if d[f"__p{j}"] is not None else False for j in range(k)),
                    )
                )
        wm = state.getCurrentWatermarkMs()
        events.sort(key=lambda e: (e[0], e[1]))
        finals = [e for e in events if e[0] <= wm]
        pending = [e for e in events if e[0] > wm]

        rows = []
        scan_pos = 0
        if finals:
            ts = np.fromiter((e[0] for e in finals), dtype=np.int64, count=len(finals))
            ids = np.fromiter((e[1] for e in finals), dtype=np.int64, count=len(finals))
            flags = [
                np.fromiter((e[2][j] for e in finals), dtype=bool, count=len(finals))
                for j in range(k)
            ]
            if strict:
                n = len(finals)
                matches = []
                for i in range(n - k + 1):
                    if all(flags[j][i + j] for j in range(k)) and (
                        within is None or ts[i + k - 1] - ts[i] <= within
                    ):
                        matches.append(list(range(i, i + k)))
                scan_pos = max(n - (k - 1), 0)  # keep the k-1 tail only
            else:
                preds = [np.flatnonzero(f) for f in flags]
                matches, scan_pos = _match_events(ts, preds, within, "all")
            for picked in matches:
                seq += 1
                row = [key_tuple[0], seq]
                for i in picked:
                    row.append(int(ts[i]))
                    if id_col:
                        row.append(int(ids[i]))
                rows.append(row)

        # retain: unconsumed final tail still young enough to join a
        # future match (strict: just the k-1 boundary tail), plus
        # everything not yet final
        if strict:
            keep = finals[scan_pos:] + pending
        else:
            keep = [e for e in finals[scan_pos:] if e[0] > wm - within] + pending
        if keep:
            state.update((pickle.dumps((seq, keep)),))
            # re-fire when the watermark moves even if the key goes idle
            state.setTimeoutTimestamp(wm + 1)
        else:
            # dropping state once the buffer drains keeps the operator
            # leak-free under unbounded key cardinality; the cost is that
            # match_seq restarts at 1 if the key matches again after a
            # full drain (documented in the docstring)
            state.remove()

        if rows:
            yield pd.DataFrame(rows, columns=out_names)

    return slim.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, "state binary", "append", GroupStateTimeout.EventTimeTimeout
    )
