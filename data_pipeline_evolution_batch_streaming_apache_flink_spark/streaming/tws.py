"""Chainable event-time AS-OF join on ``transformWithStateInPandas``
(Spark 4 arbitrary-state API) — SURVEY §2.4 J5 streaming strategy (b).

Why this exists next to ``streaming.streaming_asof_join``
(``applyInPandasWithState``): the older API cannot CHAIN — its output has
no event-time column, so a second stateful operator downstream is
rejected, which is why scenario 6 (four ``FOR SYSTEM_TIME AS OF`` joins,
reference flink-applications/06-flink-cdc-temporal-join.json:30) runs as
a foreachBatch engine (``streaming/incremental.py``). Spark 4's
``transformWithStateInPandas(..., eventTimeColumnName=...)`` re-declares
an event-time column on the OUTPUT, so stateful operators compose — one
continuous query can chain all four temporal joins, exactly like the
reference's single Flink statement.

The chaining trick (and why it is correct):

- Only the FIRST join in a chain gates facts on the watermark. Spark
  keeps ONE global watermark per query = min over every ``withWatermark``
  node (default ``multipleWatermarkPolicy=min``) — and every dim of every
  downstream join is one of those nodes. So when the global watermark
  passes a fact's event time, **every dim version at-or-before that event
  time has already arrived at its own join operator** (anything arriving
  later would itself be late and dropped). Downstream joins therefore
  match incoming facts against their versioned state immediately — no
  second buffering, no per-operator watermark races. This reproduces
  Flink's multi-input watermark alignment (reference README.md:526-534),
  including the idle-source stall + heartbeat mitigation (:540-544).
- Emitted rows carry a synthetic ``__emit_ts`` event-time column set just
  past the current watermark (original event times are ≤ the watermark,
  which downstream late-filters would drop). The ORIGINAL fact timestamp
  rides along as a payload column and drives version matching at every
  hop; ``__emit_ts`` exists only to keep Spark's watermark machinery fed.

State layout per key (pickled, one blob per key like the sibling
operator): dim version list sorted by (ts, live, image) None-safely —
same deterministic tie-break as the batch ``operators.joins.asof_join``
(a CDC delete is a tombstone entry with live=False) — plus, in the gated
operator only, the pending-fact buffer, and a last-activity event time.
Versions older than the latest one at-or-below the emission frontier are
pruned every batch, bounding state PER KEY; ``idle_ttl`` additionally
expires whole idle keys, bounding state when the key space itself grows
without bound. Idle expiry is implemented MANUALLY with event-time
timers (blob carries last-activity ms; a timer clears the key once the
watermark passes ``last_activity + idle_ttl``) because Spark's built-in
state TTL (``getValueState(ttlDurationMs=...)``) is ProcessingTime-only:
``StatefulProcessorHandleImpl.validateTTLConfig`` throws
``cannotProvideTTLConfigForTimeMode`` under the ``eventTime`` mode this
operator requires (ADVICE r6, high). Requires the RocksDB state store
provider (see ``session.streaming_conf``).
"""

from __future__ import annotations

import pickle

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from data_pipeline_evolution_batch_streaming_apache_flink_spark.streaming import _ms, _vkey

EMIT_TS = "__emit_ts"


class _AsOfProcessor(StatefulProcessor):
    """Versioned-dim state + (optionally) a watermark-gated fact buffer."""

    def __init__(self, fact_cols, dim_payload, gate, inner, ttl_ms=None):
        self.fact_cols = fact_cols
        self.dim_payload = dim_payload
        self.gate = gate
        self.inner = inner
        self.ttl_ms = ttl_ms
        self.out_cols = fact_cols + dim_payload + [EMIT_TS]

    def init(self, handle: StatefulProcessorHandle) -> None:
        # Deliberately NO ttlDurationMs: Spark's built-in state TTL is
        # ProcessingTime-only (validateTTLConfig throws under eventTime).
        # Idle-key expiry is manual — see _rearm / handleExpiredTimer.
        self.state = handle.getValueState("asof", "blob binary")
        self.handle = handle

    def _load(self):
        row = self.state.get()
        if row is None:
            return [], [], None
        blob = pickle.loads(row[0])
        # tolerate pre-r7 2-tuple blobs (no last-activity field)
        return blob if len(blob) == 3 else (blob[0], blob[1], None)

    def _store(self, dims, facts, last_ms) -> None:
        if dims or facts:
            self.state.update((pickle.dumps((dims, facts, last_ms)),))
        else:
            self.state.clear()

    def _rearm(self, pending, wm_ms, last_ms, stored) -> None:
        """Reset this key's timers: one drain timer when facts are
        buffered, one idle-expiry timer when a TTL is configured and the
        key still holds state."""
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        if pending:
            self.handle.registerTimer(max(min(f[0] for f in pending), wm_ms + 1))
        if self.ttl_ms is not None and last_ms is not None and stored:
            # clamp past-due deadlines to wm+1: while a far-future fact
            # stays pending past its key's TTL deadline, an unclamped
            # timer would re-fire as a no-op on every batch
            self.handle.registerTimer(max(last_ms + self.ttl_ms, wm_ms + 1))

    def _match(self, ots_ms, dims):
        """Latest entry (ts, live, payload) at-or-before ots_ms, or None.
        A tombstone entry (live=False) is returned — the caller must treat
        it as no-match — so a delete shadows older live versions."""
        entry = None
        for dv in dims:  # dims sorted ascending by _vkey
            if dv[0] <= ots_ms:
                entry = dv
            else:
                break
        return entry

    def _emit(self, ready, dims, emit_ts):
        out = []
        for _ots, fvals in ready:
            entry = self._match(_ots, dims)
            if entry is None or not entry[1]:  # no version, or tombstone
                if self.inner:
                    continue
                version = tuple(None for _ in self.dim_payload)
            else:
                version = entry[2]
            out.append(fvals + version + (emit_ts,))
        if out:
            yield pd.DataFrame(out, columns=self.out_cols)

    def _prune(self, dims, facts, wm_ms):
        frontier = min([wm_ms] + [f[0] for f in facts])
        older = [i for i, dv in enumerate(dims) if dv[0] <= frontier]
        return dims[older[-1]:] if len(older) > 1 else dims

    def _flush(self, dims, facts, wm_ms, last_ms):
        """Split ready/pending at the watermark, emit ready, re-arm timers."""
        ready = sorted((f for f in facts if f[0] <= wm_ms), key=lambda x: x[0])
        pending = [f for f in facts if f[0] > wm_ms]
        emit_ts = pd.Timestamp(wm_ms + 1, unit="ms")
        yield from self._emit(ready, dims, emit_ts)
        dims = self._prune(dims, pending, wm_ms)
        self._store(dims, pending, last_ms)
        self._rearm(pending, wm_ms, last_ms, stored=bool(dims or pending))

    def handleInputRows(self, key, rows, timerValues: TimerValues):
        dims, facts, last_ms = self._load()
        new_facts = []
        acts = []
        for pdf in rows:
            for d in pdf.to_dict(orient="records"):
                acts.append(_ms(d["__ts"]))
                if d["__is_fact"] == 1:
                    new_facts.append(
                        (_ms(d["__ots"]), tuple(d[f"__f_{c}"] for c in self.fact_cols))
                    )
                else:
                    dims.append(
                        (
                            _ms(d["__ts"]),
                            bool(d["__live"]),
                            tuple(d[f"__d_{c}"] for c in self.dim_payload),
                        )
                    )
        dims.sort(key=_vkey)
        wm_ms = timerValues.getCurrentWatermarkInMs()
        # Idle-TTL clock: resets on every input for the key, measured on
        # the event-time axis the watermark follows. max(wm) keeps a key
        # that just received a straggler from being instantly expirable.
        if acts:
            last_ms = max(acts + [wm_ms] + ([last_ms] if last_ms is not None else []))

        if self.gate:
            yield from self._flush(dims, facts + new_facts, wm_ms, last_ms)
        else:
            # facts arrive pre-gated (ots already ≤ global watermark): all
            # matching dim versions are in state — emit immediately. The
            # incoming __ts (upstream's emit_ts) is already > wm; reuse the
            # same formula so every batch's emissions share one fresh ts.
            emit_ts = pd.Timestamp(wm_ms + 1, unit="ms")
            ready = sorted(new_facts, key=lambda x: x[0])
            yield from self._emit(ready, dims, emit_ts)
            dims = self._prune(dims, [], wm_ms)
            self._store(dims, [], last_ms)
            self._rearm([], wm_ms, last_ms, stored=bool(dims))

    def handleExpiredTimer(self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo):
        dims, facts, last_ms = self._load()
        wm_ms = timerValues.getCurrentWatermarkInMs()
        if self.ttl_ms is not None and last_ms is None and (dims or facts):
            # pre-TTL (2-tuple) blob touched by a timer: start its idle
            # clock NOW (and persist + re-arm it) rather than leaving the
            # key unexpirable forever. Keys with neither input nor timers
            # stay unreachable until input arrives — documented restore
            # semantics of retrofitting idle_ttl onto an old checkpoint.
            last_ms = wm_ms
            if not facts:
                self._store(dims, facts, last_ms)
                self._rearm([], wm_ms, last_ms, stored=True)
                return
        if facts:
            yield from self._flush(dims, facts, wm_ms, last_ms)
            dims, facts, last_ms = self._load()
        # Manual idle-key expiry (eventTime mode forbids built-in TTL):
        # drop the whole blob once the watermark has passed the key's
        # last activity by idle_ttl and no facts remain buffered.
        if (
            self.ttl_ms is not None
            and not facts
            and last_ms is not None
            and wm_ms >= last_ms + self.ttl_ms
        ):
            self.state.clear()
            for t in self.handle.listTimers():
                self.handle.deleteTimer(t)

    def close(self) -> None:
        pass


def asof_join_tws(
    fact: DataFrame,
    dim: DataFrame,
    key: str | list[str],
    fact_ts: str,
    dim_ts: str,
    delay: str = "0 seconds",
    how: str = "left",
    gate: bool = True,
    dim_op: str | None = None,
    idle_ttl: str | int | None = None,
) -> DataFrame:
    """Event-time AS-OF join, chainable: output carries ``__emit_ts`` as
    its event-time column, so the result can feed another ``asof_join_tws``
    (with ``gate=False``) in the SAME continuous query.

    ``dim_op``: CDC op column on the dim side — a ``d`` event is stored as
    a tombstone version that shadows earlier images (facts at-or-after it
    get NULLs / are dropped under inner), matching the batch operator.

    ``gate=True`` (first join of a chain): facts buffer per key until the
    global watermark passes their event time; event-time timers drain
    buffered facts on heartbeat-only batches. ``gate=False`` (downstream
    joins): facts emit immediately against current versioned state — see
    module docstring for why that is watermark-safe.

    Semantics match ``operators.joins.asof_join``: latest dim version with
    ``dim_ts <= fact_ts`` (inclusive) per key; ``how='left'`` emits
    NULL-padded rows for version-less facts, ``'inner'`` drops them.

    ``idle_ttl`` (duration string or millis int, default None = keep
    forever): EVENT-TIME (watermark-clock) idle TTL on each key's state
    blob. Watermarks prune old VERSIONS within a key, but a key seen
    once otherwise holds its latest version forever — unbounded state
    when the key space grows without bound (the reference's own
    "possibly large state" caveat, README.md:559). With a TTL, a key
    that receives no input while the watermark advances past its last
    activity by ``idle_ttl`` has its whole blob cleared by a
    per-key event-time timer. This is deliberately NOT Spark's built-in
    state TTL config: ``getValueState(ttlDurationMs=...)`` is
    ProcessingTime-only — ``StatefulProcessorHandleImpl
    .validateTTLConfig`` throws ``cannotProvideTTLConfigForTimeMode``
    under the ``eventTime`` time mode this operator requires — so the
    expiry is implemented manually with timers (ADVICE r6, high), which
    also makes it deterministic under replay. Documented expiry
    semantics: a fact arriving AFTER its dim key expired sees no
    versions — it NULL-pads under ``how='left'`` and is dropped under
    ``'inner'``, exactly as if the dim had never been seen
    (test-pinned). The TTL clock resets on every input for the key
    (last-activity = max of the batch's event times and the current
    watermark), and expiry never fires while facts remain buffered for
    the key. Choose ``idle_ttl`` >> the watermark delay plus the
    longest expected fact lag per key.
    """
    keys = [key] if isinstance(key, str) else list(key)
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.sessions import _parse_gap_ms

    ttl_ms = _parse_gap_ms(idle_ttl) if idle_ttl is not None else None
    dim_payload = [c for c in dim.columns if c not in keys and c not in (dim_ts, dim_op)]
    fact_cols = [c for c in fact.columns if c != EMIT_TS]
    chained = EMIT_TS in fact.columns

    live = (~F.col(dim_op).isin("d", "D")) if dim_op else F.lit(True)
    f_side = fact.select(
        *keys,
        (F.col(EMIT_TS) if chained else F.col(fact_ts).cast("timestamp")).alias("__ts"),
        F.col(fact_ts).cast("timestamp").alias("__ots"),
        F.lit(1).alias("__is_fact"),
        F.lit(True).alias("__live"),
        *[F.col(c).alias(f"__f_{c}") for c in fact_cols],
        *[F.lit(None).cast(dim.schema[c].dataType).alias(f"__d_{c}") for c in dim_payload],
    )
    d_side = dim.select(
        *keys,
        F.col(dim_ts).cast("timestamp").alias("__ts"),
        F.lit(None).cast("timestamp").alias("__ots"),
        F.lit(0).alias("__is_fact"),
        live.alias("__live"),
        *[F.lit(None).cast(fact.schema[c].dataType).alias(f"__f_{c}") for c in fact_cols],
        *[F.col(c).alias(f"__d_{c}") for c in dim_payload],
    )
    unioned = f_side.unionByName(d_side).withWatermark("__ts", delay)

    out_schema = T.StructType(
        [fact.schema[c] for c in fact_cols]
        + [T.StructField(c, dim.schema[c].dataType, True) for c in dim_payload]
        + [T.StructField(EMIT_TS, T.TimestampType(), False)]
    )
    return unioned.groupBy(*keys).transformWithStateInPandas(
        _AsOfProcessor(fact_cols, dim_payload, gate, how == "inner", ttl_ms),
        out_schema,
        "append",
        "eventTime",
        eventTimeColumnName=EMIT_TS,
    )
