"""Custom stateful operators via ``applyInPandasWithState``.

This module is the engine's **custom stateful operator** extension point
(SURVEY §7b): arbitrary per-key state machines over a stream, for the
problems no native operator expresses. Sessionization is not one of them —
it runs on the native floored-second ``session_window`` in
`streaming/sessions.py`.

* :func:`decayed_item_counts` — exponentially-decayed per-item interaction
  mass (event-time decay folded exactly between consecutive events);
* :func:`stateful_funnel` — cross-batch first-touch ordered funnel, with an
  optional event-time TTL that expires inactive visitors.

Each keeps O(1) or O(|steps|) state per live key, shuffles once on its key,
and batches the Python boundary through Arrow.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_US = 1_000_000


# ---------------------------------------------------------------------------
# Decayed heavy hitters
# ---------------------------------------------------------------------------

DECAYED_SCHEMA = T.StructType(
    [
        T.StructField("itemid", T.LongType()),
        T.StructField("last_event_time", T.TimestampType()),
        T.StructField("decayed_count", T.DoubleType()),
        T.StructField("raw_events", T.LongType()),
    ]
)

#: per-item state: (last_event_us, decayed_count, lifetime_event_count)
DECAYED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("decayed", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_decay_fn(half_life_s: float):
    import math

    lam = math.log(2.0) / (half_life_s * _US)  # decay rate per microsecond

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (itemid,) = key
        if state.exists:
            last_us, decayed, n = state.get
        else:
            last_us, decayed, n = None, 0.0, 0
        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(t.value) // 1000 for t in pd.to_datetime(pdf["event_time"]))
        times.sort()
        for t_us in times:
            if last_us is None or t_us >= last_us:
                if last_us is not None:
                    decayed *= math.exp(-lam * (t_us - last_us))
                decayed += 1.0
                last_us = t_us
            else:
                # late (within-watermark) event from an earlier batch:
                # its mass joins already decayed to the CURRENT anchor —
                # the anchor never regresses, and the fold still equals
                # the batch closed form Σ exp(-λ(t_max − tᵢ))
                decayed += math.exp(-lam * (last_us - t_us))
            n += 1
        state.update((last_us, decayed, n))
        yield pd.DataFrame(
            [
                {
                    "itemid": itemid,
                    "last_event_time": pd.Timestamp(last_us * 1000),
                    "decayed_count": decayed,
                    "raw_events": n,
                }
            ]
        )

    return fn


def decayed_item_counts(
    events: DataFrame,
    half_life_s: float = 3600.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exponentially-decayed per-item interaction counts — the
    "trending now" signal: each event adds 1, mass halves every
    ``half_life_s`` of EVENT time, so a burst an hour ago weighs half a
    burst now and items fade instead of accumulating forever (a plain
    windowed count forgets abruptly at the window edge; decay is the
    smooth version).

    Per-item state is three numbers; each micro-batch folds its events in
    event-time order (decay is multiplicative between consecutive events,
    so the fold is exact and replay-stable) and emits the item's current
    (decayed_count, raw_events) — UPDATE semantics: the sink upserts by
    itemid and takes its own top-k. State never grows with event volume,
    only with distinct live items; the shuffle is the one itemid grouping.

    Batch-clock caveat: decay advances on event timestamps, not wall
    clock — an item with NO new events keeps its last emitted value until
    the next event (downstream top-k can decay lazily at read time with
    the same closed-form multiplier)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy("itemid")
        .applyInPandasWithState(
            _make_decay_fn(half_life_s),
            outputStructType=DECAYED_SCHEMA,
            stateStructType=DECAYED_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Cross-batch funnel progression
# ---------------------------------------------------------------------------

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("step_min_us", T.ArrayType(T.LongType())),
        T.StructField("n", T.LongType()),
    ]
)

#: TTL-mode state additionally tracks the visitor's last activity (the
#: event-time horizon the expiry timeout is anchored to)
FUNNEL_TTL_STATE_SCHEMA = T.StructType(
    FUNNEL_STATE_SCHEMA.fields + [T.StructField("last_us", T.LongType())]
)

FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("visitorid", T.LongType()),
        T.StructField("steps_reached", T.IntegerType()),
        T.StructField("step_times", T.ArrayType(T.TimestampType())),
        T.StructField("n_events", T.LongType()),
    ]
)

#: TTL-mode output adds the expiry flag: False on every live emission,
#: True exactly once — on the final row emitted when the visitor's state
#: expires (event-time TTL passed with no new activity)
FUNNEL_TTL_OUT_SCHEMA = T.StructType(
    FUNNEL_OUT_SCHEMA.fields + [T.StructField("expired", T.BooleanType())]
)


def _funnel_progress(mins: list) -> int:
    """Chained first-touch progression over the per-step minima: step i+1
    counts only if its first touch is at/after step i's."""
    k, prev = 0, None
    for m in mins:
        if m is None or (prev is not None and m < prev):
            break
        k, prev = k + 1, m
    return k


def _funnel_row(
    visitorid: int, mins: list, n: int, expired: bool | None
) -> pd.DataFrame:
    k = _funnel_progress(mins)
    row: dict[str, Any] = {
        "visitorid": visitorid,
        "steps_reached": k,
        "step_times": [pd.Timestamp(m * 1000) for m in mins[:k]],
        "n_events": n,
    }
    if expired is not None:
        row["expired"] = expired
    return pd.DataFrame([row])


def _make_funnel_fn(steps: list[str], ttl_s: int | None = None):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (visitorid,) = key
        if ttl_s is not None and state.hasTimedOut:
            # expiry: emit the visitor's FINAL row exactly once (same
            # values the last live emission carried, expired=True), then
            # drop the state — a later event re-enters the visitor as new
            # (the sliding-horizon contract)
            mins, n, _last = state.get
            state.remove()
            yield _funnel_row(visitorid, list(mins), n, True)
            return
        last_us = 0
        if state.exists:
            if ttl_s is None:
                mins, n = state.get
            else:
                mins, n, prior_last = state.get
                last_us = int(prior_last or 0)
            mins = list(mins)
        else:
            mins, n = [None] * len(steps), 0
        for pdf in pdfs:
            n += len(pdf)
            ev = pdf["event"]
            us = pd.to_datetime(pdf["event_time"]).astype("int64") // 1000
            if len(us):
                last_us = max(last_us, int(us.max()))
            for i, s in enumerate(steps):
                mask = ev == s
                if mask.any():
                    m = int(us[mask].min())
                    if mins[i] is None or m < mins[i]:
                        mins[i] = m
        if ttl_s is None:
            state.update((mins, n))
        else:
            state.update((mins, n, last_us))
            # expire ttl_s of EVENT time after the visitor's last activity;
            # Spark requires the timeout strictly past the current watermark
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(last_us // 1000, wm_ms) + ttl_s * 1000
            )
        yield _funnel_row(
            visitorid, mins, n, None if ttl_s is None else False
        )

    return fn


def stateful_funnel(
    events: DataFrame,
    steps: list[str],
    watermark: str = "1 hour",
    ttl_s: int | None = None,
) -> DataFrame:
    """Cross-batch FIRST-TOUCH ordered funnel: per visitor, how many of
    ``steps`` have been completed in order, where step i+1 counts only if
    its first-ever occurrence is at/after step i's first occurrence. The
    streaming complement of the batch ``sequential_funnel`` family — this
    one keeps progressing as batches arrive, with UPDATE-mode emission
    (sink upserts by visitorid; a global funnel report is a count by
    steps_reached downstream).

    Semantics are a pure function of each step's MINIMUM event time —
    min is commutative and associative, so the result is independent of
    batch boundaries and within-watermark arrival order (test-pinned by
    feeding the same events under different batch splits). That is the
    property that makes bounded state EXACT here: O(|steps|) longs per
    live visitor, no event buffer. Strict chained-min semantics (step
    times re-anchored on each earlier step's CONSTRAINED time) cannot be
    computed with bounded state under late data — a late earlier-step
    event can resurrect an already-discarded later-step time — which is
    why the first-touch form is the streaming contract; the one shuffle
    is the visitorid grouping.

    **State bound** (VERDICT r11 #4): the default ``ttl_s=None`` keeps
    O(|steps|) longs for every visitor ever seen — exact forever, but on
    an unbounded stream that is a slow state leak (1B visitors ≈ tens of
    GB of state store). With ``ttl_s`` set, a visitor inactive for
    ``ttl_s`` seconds of EVENT time (watermark-driven, like every
    event-time timeout) is expired: their final row is emitted EXACTLY
    once more with ``expired=True`` (the output gains that boolean
    column; live emissions carry ``expired=False``), the state is
    dropped, and a later event re-enters them as a fresh visitor — a
    sliding horizon, the same tradeoff ``dropDuplicatesWithinWatermark``
    makes. Pre-expiry semantics are unchanged: every live emission
    equals the untimed operator's row for the same prefix of events
    (test-pinned)."""
    if ttl_s is None:
        out_schema, state_schema = FUNNEL_OUT_SCHEMA, FUNNEL_STATE_SCHEMA
        timeout = GroupStateTimeout.NoTimeout
    else:
        if ttl_s <= 0:
            raise ValueError(f"ttl_s must be positive, got {ttl_s}")
        out_schema, state_schema = (
            FUNNEL_TTL_OUT_SCHEMA,
            FUNNEL_TTL_STATE_SCHEMA,
        )
        timeout = GroupStateTimeout.EventTimeTimeout
    return (
        events.withWatermark("event_time", watermark)
        .groupBy("visitorid")
        .applyInPandasWithState(
            _make_funnel_fn(list(steps), ttl_s),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
