"""Custom stateful streaming operator via applyInPandasWithState —
the engine's escape hatch for stateful semantics the built-in
windows/aggregates can't express (prompt: "applyInPandasWithState for
custom stateful operators").

`running_user_stats` keeps an explicit per-user accumulator across
micro-batches (games, value_sum) and emits the updated totals each
time the user appears — the reference's `$inc` upsert
(transformer_loader/main.py:184-190) as true managed streaming state
(fault-tolerant via the checkpoint, bounded via timeouts at scale).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id LONG, games LONG, value_sum DOUBLE"
STATE_SCHEMA = "games LONG, value_sum DOUBLE"


def _update_user(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    games, value_sum = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        games += len(pdf)
        value_sum += float(pdf["value"].sum())
    state.update((games, value_sum))
    yield pd.DataFrame(
        {"user_id": [key[0]], "games": [games], "value_sum": [value_sum]}
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (games, value_sum), one row per user per
    micro-batch in which the user appeared; state carried by the
    engine's state store."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming funnel: per-user view → click → purchase progression
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = (
    "user_id LONG, stage LONG, t_view_us LONG, t_click_us LONG, "
    "t_purchase_us LONG"
)
FUNNEL_STATE_SCHEMA = "t_view_us LONG, t_click_us LONG, t_purchase_us LONG"


def _update_funnel(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    v, c, p = state.get if state.exists else (None, None, None)
    # applyInPandasWithState delivers one GROUP as multiple Arrow
    # chunks (~10k rows each) in arbitrary shuffle order — sorting each
    # chunk independently is NOT a total order. Materialize the whole
    # group first, then sort once, so a user with more events than one
    # chunk per micro-batch still folds in (ts_us, event_id) order.
    # Memory bound: one user's events within one micro-batch.
    chunks = list(pdfs)  # timeout invocations deliver zero chunks
    pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    if len(pdf):
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts, et in zip(pdf["ts_us"], pdf["event_type"]):
            ts = int(ts)
            if v is None:
                if et == "view":
                    v = ts
            elif c is None:
                if et == "click" and ts > v:
                    c = ts
            elif p is None:
                if et == "purchase" and ts > c:
                    p = ts
    state.update((v, c, p))
    stage = sum(t is not None for t in (v, c, p))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "stage": [stage],
            "t_view_us": [v],
            "t_click_us": [c],
            "t_purchase_us": [p],
        }
    )


def funnel_progress(events: DataFrame) -> DataFrame:
    """Streaming twin of the w_funnel catalog query: per-user funnel
    stage (0–3) advanced micro-batch by micro-batch with an O(1)
    3-timestamp state in the engine's state store. Within a batch the
    user's events replay in (ts, event_id) order, and every stage
    comparison is the same strict ``ts > previous-stage ts`` the batch
    fold uses — so with in-order admission the final emission per user
    is bit-equal to the batch fold (pinned by
    tests/test_stateful_streaming.py). Cross-batch stragglers follow
    admission-order semantics (an earlier-ts view arriving AFTER a
    click was already rejected cannot resurrect that click) — the
    same no-unbounded-buffering tradeoff every online funnel makes;
    the batch query is the reconciliation path.
    """
    keyed = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# TTL debounce: admit an event only if the key has been quiet >= ttl
# ---------------------------------------------------------------------------

TTL_OUTPUT_SCHEMA = "user_id LONG, event_type STRING, ts_us LONG, event_id LONG"
TTL_STATE_SCHEMA = "last_seen_us LONG"

#: debounce quiet period (microseconds): 30 minutes
TTL_US = 30 * 60 * 1_000_000


def _update_ttl(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # the key has been quiet past the TTL horizon: its state can
        # never reject a future event again — evict it. Output is
        # untouched (admission is decided in-band below), so WHEN the
        # engine fires this cleanup cannot change results — it only
        # bounds state size.
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": pd.Series(dtype="int64"),
                "event_type": pd.Series(dtype="object"),
                "ts_us": pd.Series(dtype="int64"),
                "event_id": pd.Series(dtype="int64"),
            }
        )
        return
    (last,) = state.get if state.exists else (None,)
    chunks = list(pdfs)
    pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    admitted = []
    if len(pdf):
        # whole-group sort (the _update_funnel lesson: per-chunk sort
        # is not a total order)
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts, eid in zip(pdf["ts_us"], pdf["event_id"]):
            ts = int(ts)
            if last is None or ts - last >= TTL_US:
                admitted.append((ts, int(eid)))
            last = ts  # debounce: ANY event re-arms the quiet timer
    if last is not None:
        state.update((last,))
        # state eviction when the key stays quiet past TTL: event-time
        # timeout at last_seen + TTL (clamped above the current
        # watermark, which Spark requires of timeout timestamps)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(last // 1000 + TTL_US // 1000, wm + 1)
        )
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(admitted),
            "event_type": [key[1]] * len(admitted),
            "ts_us": [a[0] for a in admitted],
            "event_id": [a[1] for a in admitted],
        }
    )


def ttl_debounce(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming TTL debounce — admit an event for (user, type) only
    when that key has been quiet for >= TTL_US; every arrival (admitted
    or not) re-arms the timer. The live form of alert throttling /
    re-crawl suppression. Admission is decided IN-BAND from the stored
    last-seen timestamp, so results are independent of when the engine
    fires timeouts; EventTimeTimeout only EVICTS state for keys quiet
    past the horizon — at 100 TB the state store holds active keys,
    not every key ever seen (the unbounded-state leak NoTimeout ops
    accept). Batch twin: st_ttl_dedup (lag-gap fold); equivalence is
    pinned in tests/test_stateful_streaming.py. Cross-batch stragglers
    follow admission-order semantics (the funnel_progress contract).
    """
    keyed = events.withWatermark("ts", watermark).select(
        "user_id",
        "event_type",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        _update_ttl,
        outputStructType=TTL_OUTPUT_SCHEMA,
        stateStructType=TTL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
