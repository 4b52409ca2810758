"""Custom stateful streaming operators (``applyInPandasWithState``).

Two operators the windowed-aggregate path can't express:

* ``stateful_tier_stream`` — tier aggregates INCLUDING first/last by turn
  order.  ``run_tier_stream`` (jobs.py) carries only algebraic aggregates
  because first/last-by-order need arbitrary per-group state; this operator
  holds exactly that state — (first_ord, first_value, last_ord, last_value)
  plus the algebraic counters — per (key, window_start) across micro-batches.
* ``streaming_last_n`` — the buffer-of-latest monitor of the reference
  (/root/reference/real_time_monitoring.py:20,71: ``deque(maxlen=15)`` fed by
  a Kafka poll loop) as per-key bounded state: each update emits the current
  last-N ring so a dashboard reads one row per key.

Scale shape: state lives in the state store, partitioned by the group key —
one shuffle per micro-batch on the key, state size O(1) per group (a handful
of scalars / a bounded ring), eviction by event-time timeout tied to the
watermark so state never grows past the late-data horizon.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.rollup import tier_interval

_TIER_OUT_SCHEMA = (
    "key string, window_start timestamp, n_points long, sum_value double, "
    "min_value double, max_value double, first_value double, "
    "last_value double, avg_value double"
)
_TIER_STATE_SCHEMA = (
    "n long, s double, mn double, mx double, "
    "first_ord long, first_v double, last_ord long, last_v double"
)


def stateful_tier_stream(
    stream_df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "turn_idx",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tier aggregate with true first/last-by-order, via arbitrary state.

    Each micro-batch folds its rows into the group's state; the emitted row
    always reflects everything seen so far, so a restart mid-window converges
    to the same final row (update-mode sink or idempotent MERGE downstream).
    State is evicted one watermark delay after the window closes
    (EventTimeTimeout) — bounded regardless of stream length.
    """

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        k, wstart = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            n, s, mn, mx, f_o, f_v, l_o, l_v = state.get
        else:
            n, s, mn, mx = 0, 0.0, None, None
            f_o, f_v, l_o, l_v = None, None, None, None
        for pdf in pdfs:
            if pdf.empty:
                continue
            v = pdf[value_col].astype("float64")
            o = pdf[order_col].astype("int64")
            n += len(pdf)
            s += float(v.sum())
            bmn, bmx = float(v.min()), float(v.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
            i_first, i_last = int(o.idxmin()), int(o.idxmax())
            if f_o is None or int(o.loc[i_first]) < f_o:
                f_o, f_v = int(o.loc[i_first]), float(v.loc[i_first])
            if l_o is None or int(o.loc[i_last]) > l_o:
                l_o, l_v = int(o.loc[i_last]), float(v.loc[i_last])
        state.update((n, s, mn, mx, f_o, f_v, l_o, l_v))
        # evict when the event-time watermark passes the window END — exactly
        # the moment the window can no longer change.  NOT watermark+1: that
        # fires after any batch in which the group gets no data (the watermark
        # keeps advancing), wiping accumulated state mid-stream for windows
        # whose rows span non-adjacent batches.  Spark requires the timeout
        # to sit above the current watermark, hence the max().
        wend_ms = int(
            (pd.Timestamp(wstart) + pd.Timedelta(tier_interval(tier))).value // 10**6
        )
        state.setTimeoutTimestamp(
            max(wend_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "key": [k],
                "window_start": [wstart],
                "n_points": [n],
                "sum_value": [s],
                "min_value": [mn],
                "max_value": [mx],
                "first_value": [f_v],
                "last_value": [l_v],
                "avg_value": [s / n if n else None],
            }
        )

    keyed = stream_df.withWatermark(ts_col, watermark).select(
        F.col(key_col).cast("string").alias("key"),
        F.window(ts_col, tier_interval(tier)).start.alias("window_start"),
        F.col(ts_col).alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
        F.col(order_col).cast("long").alias(order_col),
    )
    return keyed.groupBy("key", "window_start").applyInPandasWithState(
        fold,
        _TIER_OUT_SCHEMA,
        _TIER_STATE_SCHEMA,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


_LASTN_OUT_SCHEMA = (
    "key string, n_seen long, buf_ts array<long>, buf_values array<double>"
)
_LASTN_STATE_SCHEMA = (
    "n_seen long, buf_ts array<long>, buf_ord array<long>, "
    "buf_values array<double>"
)


def streaming_last_n(
    stream_df: DataFrame,
    n: int = 15,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Per-key buffer of the latest ``n`` points across micro-batches — the
    reference's live-monitor ``deque(maxlen=15)`` as a streaming operator.

    Each update emits one row per key holding the current ring (ts ascending;
    ties broken by ``order_col`` when given — making the ring deterministic
    under any batch split — else by arrival order), so a dashboard query is a
    point lookup.  State is the bounded ring itself: O(n) per key, no timeout
    needed — the ring can always absorb a newer point; keys idle forever cost
    n cells.

    ``watermark`` defaults to ``None`` — NO watermark.  NoTimeout state
    needs none, and a watermark here is a trap: it is GLOBAL (max event
    time across ALL keys minus the delay), so one fast key silently drops
    a lagging key's rows before they reach that key's ring and its
    dashboard goes stale forever.  Pass a delay only if you explicitly
    want late arrivals discarded ring-wide.
    """

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            n_seen, buf_ts, buf_ord, buf_vs = state.get
            buf = list(zip(buf_ts, buf_ord, buf_vs))
        else:
            n_seen, buf = 0, []
        for pdf in pdfs:
            if pdf.empty:
                continue
            ts_us = (
                pd.to_datetime(pdf[ts_col]).astype("int64") // 1000
            ).tolist()
            vs = pdf[value_col].astype("float64").tolist()
            if order_col is not None:
                ords = pdf[order_col].astype("int64").tolist()
            else:
                ords = [0] * len(vs)
            rows = list(zip(ts_us, ords, vs))
            n_seen += len(rows)
            buf = sorted(buf + rows, key=lambda r: (r[0], r[1]))[-n:]
        state.update(
            (
                n_seen,
                [t for t, _, _ in buf],
                [o for _, o, _ in buf],
                [v for _, _, v in buf],
            )
        )
        yield pd.DataFrame(
            {
                "key": [k],
                "n_seen": [n_seen],
                "buf_ts": [[t for t, _, _ in buf]],
                "buf_values": [[v for _, _, v in buf]],
            }
        )

    src = (
        stream_df.withWatermark(ts_col, watermark)
        if watermark is not None
        else stream_df
    )
    keyed = src.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
        *([F.col(order_col).cast("long").alias(order_col)] if order_col else []),
    )
    return keyed.groupBy("key").applyInPandasWithState(
        fold,
        _LASTN_OUT_SCHEMA,
        _LASTN_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
