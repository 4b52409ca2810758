"""Tiered continuous-aggregate rollups (1m → 1h → 1d).

The reference's only aggregation is windowed mean/max pooling over dense
arrays (/root/reference/new_evaluation.py:74-94,
/root/reference/core/downsampling_algorithm2.py:304-315).  Here the same
semantics become declarative tumbling-window aggregates so Catalyst plans
them as partial+final hash aggregation (map-side combine for free) — no UDF
in the path, the whole tier job is WholeStageCodegen.

One algebra, one definition: :func:`tier_aggregate` owns the window, the
aggregate expressions, the output columns and ``avg_value = sum / n`` for
every tier the engine builds — the batch ``rollup`` / ``cascade``, the
streaming tier job and the cascade refresh (``streaming/jobs.py``).

Cascading: each coarser tier re-aggregates the finer tier's *sum/count/
min/max/first/last* (never its avg), so means stay exact at every tier —
that is what makes the 1m→1h→1d hierarchy a set of true continuous
aggregates rather than approximations.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

TIERS = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}

_UNIT_SECONDS = {
    "s": 1, "sec": 1, "second": 1, "seconds": 1,
    "m": 60, "min": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
}
_UNIT_NAME = {1: "second", 60: "minute", 3600: "hour", 86400: "day"}
_TIER_SPEC = re.compile(r"(\d+)\s*([a-z]+)")


def _parse_tier(tier: str) -> tuple[int, int]:
    """``(count, unit seconds)`` of a named tier or a '<N><unit>' spec."""
    m = _TIER_SPEC.fullmatch(TIERS.get(tier, tier).strip().lower())
    if not m or m.group(2) not in _UNIT_SECONDS:
        raise ValueError(
            f"unknown tier {tier!r}: use one of {sorted(TIERS)} or "
            f"'<N><s|m|h|d>' / '<N> <unit>'"
        )
    return int(m.group(1)), _UNIT_SECONDS[m.group(2)]


def tier_interval(tier: str) -> str:
    """Spark interval string for a named tier ('1m'/'1h'/'1d') or any
    '<N><unit>' / '<N> <unit>' duration ('15m', '5 minutes', '12h') — the
    continuous-aggregate grid is not limited to the three named tiers."""
    n, unit = _parse_tier(tier)
    return f"{n} {_UNIT_NAME[unit]}" + ("s" if n != 1 else "")


def tier_seconds(tier: str) -> int:
    """Grid step of a tier in seconds (epoch-aligned window arithmetic)."""
    n, unit = _parse_tier(tier)
    return n * unit


ROLLUP_COLS = [
    "n_points",
    "sum_value",
    "min_value",
    "max_value",
    "first_value",
    "last_value",
]


def with_signal(df: DataFrame, text_col: str = "text", value_col: str = "value") -> DataFrame:
    """Derive the numeric series from transcripts: ``value = length(text)``.

    SURVEY.md §7.1 — the per-turn signal is deterministic and
    order-preserving; the text itself is never mutated.
    """
    return df.withColumn(value_col, F.length(F.col(text_col)).cast("double"))


def tier_aggregate(
    df: DataFrame,
    tier: str,
    source: str = "points",
    first_last: bool = True,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """The one tier aggregate: tumbling ``tier`` windows per key.

    ``source="points"`` aggregates raw points (``key_col``, ``ts_col``,
    ``value_col``; first/last by ``order_col``, or ``ts_col`` when None);
    ``source="tier"`` re-aggregates a finer tier's columns (n/sum compose by
    sum, min/max by min/max, first/last by the fine ``window_start``).
    ``first_last=False`` keeps only the algebraic n/sum/min/max — what a
    stream can maintain without per-group arbitrary state.

    Output: (key, window_start, window_end, n_points, sum_value, min_value,
    max_value[, first_value, last_value], avg_value), avg = sum / n.
    """
    if source == "points":
        key = F.col(key_col).alias("key")
        w = F.window(ts_col, tier_interval(tier))
        order = F.col(order_col) if order_col else F.col(ts_col)
        aggs = [
            F.count(F.lit(1)).alias("n_points"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        ]
        first = last = value_col
    elif source == "tier":
        key = "key"
        w = F.window("window_start", tier_interval(tier))
        order = F.col("window_start")
        aggs = [
            F.sum("n_points").alias("n_points"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        ]
        first, last = "first_value", "last_value"
    else:
        raise ValueError(f"source must be 'points' or 'tier', got {source!r}")
    if first_last:
        aggs += [
            F.min_by(first, order).alias("first_value"),
            F.max_by(last, order).alias("last_value"),
        ]
    return (
        df.groupBy(key, w.alias("w"))
        .agg(*aggs)
        .select(
            "key",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *ROLLUP_COLS[: len(aggs)],
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
    )


def rollup(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = "turn_idx",
) -> DataFrame:
    """Base rollup from raw points into one retention tier.

    Output schema: (key, window_start, window_end, n_points, sum_value,
    min_value, max_value, first_value, last_value, avg_value).  ``first`` /
    ``last`` are by ``order_col`` (stable turn ordering) falling back to
    ``ts`` — deterministic under any partitioning.
    """
    return tier_aggregate(
        df, tier, key_col=key_col, ts_col=ts_col, value_col=value_col, order_col=order_col
    )


def cascade(rollup_df: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one without touching raw data.

    Reads only the finer tier's partial aggregates; one shuffle on
    (key, coarse_window).  first/last compose via min_by/max_by on the fine
    window_start.
    """
    return tier_aggregate(rollup_df, to_tier, source="tier")


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Session windows: a key's consecutive points merge into one session
    while each arrives within ``gap`` of the previous — up to and INCLUDING
    last_ts + gap (Spark ``session_window`` semantics, verified: a point
    exactly at the session end still chains; only a strictly larger silence
    starts a new session, and the emitted end is last_ts + gap).  The
    reference has no sessionization; this is the inactivity-gap operator any
    event/transcript timeline needs (visits, conversations, incident
    episodes).

    Declarative ``F.session_window`` — Catalyst plans it as a single
    hash-partition-by-key + in-partition merge-sort of sessions: one shuffle
    on the key, no UDF, skew bounded by the hottest key (salt upstream if a
    single key dominates).  Output: (key, session_start, session_end,
    n_events, sum_value).
    """
    return (
        df.groupBy(
            F.col(key_col).alias("key"), F.session_window(ts_col, gap)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            "key",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
