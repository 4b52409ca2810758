"""Tiered continuous-aggregate rollups (1m → 1h → 1d).

The reference's only aggregation is windowed mean/max pooling over dense
arrays (/root/reference/new_evaluation.py:74-94,
/root/reference/core/downsampling_algorithm2.py:304-315).  Here the same
semantics become declarative tumbling-window aggregates so Catalyst plans
them as partial+final hash aggregation (map-side combine for free) — no UDF
in the path, the whole tier job is WholeStageCodegen.

Cascading: each coarser tier re-aggregates the finer tier's *sum/count/
min/max/first/last* (never its avg), so means stay exact at every tier —
that is what makes the 1m→1h→1d hierarchy a set of true continuous
aggregates rather than approximations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TIERS = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}
# how many fine windows fit in the coarse one (for cascade validation)
TIER_ORDER = ["1m", "1h", "1d"]

_UNIT_SECONDS = {
    "s": 1, "sec": 1, "second": 1, "seconds": 1,
    "m": 60, "min": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
}
_UNIT_NAME = {1: "second", 60: "minute", 3600: "hour", 86400: "day"}


def tier_interval(tier: str) -> str:
    """Spark interval string for a named tier ('1m'/'1h'/'1d') or any
    '<N><unit>' / '<N> <unit>' duration ('15m', '5 minutes', '12h') — the
    continuous-aggregate grid is not limited to the three named tiers."""
    if tier in TIERS:
        return TIERS[tier]
    import re

    m = re.fullmatch(r"(\d+)\s*([a-z]+)", tier.strip().lower())
    if not m or m.group(2) not in _UNIT_SECONDS:
        raise ValueError(
            f"unknown tier {tier!r}: use one of {sorted(TIERS)} or "
            f"'<N><s|m|h|d>' / '<N> <unit>'"
        )
    n = int(m.group(1))
    name = _UNIT_NAME[_UNIT_SECONDS[m.group(2)]]
    return f"{n} {name}" + ("s" if n != 1 else "")


def tier_seconds(tier: str) -> int:
    """Grid step of a tier in seconds (epoch-aligned window arithmetic)."""
    import re

    spec = TIERS.get(tier, tier)
    m = re.fullmatch(r"(\d+)\s*([a-z]+)", spec.strip().lower())
    if not m or m.group(2) not in _UNIT_SECONDS:
        raise ValueError(f"unknown tier {tier!r}")
    return int(m.group(1)) * _UNIT_SECONDS[m.group(2)]

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
    avg_value, min_value, max_value, first_value, last_value).  ``first`` /
    ``last`` are by ``order_col`` (stable turn ordering) falling back to
    ``ts`` — deterministic under any partitioning.
    """
    ord_expr = F.col(order_col) if order_col else F.col(ts_col)
    w = F.window(ts_col, tier_interval(tier))
    out = (
        df.groupBy(F.col(key_col).alias("key"), w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.min_by(value_col, ord_expr).alias("first_value"),
            F.max_by(value_col, ord_expr).alias("last_value"),
        )
        .select(
            "key",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *ROLLUP_COLS,
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
    )
    return out


def cascade(rollup_df: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one without touching raw data.

    Reads only the finer tier's partial aggregates; one shuffle on
    (key, coarse_window).  first/last compose via min_by/max_by on the fine
    window_start.
    """
    w = F.window("window_start", tier_interval(to_tier))
    return (
        rollup_df.groupBy("key", w.alias("w"))
        .agg(
            F.sum("n_points").alias("n_points"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.min_by("first_value", F.col("window_start")).alias("first_value"),
            F.max_by("last_value", F.col("window_start")).alias("last_value"),
        )
        .select(
            "key",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *ROLLUP_COLS,
        )
        .withColumn("avg_value", F.col("sum_value") / F.col("n_points"))
    )


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
