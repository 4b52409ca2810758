"""End-to-end: Spark operators vs the single-process numpy/pandas oracle.

Exact float64 equality, not approximate — rollups are algebraic and the
kernels are shared code, so any drift means a real ordering/partitioning bug.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streaming_downsampling_spark import oracle
from streaming_downsampling_spark.functions import kernels as K
from streaming_downsampling_spark.operators.downsample import (
    downsample_metrics_multi,
    downsample_model,
    downsample_select,
)
from streaming_downsampling_spark.operators.gapfill import gapfill
from streaming_downsampling_spark.operators.rollup import (
    cascade,
    rollup,
    tier_interval,
    tier_seconds,
)


@pytest.fixture(scope="module")
def opdf(transcripts_tbl):
    return oracle.to_pandas(transcripts_tbl)


def _spark_rollup_pdf(df, tier):
    out = (
        df.withColumn("window_start_us", F.unix_micros(F.col("window_start").cast("timestamp")))
        .select(
            "key",
            "window_start_us",
            "n_points",
            "sum_value",
            "min_value",
            "max_value",
            "first_value",
            "last_value",
            "avg_value",
        )
        .orderBy("key", "window_start_us")
        .toPandas()
    )
    return out.reset_index(drop=True)


@pytest.mark.parametrize("tier", ["1m", "1h", "1d", "15m", "5 minutes", "12h"])
def test_rollup_matches_oracle(transcripts, opdf, tier):
    got = _spark_rollup_pdf(rollup(transcripts, tier), tier)
    exp = (
        oracle.rollup_oracle(opdf, tier)
        .sort_values(["key", "window_start_us"])
        .reset_index(drop=True)
    )
    exp["n_points"] = exp["n_points"].astype("int64")
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_exact=True)


@pytest.mark.parametrize(
    "tier,interval,seconds",
    [("15m", "15 minutes", 900), ("5 minutes", "5 minutes", 300),
     ("12h", "12 hours", 43200), ("1d", "1 day", 86400)],
)
def test_tier_spec_grammar(tier, interval, seconds):
    assert tier_interval(tier) == interval
    assert tier_seconds(tier) == seconds


def test_bad_tier_spec_raises_from_both_parsers():
    for parse in (tier_interval, tier_seconds):
        with pytest.raises(ValueError, match="unknown tier"):
            parse("3 fortnights")


def test_cascade_equals_direct(transcripts):
    r1m = rollup(transcripts, "1m")
    for tier in ["1h", "1d"]:
        got = _spark_rollup_pdf(cascade(r1m, tier), tier)
        exp = _spark_rollup_pdf(rollup(transcripts, tier), tier)
        pd.testing.assert_frame_equal(got, exp, check_exact=True)


@pytest.mark.parametrize("method", ["linear", "locf", "zero"])
def test_gapfill_matches_oracle(transcripts, opdf, method):
    r1m = rollup(transcripts, "1m")
    got = (
        gapfill(r1m, "1m", method=method)
        .withColumn("window_start_us", F.unix_micros(F.col("window_start").cast("timestamp")))
        .select("key", "window_start_us", "value", "filled")
        .orderBy("key", "window_start_us")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        oracle.gapfill_oracle(oracle.rollup_oracle(opdf, "1m"), "1m", method=method)
        .sort_values(["key", "window_start_us"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp[got.columns], check_exact=False, atol=1e-12)
    # no gaps remain
    assert not got["value"].isna().any()


@pytest.mark.parametrize(
    "method,fn",
    [
        ("uniform", lambda x, t: K.uniform_indices(len(x), t)),
        ("minmax", K.minmax_indices),
        ("lttb", K.lttb_indices),
        ("wavelet_threshold", K.wavelet_threshold_indices),
    ],
)
def test_select_matches_oracle(transcripts, opdf, method, fn):
    got = (
        downsample_select(transcripts, method, 20, window="1 hour")
        .withColumn("window_start_us", F.unix_micros(F.col("window_start").cast("timestamp")))
        .select("key", "window_start_us", "sel_pos", "sel_ord", "sel_value")
        .orderBy("key", "window_start_us", "sel_pos")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        oracle.select_oracle(opdf, fn, 20, window="1h")
        .sort_values(["key", "window_start_us", "sel_pos"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_exact=True)


def test_text_equality_invariant(transcripts):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    selected exemplar turns join back to the input with identical text
    (BASELINE.json input_hint invariant)."""
    sel = downsample_select(transcripts, "lttb", 10, window="1 day")
    joined = sel.join(
        transcripts.select(
            F.col("conv_id").alias("key"),
            F.col("turn_idx").cast("long").alias("sel_ord"),
            "text",
            F.length("text").cast("double").alias("orig_len"),
        ),
        ["key", "sel_ord"],
        "inner",
    )
    n_sel = sel.count()
    assert joined.count() == n_sel  # every selected turn resolves
    assert joined.filter(F.col("sel_value") != F.col("orig_len")).count() == 0


def test_downsample_metrics_shape(transcripts):
    m = downsample_metrics_multi(
        transcripts, ["wavelet_threshold"], 20, window="1 day"
    ).toPandas()
    assert (m["k"] <= m["n"]).all()
    assert m["rmse"].ge(0).all()
    big = m[m["n"] >= 40]
    assert (big["r2"] > 0).mean() > 0.8  # structured signal reconstructs well


def test_model_downsample_lengths(transcripts):
    out = downsample_model(transcripts, window="1 day").toPandas()
    from streaming_downsampling_spark.functions import wavelets as wv

    for _, row in out.head(20).iterrows():
        c = wv.coeff_length(row["n"], "db4", 1)
        assert len(row["pooled_approx"]) == (c - 2) // 2 + 1
        assert len(row["detail_values"]) == max(1, int(round(c * 0.8)))


def test_time_spine_sliced_equals_dense(spark):
    """The day-sliced spine must equal sequence(w0, w1, interval) exactly,
    including a key spanning many days at a fine tier (the scale hazard:
    one giant per-key array)."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from streaming_downsampling_spark.operators.gapfill import time_spine

    base = dt.datetime(2024, 1, 3, 7, 42)  # deliberately mid-day, on-grid
    rows = [
        ("long", base, 1.0),
        ("long", base + dt.timedelta(days=59, hours=5), 2.0),
        ("short", base, 1.0),
        ("short", base + dt.timedelta(minutes=3), 4.0),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "ts", "v"])
    ).select(
        "key", F.window("ts", "1 minute")["start"].alias("window_start"), "v"
    )
    spine = time_spine(df, "1m").groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("window_start").alias("lo"),
        F.max("window_start").alias("hi"),
    )
    got = {r["key"]: r for r in spine.collect()}
    assert got["short"]["n"] == 4  # minutes 0..3 inclusive
    expected_long = (59 * 24 * 60) + 5 * 60 + 1
    assert got["long"]["n"] == expected_long
    assert got["long"]["lo"] == base.replace(second=0)
    assert got["long"]["hi"] == (base + dt.timedelta(days=59, hours=5)).replace(second=0)


def test_ecg_loader_format(spark, tmp_path):
    """ECG200-format (label + whitespace floats per line) loads into the
    long form with the implicit integer time axis; malformed tokens coerce
    to null, blank lines drop."""
    p = tmp_path / "ecg.txt"
    p.write_text(
        "1.0  0.5 -0.25 2.0\n"
        "-1.0  3.5 4.5\n"
        "\n"
        "1.0  bad 7.0\n"
    )
    from streaming_downsampling_spark.sources.ecg import load_ecg

    rows = load_ecg(spark, str(p)).collect()
    series = {}
    for r in rows:
        series.setdefault(r["series_id"], {"label": r["label"], "pts": {}})
        series[r["series_id"]]["pts"][r["idx"]] = r["value"]
    payloads = sorted(
        (
            (s["label"], tuple(s["pts"][i] for i in sorted(s["pts"])))
            for s in series.values()
        ),
        key=repr,
    )
    assert payloads == sorted(
        [
            (-1.0, (3.5, 4.5)),
            (1.0, (None, 7.0)),  # 'bad' -> null (P4 coercion)
            (1.0, (0.5, -0.25, 2.0)),
        ],
        key=repr,
    )


def test_sessionize_gap_boundary(spark):
    """Inactivity-gap semantics (verified against Spark's session_window):
    a point up to and INCLUDING last_ts + gap chains the session; only a
    strictly larger silence opens a new one."""
    import pandas as pd
    from pyspark.sql import functions as F

    from streaming_downsampling_spark.operators.rollup import sessionize

    rows = [
        ("u1", "2024-01-01 00:00:00", 1.0),
        ("u1", "2024-01-01 00:29:59", 1.0),  # 29m59s later -> chains
        ("u1", "2024-01-01 00:59:59", 1.0),  # exactly at end -> still chains
        ("u1", "2024-01-01 01:30:00", 1.0),  # 1s past end -> new session
        ("u2", "2024-01-01 00:00:00", 2.0),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, gap="30 minutes").collect()
    got = sorted((r["key"], r["n_events"], r["sum_value"]) for r in out)
    assert got == [("u1", 1, 1.0), ("u1", 3, 3.0), ("u2", 1, 2.0)]
    ends = {
        (r["key"], r["n_events"]): (r["session_start"], r["session_end"])
        for r in out
    }
    s, e = ends[("u1", 3)]
    assert (e - s).total_seconds() == 59 * 60 + 59 + 30 * 60


def test_interval_join_bins(spark):
    """Containment across bin boundaries: an interval spanning several
    1h bins matches events in any covered bin; half-open end excluded."""
    import pandas as pd
    from pyspark.sql import functions as F

    from streaming_downsampling_spark.operators.interval import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "u1", "2024-01-01 00:10:00"),
                (2, "u1", "2024-01-01 02:45:00"),  # later bin, same interval
                (3, "u1", "2024-01-01 03:00:00"),  # exactly end -> excluded
                (4, "u2", "2024-01-01 00:10:00"),  # other key
            ],
            columns=["event_id", "user_id", "ts"],
        )
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        pd.DataFrame(
            [("u1", "2024-01-01 00:00:00", "2024-01-01 03:00:00", "a")],
            columns=["user_id", "start", "end", "tag"],
        )
    ).withColumn("start", F.col("start").cast("timestamp")).withColumn(
        "end", F.col("end").cast("timestamp")
    )
    out = interval_join(
        ev, iv, key="user_id", left_ts="ts", right_start="start",
        right_end="end", bin="1 hour",
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]
