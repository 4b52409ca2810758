"""As-of join semantics vs pandas merge_asof; batched model kernel equality."""

import numpy as np
import pandas as pd
import pytest
from scalar_oracles import attention_importance, checksum, model_downsample_segment

from streaming_downsampling_spark.functions import kernels as K
from streaming_downsampling_spark.operators.asof import asof_join


def test_model_downsample_batch_bit_equal_scalar():
    rng = np.random.default_rng(7)
    for n in [2, 3, 5, 17, 40, 99, 200]:
        X = rng.normal(size=(11, n)) * 50
        pooled_b, sel_b, idx_b = K.model_downsample_batch(X)
        for j in range(len(X)):
            p, s, i = model_downsample_segment(X[j])
            assert np.array_equal(p, pooled_b[j]), f"pooled mismatch n={n}"
            assert np.array_equal(s, sel_b[j]), f"selected mismatch n={n}"
            assert np.array_equal(i, idx_b[j]), f"indices mismatch n={n}"


def test_attention_importance_batch_bit_equal_scalar():
    rng = np.random.default_rng(3)
    for n in [1, 2, 9, 64]:
        C = rng.normal(size=(5, n))
        batch = K.attention_importance_batch(C)
        for j in range(len(C)):
            assert np.array_equal(batch[j], attention_importance(C[j]))


@pytest.fixture(scope="module")
def asof_frames():
    rng = np.random.default_rng(11)
    n_l, n_r = 400, 60
    left = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=n_l),
            "lts": pd.to_datetime(
                rng.integers(0, 10_000, size=n_l) * 1_000_000_000
            ),
            "lval": rng.normal(size=n_l).round(3),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], size=n_r),
            "rts": pd.to_datetime(
                rng.integers(0, 10_000, size=n_r) * 1_000_000_000
            ),
            "rval": rng.normal(size=n_r).round(3),
        }
    )
    # make right timestamps unique per key so the match is well-defined
    right = right.drop_duplicates(["k", "rts"]).reset_index(drop=True)
    return left, right


def test_asof_join_matches_pandas_merge_asof(spark, asof_frames):
    left, right = asof_frames
    l_df = spark.createDataFrame(left)
    r_df = spark.createDataFrame(right)
    got = (
        asof_join(l_df, r_df, key_col="k", left_ts="lts", right_ts="rts",
                  right_cols=["rval"])
        .toPandas()
        .sort_values(["k", "lts", "lval"])
        .reset_index(drop=True)
    )
    exp = (
        pd.merge_asof(
            left.sort_values("lts"),
            right.sort_values("rts"),
            left_on="lts",
            right_on="rts",
            by="k",
            direction="backward",
        )
        .rename(columns={"rval": "rval_asof", "rts": "rts_asof"})
        .sort_values(["k", "lts", "lval"])
        .reset_index(drop=True)
    )
    assert len(got) == len(left)
    pd.testing.assert_series_equal(
        got["rval_asof"], exp["rval_asof"], check_names=False
    )
    pd.testing.assert_series_equal(
        got["rts_asof"], exp["rts_asof"], check_names=False
    )


def test_asof_join_inclusive_tie(spark):
    left = pd.DataFrame({"k": ["a"], "lts": pd.to_datetime([1_000_000_000])})
    right = pd.DataFrame(
        {
            "k": ["a", "a"],
            "rts": pd.to_datetime([500_000_000, 1_000_000_000]),
            "rval": [1.0, 2.0],
        }
    )
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        key_col="k",
        left_ts="lts",
        right_ts="rts",
        right_cols=["rval"],
    ).toPandas()
    # right row at the exact same timestamp wins (inclusive backward match)
    assert got["rval_asof"].tolist() == [2.0]


def test_asof_join_null_right_value_propagates(spark):
    """ADVICE regression: a matched right row whose payload is NULL must
    yield NULL (atomic row match), not fall back to a stale older row."""
    left = pd.DataFrame({"k": ["a"], "lts": pd.to_datetime([3_000_000_000])})
    right = pd.DataFrame(
        {
            "k": ["a", "a"],
            "rts": pd.to_datetime([1_000_000_000, 2_000_000_000]),
            "rval": [7.0, None],
        }
    )
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        key_col="k",
        left_ts="lts",
        right_ts="rts",
        right_cols=["rval"],
    ).toPandas()
    # matched row is rts=2s (latest <= 3s); its NULL value must propagate,
    # and the matched timestamp must agree with the matched row
    assert pd.isna(got["rval_asof"].iloc[0])
    assert got["rts_asof"].iloc[0] == pd.Timestamp(2_000_000_000)
    # pandas oracle agrees
    exp = pd.merge_asof(
        left.sort_values("lts"), right.sort_values("rts"),
        left_on="lts", right_on="rts", by="k", direction="backward",
    )
    assert pd.isna(exp["rval"].iloc[0])


def test_asof_join_collision_guard(spark):
    left = pd.DataFrame(
        {"k": ["a"], "lts": pd.to_datetime([1]), "rval_asof": [1.0]}
    )
    right = pd.DataFrame(
        {"k": ["a"], "rts": pd.to_datetime([1]), "rval": [1.0]}
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            key_col="k", left_ts="lts", right_ts="rts", right_cols=["rval"],
        )
    # suffix="" shadowing a left column must raise, not silently shadow
    left2 = pd.DataFrame(
        {"k": ["a"], "lts": pd.to_datetime([1]), "rval": [9.0]}
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            spark.createDataFrame(left2),
            spark.createDataFrame(right),
            key_col="k", left_ts="lts", right_ts="rts",
            right_cols=["rval"], suffix="",
        )


def test_checksum_negative_timestamps_matches_python_int():
    p = (1 << 63) - 1
    rng = np.random.default_rng(5)
    ts = rng.integers(-(10**15), 10**15, size=257).astype(np.int64)
    vals = rng.normal(size=257)
    # reference semantics: (t mod p * k + bits(v) mod p) mod p summed mod p
    expected = 0
    for t, v in zip(ts, vals):
        bits = int(np.array(v, dtype=np.float64).view(np.uint64))
        expected = (expected + (int(t) * 1000003 + bits) % p) % p
    assert checksum(ts, vals) == expected


def test_asof_enrich_same_rows_under_non_utc_session(spark, tmp_path):
    """The enrichment joins back on the tier's epoch-aligned hour start, so a
    fractional-offset session zone (UTC+5:30) must not move any match, for
    TIMESTAMP and TIMESTAMP_NTZ events alike, and an event with a NULL ts
    stays in the left join with NULL enrichment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_downsampling_spark.queries import QUERIES

    rng = np.random.default_rng(5)
    n = 400
    ts = np.sort(rng.integers(0, 3 * 86400, n)) * 10**6

    def rows(sf_dir: str, zone: str) -> list:
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", zone)
        try:
            # collected datetimes do not depend on the session zone
            out = QUERIES["asof_enrich"](spark, sf_dir)
            return sorted(tuple(r) for r in out.collect())
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)

    for tz in ("UTC", None):
        sf_dir = tmp_path / f"tz_{tz}"
        sf_dir.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(np.arange(n + 1), pa.int64()),
                    "ts": pa.array(ts.tolist() + [None], pa.timestamp("us", tz=tz)),
                    "user_id": pa.array(rng.integers(0, 9, n + 1), pa.int64()),
                    "event_type": pa.array(np.array(["a", "b"])[rng.integers(0, 2, n + 1)]),
                    "value": pa.array(np.round(rng.normal(50, 10, n + 1), 2)),
                    "props": pa.array(["{}"] * (n + 1)),
                }
            ),
            str(sf_dir / "events.parquet"),
        )
        utc = rows(str(sf_dir), "UTC")
        assert len(utc) == n + 1
        assert sum(r[2] is not None for r in utc) > n // 2
        assert utc[-1][0] == n and utc[-1][2] is None
        assert rows(str(sf_dir), "Asia/Kolkata") == utc, tz
