import numpy as np
import pandas as pd
import pytest
from scalar_oracles import attention_importance, model_downsample_scalar

from streaming_downsampling_spark.functions import kernels as K


@pytest.fixture
def series_200():
    # FIXTURES.md signal law: trend + seasonal + spikes + noise
    rng = np.random.default_rng(42)
    t = np.arange(200, dtype=np.float64)
    x = 200 + 50 * np.sin(2 * np.pi * t / 48) + rng.normal(0, 10, 200)
    x[rng.integers(0, 200, 2)] *= 5
    return x


def test_uniform_indices():
    idx = K.uniform_indices(200, 43)
    # reference: arange(0, n, n // target) (/root/reference/new_evaluation.py:66-72)
    np.testing.assert_array_equal(idx, np.arange(0, 200, 4)[:43])
    with pytest.raises(ValueError):
        K.uniform_indices(200, 0)


def test_random_indices_deterministic():
    a = K.random_indices(200, 43, seed=42)
    b = K.random_indices(200, 43, seed=42)
    np.testing.assert_array_equal(a, b)
    assert len(a) == 43 and len(np.unique(a)) == 43
    assert np.all(np.diff(a) > 0)


def test_avg_max_pool(series_200):
    p = K.avg_pool(series_200, 43)
    m = K.max_pool(series_200, 43)
    w = 200 // 43  # = 4
    np.testing.assert_allclose(p[0], series_200[:w].mean())
    np.testing.assert_allclose(m[0], series_200[:w].max())
    assert len(p) == len(m) == 43


def test_minmax_keeps_extremes(series_200):
    idx = K.minmax_indices(series_200, 43)
    assert series_200.argmax() in idx
    assert series_200.argmin() in idx
    assert np.all(np.diff(idx) > 0)


def test_lttb_endpoints_and_budget(series_200):
    idx = K.lttb_indices(series_200, 43)
    assert idx[0] == 0 and idx[-1] == 199
    assert len(idx) == 43
    # degenerate cases
    np.testing.assert_array_equal(K.lttb_indices(series_200[:5], 10), np.arange(5))


def test_pip_endpoints(series_200):
    idx = K.pip_indices(series_200, 20)
    assert idx[0] == 0 and idx[-1] == 199 and len(idx) == 20


def test_wavelet_threshold(series_200):
    idx = K.wavelet_threshold_indices(series_200, 43)
    assert np.all(np.diff(idx) > 0)
    assert 0 < len(idx) <= 43 + 1
    # reconstruction should beat uniform on a spiky signal
    rec_w = K.reconstruct_linear(idx, series_200[idx], 200)
    m = K.reconstruction_metrics(series_200, rec_w)
    # and be clearly better than nothing (mean-baseline has r2 == 0)
    assert m["r2"] > 0.3


def test_model_downsample_golden_lengths():
    # reference golden constants: n=200, db4, factor 2, retention 0.8
    # -> pooled 51, detail 82 (/root/reference/core/downsampling_algorithm2.py:279-339)
    x = np.random.default_rng(0).normal(size=200)
    pooled, sel, idx = K.model_downsample(x)
    assert len(pooled) == 51
    assert len(sel) == len(idx) == 82
    assert np.all(np.diff(idx) > 0)
    # deterministic across calls (frozen weights)
    p2, s2, i2 = K.model_downsample(x)
    np.testing.assert_array_equal(pooled, p2)
    np.testing.assert_array_equal(idx, i2)


def test_attention_importance_is_distribution():
    s = attention_importance(np.random.default_rng(3).normal(size=103))
    assert np.isclose(s.sum(), 1.0)
    assert np.all(s > 0)


def test_model_frame_fn_matches_scalar_oracle_across_segment_edges():
    """One frame mixing groups on both sides of the 200-point segment cap
    (whole groups of 1..200, a 201-point group with a 1-point tail that is
    dropped, 401 and 2,000 points in several segments): every group's
    output equals the one-segment-at-a-time scalar oracle, element for
    element, detail indices offset per segment."""
    from streaming_downsampling_spark.operators.downsample import model_frame_fn

    rng = np.random.default_rng(31)
    sizes = [1, 2, 40, 200, 201, 401, 2000, 40, 201, 2]
    groups = [np.round(rng.normal(50.0, 10.0, n), 2) for n in sizes]
    body = pd.DataFrame(
        {
            "key": np.repeat([f"c{g:02d}" for g in range(len(sizes))], sizes),
            "window_start": pd.Timestamp("2025-01-01"),
            "_value": np.concatenate(groups),
        }
    )
    out = model_frame_fn()(body)
    assert out["n"].tolist() == sizes
    for g, x in enumerate(groups):
        pooled, sel, idx = model_downsample_scalar(x)
        row = out.iloc[g]
        assert row["key"] == f"c{g:02d}"
        np.testing.assert_array_equal(
            np.asarray(row["pooled_approx"]).view(np.uint64), pooled.view(np.uint64)
        )
        np.testing.assert_array_equal(
            np.asarray(row["detail_values"]).view(np.uint64), sel.view(np.uint64)
        )
        assert row["detail_indices"] == idx.tolist()


def test_reconstruct_linear_anchoring():
    # endpoint anchoring per /root/reference/new_evaluation.py:185-198
    rec = K.reconstruct_linear(np.array([5, 10]), np.array([1.0, 2.0]), 20)
    assert rec[0] == 1.0  # held from first kept value
    assert rec[19] == 2.0  # held to last kept value
    assert rec[5] == 1.0 and rec[10] == 2.0
    np.testing.assert_allclose(rec[7], 1.0 + 2 / 5)


def test_metrics_identity():
    x = np.random.default_rng(1).normal(size=100)
    m = K.reconstruction_metrics(x, x)
    assert m["mse"] == 0.0 and m["r2"] == 1.0 and np.isclose(m["corr"], 1.0)


def test_sanitize():
    out = K.sanitize(np.array([1.0, np.nan, np.inf, -np.inf, 2.0]))
    np.testing.assert_array_equal(out, [1.0, 0.0, 0.0, 0.0, 2.0])
