import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from streaming_downsampling_spark.functions import gorilla as g


def _roundtrip_ts(ts):
    ts = np.asarray(ts, dtype=np.int64)
    out = g.decode_timestamps(g.encode_timestamps(ts))
    np.testing.assert_array_equal(out, ts)


def _roundtrip_vals(v):
    v = np.asarray(v, dtype=np.float64)
    out = g.decode_values(g.encode_values(v))
    # bit-pattern equality (NaN-safe, -0.0 vs 0.0 distinguished)
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


def test_empty_and_singleton():
    _roundtrip_ts([])
    _roundtrip_ts([1_700_000_000_000_000])
    _roundtrip_vals([])
    _roundtrip_vals([3.14159])


def test_regular_timestamps_compress_well():
    ts = 1_700_000_000_000_000 + np.arange(5000, dtype=np.int64) * 5_000_000
    blob = g.encode_timestamps(ts)
    _roundtrip_ts(ts)
    # fully regular cadence: ~1 bit/point after the header
    assert len(blob) < 5000 / 8 + 32


def test_constant_values_compress_well():
    v = np.full(5000, 42.5)
    blob = g.encode_values(v)
    _roundtrip_vals(v)
    assert len(blob) < 5000 / 8 + 32


def test_special_floats():
    _roundtrip_vals([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1.7e308])


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=300
    )
)
def test_timestamp_roundtrip_property(deltas):
    ts = np.cumsum(np.array([1_700_000_000_000_000] + deltas, dtype=np.int64))
    _roundtrip_ts(ts)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=True, width=64),
        min_size=0,
        max_size=300,
    )
)
def test_value_roundtrip_property(vals):
    _roundtrip_vals(vals)


def test_chunk_roundtrip():
    rng = np.random.default_rng(42)
    n = 1000
    ts = 1_700_000_000_000_000 + np.cumsum(
        rng.integers(1, 10_000_000, size=n)
    ).astype(np.int64)
    vals = np.round(rng.normal(200, 50, size=n), 2)
    tb, vb = g.encode_chunk(ts, vals)
    ts2, v2 = g.decode_chunk(tb, vb)
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(vals.view(np.uint64), v2.view(np.uint64))


def test_vectorized_decode_equals_scalar():
    """The pointer-doubled vectorized decoders must be bit-exact with the
    scalar readers on adversarial data (big dods, subnormals, sign flips)."""
    rng = np.random.default_rng(17)
    for n in [3, 4, 7, 64, 1000, 4097]:
        ts = np.cumsum(rng.integers(-(10**7), 10**9, size=n)).astype(np.int64)
        vals = rng.normal(size=n)
        vals[:: max(1, n // 7)] *= 1e300
        vals[1:: max(1, n // 5)] = np.round(vals[1:: max(1, n // 5)], 2)
        tb = g.encode_timestamps(ts)
        vb = g.encode_values(vals)
        assert np.array_equal(g.decode_timestamps(tb), g._decode_timestamps_scalar(tb))
        got = g.decode_values(vb)
        exp = g._decode_values_scalar(vb)
        assert np.array_equal(got.view(np.uint64), exp.view(np.uint64))


def test_decode_values_legacy_window_reuse():
    """Streams containing the paper's '10' (reuse previous window) record —
    which our encoder no longer writes — must still decode via the scalar
    fallback."""
    vals = np.array([1.0, 1.5, 1.25, 1.0], dtype=np.float64)
    bits = vals.view(np.uint64)
    w = g._BitWriter()
    w.write(len(vals), 32)
    w.write(int(bits[0]), 64)
    lead = trail = sig = None
    for i in range(1, len(vals)):
        x = int(bits[i] ^ bits[i - 1])
        assert x != 0
        lz = 64 - x.bit_length()
        tz = (x & -x).bit_length() - 1
        if sig is not None and lz >= lead and tz >= trail:
            w.write(0b10, 2)  # reuse previous window
            w.write(x >> trail, sig)
        else:
            lead, trail = min(lz, 31), tz
            sig = 64 - lead - trail
            w.write(0b11, 2)
            w.write(lead, 5)
            w.write(sig - 1, 6)
            w.write(x >> trail, sig)
    blob = w.getvalue()
    got = g.decode_values(blob)
    assert np.array_equal(got.view(np.uint64), bits)


def _long_legacy_blob(n: int) -> bytes:
    """``n`` values: 1.0, one '11' record (lead 10, sig 2, payload 0b11),
    then n-2 '10' window-reuse records with payload 0b01.  The vectorized
    length table is wrong at every '10' record, so an unguarded start-chain
    walk strides past the end of a long enough blob."""
    w = g._BitWriter()
    w.write(n, 32)
    w.write(int(np.float64(1.0).view(np.uint64)), 64)
    w.write(0b11, 2)
    w.write(10, 5)
    w.write(2 - 1, 6)
    w.write(0b11, 2)
    for _ in range(n - 2):
        w.write(0b10, 2)
        w.write(0b01, 2)
    return w.getvalue()


@pytest.mark.parametrize("n", [3, 20, 200, 2000])
def test_long_legacy_stream_falls_back_instead_of_raising(n):
    blob = _long_legacy_blob(n)
    exp = g._decode_values_scalar(blob).view(np.uint64)
    assert np.array_equal(g.decode_values(blob).view(np.uint64), exp)
    ours = g.encode_values(np.round(np.random.default_rng(n).normal(size=50), 3))
    for blobs in ([blob], [ours, blob], [blob, ours]):
        got, counts = g.decode_values_batched(blobs)
        want = np.concatenate([g._decode_values_scalar(b) for b in blobs])
        assert counts.tolist() == [len(g._decode_values_scalar(b)) for b in blobs]
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


def test_batched_encode_decode_equals_per_chunk():
    """The batched (whole-frame) encoders/decoders are byte- and
    bit-identical to the per-chunk ones on randomized group sets covering
    tiny chunks, constant runs, pre-epoch jumps and raw-64 dods."""
    rng = np.random.default_rng(123)
    sizes = np.concatenate([[1, 2, 3, 4], rng.integers(1, 400, size=150)])
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    n = bounds[-1]
    ts = np.cumsum(rng.integers(1, 10_000_000, size=n)).astype(np.int64)
    ts[40:50] -= 10**15  # giant jumps -> raw 64-bit dod bucket
    vals = np.round(rng.normal(100.0, 30.0, size=n), 2)
    vals[::13] = vals[1]  # constant runs -> '0' records
    vals[7] = float("inf")
    vals[9] = -0.0
    tb = g.encode_timestamps_batched(ts, bounds)
    vb = g.encode_values_batched(vals, bounds)
    for i in range(len(sizes)):
        a, b = bounds[i], bounds[i + 1]
        assert tb[i] == g.encode_timestamps(ts[a:b])
        assert vb[i] == g.encode_values(vals[a:b])
    ts_d, n_t = g.decode_timestamps_batched(tb)
    v_d, n_v = g.decode_values_batched(vb)
    np.testing.assert_array_equal(n_t, sizes)
    np.testing.assert_array_equal(n_v, sizes)
    np.testing.assert_array_equal(ts_d, ts)
    np.testing.assert_array_equal(v_d.view(np.uint64), vals.view(np.uint64))


def test_batched_checksum_equals_per_chunk():
    from streaming_downsampling_spark.operators.compress import (
        _checksum,
        _checksum_batched,
    )

    rng = np.random.default_rng(5)
    sizes = np.array([1, 2, 7, 100, 3])
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    ts = rng.integers(-(10**15), 10**15, size=bounds[-1]).astype(np.int64)
    vals = rng.normal(size=bounds[-1])
    got = _checksum_batched(ts, vals, bounds)
    for i in range(len(sizes)):
        a, b = bounds[i], bounds[i + 1]
        assert int(got[i]) == _checksum(ts[a:b], vals[a:b])
