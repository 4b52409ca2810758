import hashlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from scalar_oracles import BitWriter, checksum, decode_timestamps_scalar, decode_values_scalar

from streaming_downsampling_spark.functions import gorilla as g


def _enc_ts(ts) -> bytes:
    ts = np.asarray(ts, dtype=np.int64)
    return g.encode_timestamps_batched(ts, [0, len(ts)])[0]


def _enc_vals(v) -> bytes:
    v = np.asarray(v, dtype=np.float64)
    return g.encode_values_batched(v, [0, len(v)])[0]


def _dec_ts(blob: bytes) -> np.ndarray:
    out, counts = g.decode_timestamps_batched([blob])
    assert counts.tolist() == [len(out)]
    return out


def _dec_vals(blob: bytes) -> np.ndarray:
    out, counts = g.decode_values_batched([blob])
    assert counts.tolist() == [len(out)]
    return out


def _roundtrip_ts(ts):
    ts = np.asarray(ts, dtype=np.int64)
    blob = _enc_ts(ts)
    np.testing.assert_array_equal(_dec_ts(blob), ts)
    np.testing.assert_array_equal(decode_timestamps_scalar(blob), ts)


def _roundtrip_vals(v):
    v = np.asarray(v, dtype=np.float64)
    blob = _enc_vals(v)
    # bit-pattern equality (NaN-safe, -0.0 vs 0.0 distinguished)
    np.testing.assert_array_equal(_dec_vals(blob).view(np.uint64), v.view(np.uint64))
    np.testing.assert_array_equal(
        decode_values_scalar(blob).view(np.uint64), v.view(np.uint64)
    )


def test_empty_and_singleton():
    _roundtrip_ts([])
    _roundtrip_ts([1_700_000_000_000_000])
    _roundtrip_vals([])
    _roundtrip_vals([3.14159])


def test_regular_timestamps_compress_well():
    ts = 1_700_000_000_000_000 + np.arange(5000, dtype=np.int64) * 5_000_000
    blob = _enc_ts(ts)
    _roundtrip_ts(ts)
    # fully regular cadence: ~1 bit/point after the header
    assert len(blob) < 5000 / 8 + 32


def test_constant_values_compress_well():
    v = np.full(5000, 42.5)
    blob = _enc_vals(v)
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
    ts2, v2 = _dec_ts(_enc_ts(ts)), _dec_vals(_enc_vals(vals))
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(vals.view(np.uint64), v2.view(np.uint64))


def test_vectorized_decode_equals_scalar():
    """The vectorized decoders must be bit-exact with the scalar readers on
    adversarial data (big dods, subnormals, sign flips)."""
    rng = np.random.default_rng(17)
    for n in [3, 4, 7, 64, 1000, 4097]:
        ts = np.cumsum(rng.integers(-(10**7), 10**9, size=n)).astype(np.int64)
        vals = rng.normal(size=n)
        vals[:: max(1, n // 7)] *= 1e300
        vals[1:: max(1, n // 5)] = np.round(vals[1:: max(1, n // 5)], 2)
        tb = _enc_ts(ts)
        vb = _enc_vals(vals)
        assert np.array_equal(_dec_ts(tb), decode_timestamps_scalar(tb))
        got = _dec_vals(vb)
        exp = decode_values_scalar(vb)
        assert np.array_equal(got.view(np.uint64), exp.view(np.uint64))


def test_decode_values_legacy_window_reuse():
    """Streams containing the paper's '10' (reuse previous window) record —
    which our encoder no longer writes — must still decode via the scalar
    fallback."""
    vals = np.array([1.0, 1.5, 1.25, 1.0], dtype=np.float64)
    bits = vals.view(np.uint64)
    w = BitWriter()
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
    got = _dec_vals(blob)
    assert np.array_equal(got.view(np.uint64), bits)


def _long_legacy_blob(n: int) -> bytes:
    """``n`` values: 1.0, one '11' record (lead 10, sig 2, payload 0b11),
    then n-2 '10' window-reuse records with payload 0b01.  The vectorized
    length table is wrong at every '10' record, so an unguarded start-chain
    walk strides past the end of a long enough blob."""
    w = BitWriter()
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
    exp = decode_values_scalar(blob).view(np.uint64)
    assert np.array_equal(_dec_vals(blob).view(np.uint64), exp)
    ours = _enc_vals(np.round(np.random.default_rng(n).normal(size=50), 3))
    for blobs in ([blob], [ours, blob], [blob, ours]):
        got, counts = g.decode_values_batched(blobs)
        want = np.concatenate([decode_values_scalar(b) for b in blobs])
        assert counts.tolist() == [len(decode_values_scalar(b)) for b in blobs]
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


# the bytes the encoders write for the seeded group set below: sha256 and
# total length of the concatenated blobs, and each blob's length
_TS_BLOBS_SHA256 = "d0f1c6f41fa87c089cc138753b3e7f4800830a0e638f4d0ab6f2e1451abbdf5a"
_VAL_BLOBS_SHA256 = "0ab945cb96b8d33e528719221f26aa3f3af839cca62d06028ab94710ef14078d"
_TS_BLOBS_BYTES = 242_762
_VAL_BLOBS_BYTES = 223_543
_TS_BLOB_LENS = [
    12, 20, 29, 37, 63, 2324, 2018, 190, 3089, 751, 870, 632, 1142, 607,
    1185, 2766, 1542, 3140, 1533, 947, 2681, 2791, 2927, 3029, 97, 1746,
    913, 836, 828, 2800, 2698, 734, 1397, 2519, 513, 2145, 1499, 3150,
    2511, 794, 2842, 2715, 734, 1756, 2691, 794, 836, 573, 37, 1695, 63,
    1984, 1414, 632, 1229, 54, 496, 1601, 267, 2470, 879, 3123, 581,
    2128, 1754, 3114, 2103, 2944, 1584, 751, 649, 2944, 700, 2485, 1797,
    947, 1397, 2715, 1542, 2944, 3216, 1023, 1782, 1790, 1848, 250,
    1261, 1984, 3116, 811, 2188, 2604, 3133, 598, 2298, 1059, 1499, 54,
    2460, 114, 1278, 1695, 2273, 1593, 2851, 437, 896, 879, 1295, 20,
    1465, 1304, 1992, 1958, 964, 1457, 1712, 2836, 267, 2094, 275, 913,
    1516, 2751, 1151, 1703, 1967, 2579, 1346, 1924, 2851, 1491, 3191,
    1355, 1474, 80, 1814, 1601, 1414, 2113, 1865, 3216, 1389, 1482,
    2766, 1652, 840, 1771, 1729, 1397, 1805, 1967, 3301, 250,
]
_VAL_BLOB_LENS = [
    12, 21, 28, 40, 61, 2126, 1870, 176, 2839, 687, 801, 583, 1048, 570,
    1084, 2560, 1444, 2898, 1407, 883, 2444, 2595, 2685, 2788, 88, 1625,
    835, 771, 756, 2584, 2489, 690, 1281, 2336, 476, 1951, 1371, 2913,
    2312, 731, 2582, 2465, 681, 1629, 2477, 745, 741, 535, 37, 1578, 55,
    1841, 1280, 588, 1131, 51, 452, 1487, 250, 2274, 794, 2877, 551,
    1981, 1601, 2841, 1944, 2725, 1449, 694, 613, 2676, 653, 2302, 1603,
    873, 1286, 2492, 1410, 2721, 2956, 945, 1631, 1634, 1731, 226, 1184,
    1821, 2844, 740, 2037, 2402, 2875, 558, 2106, 980, 1404, 48, 2256,
    109, 1164, 1564, 2077, 1462, 2634, 398, 828, 798, 1182, 21, 1346,
    1197, 1823, 1799, 879, 1345, 1564, 2593, 248, 1939, 244, 841, 1412,
    2544, 1064, 1590, 1783, 2374, 1228, 1784, 2636, 1371, 2931, 1284,
    1363, 77, 1675, 1490, 1322, 1957, 1709, 2936, 1291, 1346, 2524,
    1531, 792, 1635, 1585, 1282, 1663, 1822, 3051, 234,
]


def test_batched_codec_pins_bit_format():
    """The encoders write the pinned bytes for a seeded group set covering
    tiny chunks, constant runs, pre-epoch jumps and raw-64 dods; every blob
    decodes through the scalar readers to its input bit for bit, and the
    batched decoders return the same points."""
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
    assert len(sizes) == len(tb) == len(vb) == 154
    assert [len(b) for b in tb] == _TS_BLOB_LENS
    assert [len(b) for b in vb] == _VAL_BLOB_LENS
    assert len(b"".join(tb)) == _TS_BLOBS_BYTES
    assert len(b"".join(vb)) == _VAL_BLOBS_BYTES
    assert hashlib.sha256(b"".join(tb)).hexdigest() == _TS_BLOBS_SHA256
    assert hashlib.sha256(b"".join(vb)).hexdigest() == _VAL_BLOBS_SHA256
    for i in range(len(sizes)):
        a, b = bounds[i], bounds[i + 1]
        np.testing.assert_array_equal(decode_timestamps_scalar(tb[i]), ts[a:b])
        np.testing.assert_array_equal(
            decode_values_scalar(vb[i]).view(np.uint64), vals[a:b].view(np.uint64)
        )
    ts_d, n_t = g.decode_timestamps_batched(tb)
    v_d, n_v = g.decode_values_batched(vb)
    np.testing.assert_array_equal(n_t, sizes)
    np.testing.assert_array_equal(n_v, sizes)
    np.testing.assert_array_equal(ts_d, ts)
    np.testing.assert_array_equal(v_d.view(np.uint64), vals.view(np.uint64))


def test_small_blobs_pin_every_record_kind():
    """Exact bytes for one chunk per stream that holds every record kind:
    delta-of-deltas 0, 60, 130, 1000 and two out-of-range ones ('0', '10',
    '110', '1110', '1111'); value XORs that are zero, fit one fused segment,
    need a split header/payload (64 and 62 significant bits) and clamp the
    leading-zero count at 31."""
    ts = np.array([0, 10, 20, 30, 100, 300, 1500, 100_000, 100_001], dtype=np.int64)
    vals = np.array(
        [1.0, 1.0, 1.5, 1.5, 1e-300, -0.0, 3.0, 3.0000000000000004], dtype=np.float64
    )
    assert _enc_ts(ts).hex() == (
        "000000090000000000000000000000000000000a2f7b03d7cfe000000000002f829ff"
        "ffffffffffcfe7a"
    )
    assert _enc_vals(vals).hex() == (
        "000000083ff00000000000006c02c5efcbadc3f85f1e6b383f81a56e1fc2f8f359c066"
        "007fc000000001"
    )
    _roundtrip_ts(ts)
    _roundtrip_vals(vals)


def test_batched_checksum_equals_per_chunk():
    from streaming_downsampling_spark.operators.compress import _checksum_batched

    rng = np.random.default_rng(5)
    sizes = np.array([1, 2, 7, 100, 3])
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    ts = rng.integers(-(10**15), 10**15, size=bounds[-1]).astype(np.int64)
    vals = rng.normal(size=bounds[-1])
    got = _checksum_batched(ts, vals, bounds)
    for i in range(len(sizes)):
        a, b = bounds[i], bounds[i + 1]
        assert int(got[i]) == checksum(ts[a:b], vals[a:b])
