"""Chunk compression operators: Gorilla/delta-of-delta chunks as a table.

Maps each (key, window) group to one row holding the compressed blobs —
the ``chunks`` retention-tier format from SURVEY.md §4.3.  Blob columns are
``BinaryType`` so parquet stores them raw.

Physical shape: ``repartition(key, window) → sortWithinPartitions →
mapInPandas`` with cross-batch group carry, NOT ``applyInPandas`` — per-group
Python invocation overhead (~ms) dwarfs the codec on small groups, and at
100 TB the group count is enormous while each retention window stays small.
One shuffle total; the kernel walks each sorted Arrow batch and emits one
row per complete group.

The reference has no compression (gzip'd JSON Kafka messages only,
/root/reference/core/streaming_pipeline.py:172-180); this is the north-rule
Gorilla path.  Round-trip is bit-exact (tests assert float64 bit-pattern
equality end-to-end through Spark).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions import gorilla as G
from ._groupmap import apply_sorted, group_bounds, prepare_sorted

CHUNK_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_start", TimestampType()),
        StructField("n_points", IntegerType()),
        StructField("first_ts_us", LongType()),
        StructField("ts_blob", BinaryType()),
        StructField("val_blob", BinaryType()),
        StructField("checksum", LongType()),
        StructField("raw_bytes", LongType()),
        StructField("enc_bytes", LongType()),
    ]
)

POINT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _ts_us(series: pd.Series) -> np.ndarray:
    """Timestamps → int64 microseconds, robust to ns/us units and tz."""
    s = pd.to_datetime(series)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.to_numpy(dtype="datetime64[us]").astype(np.int64)


_MOD = np.uint64((1 << 63) - 1)


def _fold63(x: np.ndarray) -> np.ndarray:
    """x mod (2^63 - 1) for uint64 inputs, branch-free Mersenne fold."""
    y = (x & _MOD) + (x >> np.uint64(63))
    return (y & _MOD) + (y >> np.uint64(63))


def _checksum_terms(ts_us: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Per-point terms ``(t * 1000003 + v) mod (2^63-1)`` entirely in uint64
    numpy: the multiply is split 32/32 so every intermediate fits, and
    p = 2^63-1 is Mersenne so reduction is a shift-add fold."""
    v = _fold63(np.ascontiguousarray(values, dtype=np.float64).view(np.uint64))
    ts_i = np.asarray(ts_us, dtype=np.int64)
    t = ts_i.astype(np.uint64)
    # pre-epoch timestamps: the uint64 view is ts + 2^64 ≡ ts + 2 (mod p),
    # so subtract 2 mod p to recover the signed value's true residue
    neg = ts_i < 0
    if neg.any():
        t = _fold63(_fold63(t) + np.where(neg, _MOD - np.uint64(2), np.uint64(0)))
    k = np.uint64(1000003)
    hi = (t >> np.uint64(32)) * k          # < 2^52
    lo = (t & np.uint64(0xFFFFFFFF)) * k   # < 2^52
    # (hi * 2^32) mod p: shift the folded hi by 32 with wraparound at bit 63
    hi = _fold63(hi)
    hi32 = _fold63(((hi << np.uint64(32)) & _MOD) + (hi >> np.uint64(31)))
    return _fold63(_fold63(hi32 + _fold63(lo)) + v)


def _checksum_batched(
    ts_us: np.ndarray, values: np.ndarray, bounds: np.ndarray
) -> np.ndarray:
    """Order-independent 63-bit checksum over (ts, value-bitpattern) pairs
    of each ``[bounds[g], bounds[g+1])`` slice: the exact mod-(2^63-1) sum
    of the per-point terms, in one vectorized pass.  The <2^63 terms are
    split 32/32 and segment-summed exactly (each half-sum of n < 2^31
    points stays under 2^63), then recombined mod p."""
    term = _checksum_terms(ts_us, values)
    starts = np.asarray(bounds[:-1], dtype=np.int64)
    counts = np.asarray(bounds[1:], dtype=np.int64) - starts
    if len(term) == 0:
        return np.zeros(len(starts), dtype=np.uint64)
    # reduceat quirk: an empty group returns term[start] (and a trailing
    # empty group would index past the end) — clip the starts and zero the
    # empty groups afterwards (an empty slice sums to 0)
    starts_c = np.minimum(starts, len(term) - 1)
    lo = np.add.reduceat(term & np.uint64(0xFFFFFFFF), starts_c)
    hi = np.add.reduceat(term >> np.uint64(32), starts_c)
    hi = _fold63(hi)
    hi32 = _fold63(((hi << np.uint64(32)) & _MOD) + (hi >> np.uint64(31)))
    out = _fold63(_fold63(hi32 + _fold63(lo)))
    out = np.where(out == _MOD, np.uint64(0), out)
    return np.where(counts == 0, np.uint64(0), out)


def compress_chunks(
    df: DataFrame,
    window: str = "1 hour",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = "turn_idx",
) -> DataFrame:
    """Encode each (key, tumbling window) group into one Gorilla chunk row."""
    return apply_sorted(
        prepare_sorted(df, window, key_col, ts_col, value_col, order_col),
        encode_frame_fn(),
        CHUNK_SCHEMA,
    )


def encode_frame_fn():
    """The chunk-encode kernel as a prepared-frame function, for sharing one
    ``prepare_sorted`` shuffle with other same-grouping kernels."""

    def encode_frame(body: pd.DataFrame) -> pd.DataFrame:
        """Encode every (key, window) run in a sorted frame — numpy boundary
        splits (the shared group_bounds walk), batched encoders (ONE
        bit-packing pass per stream for the whole frame, see
        ``gorilla.encode_timestamps_batched``), no per-group pandas objects
        and no per-group Python beyond the final blob-slice list."""
        bounds, keys, ws = group_bounds(body)
        ts_us = _ts_us(body["_ts"])
        vals = body["_value"].to_numpy(dtype=np.float64)
        ts_blobs = G.encode_timestamps_batched(ts_us, bounds)
        val_blobs = G.encode_values_batched(vals, bounds)
        n = np.diff(bounds)
        starts = bounds[:-1]
        return pd.DataFrame(
            {
                "key": keys[starts],
                "window_start": ws[starts],
                "n_points": n.astype(np.int32),
                "first_ts_us": ts_us[starts],
                "ts_blob": ts_blobs,
                "val_blob": val_blobs,
                "checksum": _checksum_batched(ts_us, vals, bounds).astype(
                    np.int64
                ),
                "raw_bytes": n * 16,
                "enc_bytes": np.fromiter(
                    (len(t) + len(v) for t, v in zip(ts_blobs, val_blobs)),
                    dtype=np.int64,
                    count=len(n),
                ),
            }
        )

    # the encoder reads ts and value but never _ord (the sort it bought is
    # already established) — let apply_sorted prune it off the Arrow hop
    encode_frame.needed_cols = ["key", "window_start", "_ts", "_value"]
    return encode_frame


def decompress_chunks(chunks: DataFrame) -> DataFrame:
    """Explode chunk rows back into (key, ts_us, value) points.

    ``mapInPandas``: no shuffle — each chunk row decodes independently."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"key": [], "ts_us": [], "value": []})
                continue
            # whole-batch vectorized decode (one pass per stream over every
            # chunk's blob) + one batched checksum verification — the
            # per-chunk decode calls and per-chunk DataFrames they replace
            # were ~0.8 ms/chunk of numpy-dispatch and constructor overhead
            ts_blobs = [bytes(b) for b in pdf["ts_blob"]]
            val_blobs = [bytes(b) for b in pdf["val_blob"]]
            ts_all, n_ts = G.decode_timestamps_batched(ts_blobs)
            val_all, n_val = G.decode_values_batched(val_blobs)
            bounds = np.concatenate([[0], np.cumsum(n_ts)])
            ok = (n_ts == n_val) & (
                _checksum_batched(ts_all, val_all, bounds)
                == pdf["checksum"].to_numpy().astype(np.uint64)
            )
            if not ok.all():
                i = int(np.flatnonzero(~ok)[0])
                raise ValueError(
                    f"chunk checksum mismatch for key={pdf['key'].iloc[i]} "
                    f"window_start={pdf['window_start'].iloc[i]}"
                )
            yield pd.DataFrame(
                {
                    "key": np.repeat(pdf["key"].to_numpy(), n_ts),
                    "ts_us": ts_all,
                    "value": val_all,
                }
            )

    return chunks.mapInPandas(kernel, POINT_SCHEMA)
