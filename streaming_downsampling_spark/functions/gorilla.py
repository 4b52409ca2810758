"""Gorilla time-series compression: delta-of-delta timestamps + XOR floats.

Public algorithm from Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory
Time Series Database" (VLDB 2015), §4.1.  The reference repo has no
compression at all (its Kafka payloads are gzip JSON,
/root/reference/core/streaming_pipeline.py:172-180); the north rule requires
Gorilla/delta-of-delta chunk compression for the retention tiers, so this is
new machinery, bit-compatible round-trip tested (float64 bit-pattern
equality).

Both streams are encoded and decoded batched: one call covers every
(conv_id, window) chunk of a sorted frame in whole-array numpy, one blob per
chunk, so the only per-record Python left is the decoders' start-chain walk.
One chunk is the one-group batch (``encode_*_batched(x, [0, len(x)])[0]``,
``decode_*_batched([blob])``).  Deviations from the paper, chosen for
µs-resolution int64 timestamps: first delta is 64-bit, and the final
delta-of-delta bucket is 64-bit (paper: 14-bit first delta / 32-bit bucket).
"""

from __future__ import annotations

import numpy as np


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, nbits: int) -> int:
        # word-based extraction: grab the covering byte span in one
        # int.from_bytes, then shift/mask — ~10× faster than per-bit loops
        pos = self.pos
        end = pos + nbits
        first, last = pos >> 3, (end + 7) >> 3
        word = int.from_bytes(self.data[first:last], "big")
        shift = (last << 3) - end
        self.pos = end
        return (word >> shift) & ((1 << nbits) - 1)


_DOD_BUCKETS = (
    # (control value, control bits, payload bits, lo, hi) — Gorilla §4.1.1
    (0b10, 2, 7, -63, 64),
    (0b110, 3, 9, -255, 256),
    (0b1110, 4, 12, -2047, 2048),
)

_U64 = np.uint64
_ONE = _U64(1)


def _bitlen64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit length of uint64 values (0 → 0)."""
    n = np.zeros(x.shape, dtype=np.uint64)
    y = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        big = y >= (_ONE << _U64(s))
        n += big.astype(np.uint64) * _U64(s)
        y = np.where(big, y >> _U64(s), y)
    return n + (y > 0).astype(np.uint64)


def _pack_segments(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack variable-width big-endian bit segments into bytes, vectorized.

    Each segment is ``nbits[i]`` (1..64) low bits of ``vals[i]``, written
    MSB-first back-to-back.  Works in uint64 words: every segment touches at
    most two consecutive words, so packing is two scatter-ORs over the whole
    array — no per-value Python.
    """
    vals = vals.astype(np.uint64, copy=False)
    nbits = nbits.astype(np.uint64, copy=False)
    keep = nbits > 0
    if not keep.all():
        vals, nbits = vals[keep], nbits[keep]
    if len(vals) == 0:
        return b""
    end = np.cumsum(nbits)
    start = end - nbits
    total = int(end[-1])
    words = np.zeros((total + 63) // 64 + 1, dtype=np.uint64)
    w = (start >> _U64(6)).astype(np.int64)
    off = (start & _U64(63)).astype(np.int64)
    # mask values to nbits (nbits == 64 → full value)
    mask = np.where(nbits == 64, ~_U64(0), (_ONE << nbits) - _ONE)
    v = vals & mask
    s = 64 - off - nbits.astype(np.int64)  # left-shift inside the first word
    s_pos = np.maximum(s, 0).astype(np.uint64)
    s_neg = np.maximum(-s, 0).astype(np.uint64)
    hi = np.where(s >= 0, v << s_pos, v >> s_neg)
    # Scatter-OR into words.  Start offsets are non-decreasing, so equal
    # word indexes form contiguous runs: one bitwise_or.reduceat per run +
    # a unique-index fancy |= replaces np.bitwise_or.at, whose unbuffered
    # element-at-a-time inner loop measured ~5x slower on large frames.
    _scatter_or(words, w, hi)
    spill = s < 0
    if spill.any():
        lo = v[spill] << (_U64(64) - s_neg[spill])
        _scatter_or(words, w[spill] + 1, lo)
    return words.byteswap().tobytes()[: (total + 7) // 8]


def _scatter_or(words: np.ndarray, w: np.ndarray, v: np.ndarray) -> None:
    """``words[w] |= v`` for NON-DECREASING ``w`` (duplicates allowed)."""
    if len(w) == 0:
        return
    run0 = np.concatenate([[0], np.flatnonzero(np.diff(w)) + 1])
    words[w[run0]] |= np.bitwise_or.reduceat(v, run0)


# ---------------------------------------------------------------------------
# vectorized decode machinery
#
# Decoding a variable-length bitstream looks inherently sequential: record
# i+1 starts where record i ends.  But every record's LENGTH is a pure
# function of a few bits at its own start (no inter-record state: the
# value encoder writes only '0' and '11' records), so decode splits into:
#   (a) a candidate length L[p] for EVERY bit position p — whole-array
#       uint8 arithmetic over the unpacked bits (bandwidth-trivial);
#   (b) the start chain p₀ → p₀+L[p₀] → … — a tight Python loop over a
#       bytes length-table (~80 ns/record; a full pointer-doubling pass was
#       measured memory-latency-bound here because the gather domain is
#       total_bits ≫ record count);
#   (c) one batched arbitrary-offset bit-field gather for all payloads,
#       then cumsum/cumxor to reconstruct values.
# Net ~20× over the per-field _BitReader loop, keeping the 10¹²-point read
# path out of the interpreter for everything except the 1-add-per-record
# chain.
# ---------------------------------------------------------------------------


def _extract_bits(padded: np.ndarray, q: np.ndarray, width) -> np.ndarray:
    """Read ``width[i]`` bits (1..64) at arbitrary bit offset ``q[i]``, MSB
    first, vectorized.

    A field of max width W always fits a ``ceil((7+W)/8)``-byte window, so
    narrow fields (the common control/header reads) gather 2-3 bytes per
    record instead of a fixed 9 — the byte gathers are the dominant cost of
    a batched decode."""
    q = np.asarray(q, dtype=np.int64)
    w_arr = np.asarray(width, dtype=np.uint64)
    w = np.broadcast_to(w_arr, q.shape)
    max_w = int(w_arr.max()) if w_arr.size else 0
    nbytes = (7 + max_w + 7) // 8  # window bytes incl. worst-case offset 7
    byte0 = q >> 3
    off = (q & 7).astype(np.uint64)
    hi = np.zeros(q.shape, dtype=np.uint64)
    for k in range(min(nbytes, 8)):
        hi = (hi << np.uint64(8)) | padded[byte0 + k].astype(np.uint64)
    win = np.uint64(8 * min(nbytes, 8))
    mask = np.where(w == 64, ~np.uint64(0), (np.uint64(1) << w) - np.uint64(1))
    if nbytes <= 8:
        return (hi >> (win - off - w)) & mask
    lo = padded[byte0 + 8].astype(np.uint64)
    s = np.uint64(72) - off - w  # right-shift inside the 72-bit window; >= 1
    ge8 = s >= 8
    a = hi >> np.where(ge8, s - np.uint64(8), np.uint64(0))
    s_lt = np.where(ge8, np.uint64(1), s)  # clamp to keep shifts valid
    b = (hi << (np.uint64(8) - s_lt)) | (lo >> s_lt)
    return np.where(ge8, a, b) & mask


def _start_chain(length_table: bytes, p0: int, m: int) -> np.ndarray:
    """Record start positions: follow p → p + L[p] m−1 times.

    The loop body is one bytes-index + one add — the only per-record Python
    in the whole decode path."""
    out = []
    append = out.append
    pos = p0
    for _ in range(m):
        append(pos)
        pos += length_table[pos]
    return np.array(out, dtype=np.int64)


def _dod_lengths(bits: np.ndarray, real_bits: int) -> bytes:
    """:func:`_start_chain` table of a delta-of-delta stream: the record
    length if a record started at each bit ('0'→1, '10'+7→9, '110'+9→12,
    '1110'+12→16, '1111'+64→68).  ``bits`` carries >= 80 zero bits of
    padding; positions past ``real_bits`` get length 0, so a walk over a
    stream that claims more records than it holds stops there."""
    nbits = len(bits) - 3
    c1 = bits[:nbits]
    c12 = c1 & bits[1: nbits + 1]
    c123 = c12 & bits[2: nbits + 2]
    c1234 = c123 & bits[3: nbits + 3]
    L = np.uint8(1) + c1 * np.uint8(8) + c12 * np.uint8(3)
    L += c123 * np.uint8(4) + c1234 * np.uint8(52)
    L[real_bits:] = 0
    return L.tobytes()


def _xor_lengths(bits: np.ndarray, real_bits: int) -> bytes:
    """:func:`_start_chain` table of an XOR value stream: '0'→1, '11'→13 +
    the 6-bit significant-length field at p+7 (uint8 arithmetic: field <=
    63 and 14 + field <= 77 both fit).  A legacy '10' record's length
    depends on the previous '11' header, so it gets length 0: the walk
    stops on the first '10' record, where the caller sees it and falls
    back to the scalar reader, instead of striding on with wrong lengths
    past the stream's end.  ``bits`` carries >= 96 zero bits of padding;
    positions past ``real_bits`` also get length 0."""
    nbits = len(bits) - 13
    field = bits[7: 7 + nbits].copy()
    for k in range(1, 6):
        field <<= np.uint8(1)
        field |= bits[7 + k: 7 + k + nbits]
    L = np.uint8(1) + bits[:nbits] * (np.uint8(13) + field)
    L[bits[:nbits] > bits[1: nbits + 1]] = 0  # '10'
    L[real_bits:] = 0
    return L.tobytes()


def _decode_values_scalar(blob: bytes) -> np.ndarray:
    """Scalar XOR reader that also handles the paper's '10' window-reuse
    records: :func:`decode_values_batched` decodes a blob holding one through
    this (foreign/legacy streams; our encoder writes only '0'/'11')."""
    r = _BitReader(blob)
    n = r.read(32)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    prev = r.read(64)
    out[0] = prev
    lead, trail, sig = 0, 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 1:  # '11' new window
            lead = r.read(5)
            sig = r.read(6) + 1
            trail = 64 - lead - sig
        x = r.read(sig) << trail
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


# ---------------------------------------------------------------------------
# batched encode: many chunks, ONE _pack_segments call per stream
#
# Encoding one chunk at a time costs ~30 whole-array numpy ops per chunk; for
# the engine's real group shapes (thousands of 40-400-point groups per Arrow
# batch) the numpy dispatch overhead dwarfs the arithmetic.  The encoders
# build the (value, nbits) segment arrays for EVERY chunk of a sorted frame in
# one vectorized pass — per-chunk head segments scattered between the global
# delta-of-delta/XOR segments — pad each chunk's bit stream to a byte
# boundary with an explicit zero-bit segment, pack ONCE, and slice per-chunk
# blobs out of the packed buffer by byte offset.  Tests pin the bytes (the
# sha256 of a seeded group set, exact bytes for every record kind) and decode
# every blob with a scalar bit reader.
# ---------------------------------------------------------------------------


def _cumsum0(x: np.ndarray) -> np.ndarray:
    out = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(x, out=out[1:])
    return out


def _flat_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate arange(starts[g], starts[g]+counts[g]) for all g."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    intra = np.arange(total, dtype=np.int64) - np.repeat(
        _cumsum0(counts)[:-1], counts
    )
    return np.repeat(starts, counts) + intra


def _assemble_and_pack(
    head_v: np.ndarray,  # (G, 3) uint64 head slot values
    head_b: np.ndarray,  # (G, 3) uint64 head slot bit widths (0 = absent)
    seg_v: np.ndarray,   # (M, 2) uint64 per-record segment values
    seg_b: np.ndarray,   # (M, 2) per-record segment bit widths
    m: np.ndarray,       # (G,) records per chunk
) -> list[bytes]:
    """Scatter per-chunk head + record segments into one global segment
    array, byte-pad each chunk, pack once, slice per-chunk blobs."""
    G = len(m)
    h_slots = head_b.shape[1]
    slots = h_slots + 2 * m + 1  # head + 2/record + pad
    slot0 = _cumsum0(slots)[:-1]
    total_slots = int(slots.sum())
    vals = np.zeros(total_slots, dtype=np.uint64)
    bits = np.zeros(total_slots, dtype=np.uint64)
    for j in range(h_slots):
        vals[slot0 + j] = head_v[:, j]
        bits[slot0 + j] = head_b[:, j]
    if len(seg_v):
        base = _flat_ranges(slot0 + h_slots, 2 * m)
        vals[base] = seg_v.reshape(-1)
        bits[base] = seg_b.reshape(-1)
    # per-chunk bit totals -> zero pad segment up to the byte boundary
    rec_bits = seg_b.sum(axis=1, dtype=np.uint64).astype(np.int64)
    c = _cumsum0(rec_bits)
    mm = _cumsum0(m)
    chunk_bits = head_b.sum(axis=1, dtype=np.uint64).astype(np.int64) + (
        c[mm[1:]] - c[mm[:-1]]
    )
    pad = (-chunk_bits) % 8
    bits[slot0 + slots - 1] = pad.astype(np.uint64)
    packed = _pack_segments(vals, bits)
    nbytes = (chunk_bits + pad) // 8
    off = _cumsum0(nbytes)
    return [packed[off[g]: off[g + 1]] for g in range(G)]


def encode_timestamps_batched(ts: np.ndarray, bounds: np.ndarray) -> list[bytes]:
    """Delta-of-delta encode every ``ts[bounds[g]:bounds[g+1]]`` chunk of
    int64 timestamps (µs), one blob per chunk.

    A blob is a 32-bit count, the first timestamp and the first delta (64
    bits each, when present), then one record per delta-of-delta: control
    and payload of each in-range bucket as one fused segment, an
    out-of-range delta-of-delta as a 4-bit '1111' control plus a 64-bit raw
    segment; zero bits pad the blob to a byte boundary."""
    ts = np.asarray(ts, dtype=np.int64)
    a = np.asarray(bounds[:-1], dtype=np.int64)
    b = np.asarray(bounds[1:], dtype=np.int64)
    n = b - a
    G = len(n)
    head_v = np.zeros((G, 3), dtype=np.uint64)
    head_b = np.zeros((G, 3), dtype=np.uint64)
    head_v[:, 0] = n.astype(np.uint64)
    head_b[:, 0] = 32
    has1 = n >= 1
    head_v[has1, 1] = ts[a[has1]].astype(np.uint64)
    head_b[has1, 1] = 64
    has2 = n >= 2
    head_v[has2, 2] = (ts[a[has2] + 1] - ts[a[has2]]).astype(np.uint64)
    head_b[has2, 2] = 64
    m = np.maximum(n - 2, 0)
    # dod for record i (i >= a+2) is ts[i] - 2 ts[i-1] + ts[i-2]; np.diff
    # twice never crosses a chunk edge for the indexes gathered here
    d2 = np.diff(ts, 2) if len(ts) >= 3 else np.empty(0, dtype=np.int64)
    dods = d2[_flat_ranges(a, m)]
    M = len(dods)
    seg_v = np.zeros((M, 2), dtype=np.uint64)
    seg_b = np.zeros((M, 2), dtype=np.uint64)
    done = dods == 0
    seg_b[done, 0] = 1
    for ctrl, cbits, pbits, lo, hi in _DOD_BUCKETS:
        sel = (~done) & (dods >= lo) & (dods <= hi)
        seg_v[sel, 0] = (np.uint64(ctrl) << np.uint64(pbits)) | (
            (dods[sel] - lo).astype(np.uint64)
        )
        seg_b[sel, 0] = cbits + pbits
        done |= sel
    big = ~done
    seg_v[big, 0] = 0b1111
    seg_b[big, 0] = 4
    seg_v[big, 1] = dods[big].astype(np.uint64)
    seg_b[big, 1] = 64
    return _assemble_and_pack(head_v, head_b, seg_v, seg_b, m)


def _concat_blobs(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(raw bytes of all blobs, 16-zero-padded copy, per-blob BIT offsets).

    Blobs are byte-aligned by construction (every encoder pads each chunk's
    stream to a byte boundary), so concatenation preserves every in-blob bit
    offset as ``blob_bit_start + local_offset``."""
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
    off = _cumsum0(lens)
    raw = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    padded = np.concatenate([raw, np.zeros(16, dtype=np.uint8)])
    return raw, padded, off * 8


def _seg_cumsum_pick(
    acc: np.ndarray,          # accumulated (cumsum/cumxor) record values, len K
    k: np.ndarray,            # records per blob
    n_out: np.ndarray,        # output points per blob (k + 1 clipped)
    xor: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """For output point i of blob g: 0 (identity) when i == 0, else the
    in-blob prefix acc[kk[g]+i-1] ⊖ acc[kk[g]-1] — the cumulative-with-reset
    gather shared by both decoders.  int64/uint64 wraparound keeps cross-blob
    overflow exact (everything is mod 2^64 and true in-blob values fit)."""
    G = len(k)
    kk = _cumsum0(k)
    K = int(kk[-1])
    total = int(n_out.sum())
    ii = np.arange(total, dtype=np.int64) - np.repeat(_cumsum0(n_out)[:-1], n_out)
    gg = np.repeat(np.arange(G, dtype=np.int64), n_out)
    if K == 0:
        return np.zeros(total, dtype=acc.dtype), ii
    base = np.where(kk[:-1] > 0, acc[np.maximum(kk[:-1] - 1, 0)], acc.dtype.type(0))
    idx = np.clip(kk[gg] + ii - 1, 0, K - 1)
    pref = acc[idx]
    if xor:
        val = pref ^ base[gg]
    else:
        val = pref - base[gg]
    return np.where(ii == 0, acc.dtype.type(0), val), ii


def decode_timestamps_batched(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY delta-of-delta blobs in one vectorized pass.

    Returns ``(concatenated int64 timestamps, per-blob counts)``.  The only
    per-record Python is the one-add start chain, run once per blob over one
    global length table."""
    G = len(blobs)
    if G == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    raw, padded, bitpos = _concat_blobs(blobs)
    n = _extract_bits(padded, bitpos[:-1], 32).astype(np.int64)
    has1 = n >= 1
    has2 = n >= 2
    first = np.zeros(G, dtype=np.int64)
    first[has1] = _extract_bits(padded, bitpos[:-1][has1] + 32, 64).view(np.int64)
    d1 = np.zeros(G, dtype=np.int64)
    d1[has2] = _extract_bits(padded, bitpos[:-1][has2] + 96, 64).view(np.int64)
    m = np.maximum(n - 2, 0)
    M = int(m.sum())
    dods = np.zeros(M, dtype=np.int64)
    if M:
        bits = np.unpackbits(raw)
        bits_p = np.concatenate([bits, np.zeros(80, dtype=np.uint8)])
        ltab = _dod_lengths(bits_p, len(bits))
        starts = np.concatenate(
            [
                _start_chain(ltab, int(bitpos[g]) + 160, int(m[g]))
                for g in np.flatnonzero(m > 0)
            ]
        )
        t1 = bits_p[starts]
        t2 = bits_p[starts + 1]
        t3 = bits_p[starts + 2]
        t4 = bits_p[starts + 3]
        sel = (t1 == 1) & (t2 == 0)
        if sel.any():
            dods[sel] = _extract_bits(padded, starts[sel] + 2, 7).astype(np.int64) - 63
        sel = (t1 == 1) & (t2 == 1) & (t3 == 0)
        if sel.any():
            dods[sel] = _extract_bits(padded, starts[sel] + 3, 9).astype(np.int64) - 255
        sel = (t1 == 1) & (t2 == 1) & (t3 == 1) & (t4 == 0)
        if sel.any():
            dods[sel] = _extract_bits(padded, starts[sel] + 4, 12).astype(np.int64) - 2047
        sel = (t1 == 1) & (t2 == 1) & (t3 == 1) & (t4 == 1)
        if sel.any():
            dods[sel] = _extract_bits(padded, starts[sel] + 4, 64).view(np.int64)
    # deltas per blob: d1, then d1 + running sum of dods
    k = np.maximum(n - 1, 0)
    with np.errstate(over="ignore"):
        dod_pref, _ = _seg_cumsum_pick(np.cumsum(dods), m, k, xor=False)
        deltas = np.repeat(d1, k) + dod_pref
        ts_pref, ii = _seg_cumsum_pick(np.cumsum(deltas), k, n, xor=False)
        out = np.repeat(first, n) + ts_pref
    return out, n


def decode_values_batched(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY XOR-stream blobs in one vectorized pass.

    Returns ``(concatenated float64 values, per-blob counts)``; any blob
    containing a legacy '10' window-reuse record falls back to the scalar
    reader for that blob alone."""
    G = len(blobs)
    if G == 0:
        return np.empty(0, dtype=np.float64), np.empty(0, dtype=np.int64)
    raw, padded, bitpos = _concat_blobs(blobs)
    n = _extract_bits(padded, bitpos[:-1], 32).astype(np.int64)
    has1 = n >= 1
    first = np.zeros(G, dtype=np.uint64)
    first[has1] = _extract_bits(padded, bitpos[:-1][has1] + 32, 64)
    m = np.maximum(n - 1, 0)
    M = int(m.sum())
    xors = np.zeros(M, dtype=np.uint64)
    legacy_blobs: np.ndarray | None = None
    if M:
        bits = np.unpackbits(raw)
        bits_p = np.concatenate([bits, np.zeros(96, dtype=np.uint8)])
        ltab = _xor_lengths(bits_p, len(bits))
        starts = np.concatenate(
            [
                _start_chain(ltab, int(bitpos[g]) + 96, int(m[g]))
                for g in np.flatnonzero(m > 0)
            ]
        )
        nz = bits_p[starts] == 1
        legacy = nz & (bits_p[starts + 1] == 0)
        if legacy.any():
            rec_g = np.repeat(np.arange(G, dtype=np.int64), m)
            legacy_blobs = np.unique(rec_g[legacy])
        if nz.any():
            s_nz = starts[nz]
            hdr = _extract_bits(padded, s_nz, 13)
            lead = (hdr >> np.uint64(6)) & np.uint64(31)
            sig = (hdr & np.uint64(63)) + np.uint64(1)
            trail = np.uint64(64) - lead - sig
            payload = _extract_bits(padded, s_nz + 13, sig)
            xors[nz] = payload << trail
    pref, ii = _seg_cumsum_pick(np.bitwise_xor.accumulate(xors), m, n, xor=True)
    out = (np.repeat(first, n) ^ pref).view(np.float64)
    if legacy_blobs is not None:
        ob = _cumsum0(n)
        for g in legacy_blobs:
            out[ob[g]: ob[g + 1]] = _decode_values_scalar(blobs[g])
    return out, n


def encode_values_batched(values: np.ndarray, bounds: np.ndarray) -> list[bytes]:
    """Gorilla XOR-encode (§4.1.2) every ``values[bounds[g]:bounds[g+1]]``
    chunk of float64 values, one blob per chunk.

    A blob is a 32-bit count and the first value's 64 bits, then one record
    per XOR with the previous value: '0' for a zero XOR, otherwise a '11'
    (new-window) record — 2-bit control, 5-bit leading-zero count, 6-bit
    significant-length-minus-one, then the significant bits.  The paper's
    '10' (reuse previous window) record trades those 11 header bits for a
    sequential dependency between values; dropping it keeps every record's
    length readable from its own first bits, so both encode and decode stay
    whole-array numpy (:func:`decode_values_batched` still reads '10'
    records from other writers).  Constant runs still cost 1 bit a value."""
    bits_all = np.ascontiguousarray(values, dtype=np.float64).view(np.uint64)
    a = np.asarray(bounds[:-1], dtype=np.int64)
    b = np.asarray(bounds[1:], dtype=np.int64)
    n = b - a
    G = len(n)
    head_v = np.zeros((G, 2), dtype=np.uint64)
    head_b = np.zeros((G, 2), dtype=np.uint64)
    head_v[:, 0] = n.astype(np.uint64)
    head_b[:, 0] = 32
    has1 = n >= 1
    head_v[has1, 1] = bits_all[a[has1]]
    head_b[has1, 1] = 64
    m = np.maximum(n - 1, 0)
    x_all = bits_all[1:] ^ bits_all[:-1] if len(bits_all) else bits_all
    xors = x_all[_flat_ranges(a, m)]
    M = len(xors)
    nz = xors != 0
    lead = np.minimum(_U64(64) - _bitlen64(xors), _U64(31))
    trail = np.where(nz, _bitlen64(xors & (~xors + _ONE)) - _ONE, _U64(0))
    sig = _U64(64) - lead - trail
    payload = xors >> trail
    header = (_U64(0b11) << _U64(11)) | (lead << _U64(6)) | (sig - _ONE)
    seg_v = np.zeros((M, 2), dtype=np.uint64)
    seg_b = np.zeros((M, 2), dtype=np.uint64)
    seg_b[~nz, 0] = 1
    fused = nz & (sig <= 51)
    seg_v[fused, 0] = (header[fused] << sig[fused]) | payload[fused]
    seg_b[fused, 0] = _U64(13) + sig[fused]
    split = nz & ~fused
    seg_v[split, 0] = header[split]
    seg_b[split, 0] = 13
    seg_v[split, 1] = payload[split]
    seg_b[split, 1] = sig[split]
    return _assemble_and_pack(head_v, head_b, seg_v, seg_b, m)
