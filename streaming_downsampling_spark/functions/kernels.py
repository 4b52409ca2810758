"""Numpy downsampling kernels with the reference's exact semantics.

Each function reproduces one classical downsampler from the reference's
evaluation harness (/root/reference/new_evaluation.py:66-198) or the model
pipeline (/root/reference/core/downsampling_algorithm2.py).  They are pure
numpy over whole arrays (no per-point Python in the hot loops except where the
algorithm is inherently iterative — PIP, LTTB triangle scan), so the same
functions serve as (a) the kernels inside Arrow-batched ``applyInPandas`` and
(b) the single-process oracle the end-to-end tests compare against.

All selectors return **sorted ascending integer indices** into the input
signal plus the gathered values, mirroring the reference's invariant that
indices are sorted before gather/interp (/root/reference/new_evaluation.py:188-190).
"""

from __future__ import annotations

import numpy as np

from . import wavelets as wv

# ---------------------------------------------------------------------------
# simple selectors (reference: new_evaluation.py)
# ---------------------------------------------------------------------------


def uniform_indices(n: int, target: int) -> np.ndarray:
    """Stride sampling: ``arange(0, n, n // target)[:target]``
    (/root/reference/new_evaluation.py:66-72)."""
    if target <= 0:
        raise ValueError("target must be positive")
    step = max(1, n // target)
    return np.arange(0, n, step)[:target]


def random_indices(n: int, target: int, seed: int = 42) -> np.ndarray:
    """Seeded ``choice(n, target, replace=False)`` sorted ascending
    (/root/reference/new_evaluation.py:96-101)."""
    rng = np.random.default_rng(seed)
    k = min(target, n)
    return np.sort(rng.choice(n, size=k, replace=False))


def hash_random_indices(
    n: int, target: int, group_key: str = "", seed: int = 42
) -> np.ndarray:
    """Portable seeded random selection, fully vectorized: rank positions by
    a per-(seed, key) md5-seeded affine map of the 32-bit domain —
    ``x(i) = (a·i + b) mod 2³²`` with odd ``a`` — pushed through the
    murmur3 fmix32 avalanche finalizer.  Both steps are bijections of the
    32-bit domain, so ranks are distinct and ties impossible; the
    ``min(target, n)`` smallest ranks are kept, returned sorted by
    position.  The avalanche step is what makes the selection RANDOM-LIKE:
    a bare affine rank restricted to ``i < n`` is a lattice — by the
    three-distance theorem the gaps between selected positions take at
    most 3 distinct values (a jittered-systematic sample, not a random
    one), which would silently bias the error bench's 'random' baseline
    toward uniform sampling's error profile.  fmix32 decorrelates rank
    from position, restoring ``np.random.choice``-like gap statistics
    (asserted by test) while staying ONE md5 per group plus pure array
    math — no per-point Python (round-4 ADVICE), and an external SQL
    engine reproduces the identical index set from the same two constants
    (the oracle chains the same xor/shift/multiply steps in HUGEINT).
    Selection semantics mirror the reference's seeded sampler
    (/root/reference/new_evaluation.py:96-101); ``a < 2³¹`` keeps ``a·i``
    under 2⁶³ for any 32-bit position."""
    import hashlib

    k = min(target, n)
    if k <= 0:
        return np.array([], dtype=np.int64)
    if k >= n:
        return np.arange(n, dtype=np.int64)
    h = hashlib.md5(f"rs:{seed}:{group_key}".encode()).hexdigest()
    a = (int(h[:8], 16) & 0x7FFFFFFF) | 1
    b = int(h[8:16], 16)
    x = ((a * np.arange(n, dtype=np.int64) + b) & 0xFFFFFFFF).astype(
        np.uint32
    )
    # murmur3 fmix32 (public domain constants); uint32 ops wrap mod 2^32
    x ^= x >> np.uint32(16)
    x *= np.uint32(0x85EBCA6B)
    x ^= x >> np.uint32(13)
    x *= np.uint32(0xC2B2AE35)
    x ^= x >> np.uint32(16)
    # ranks are distinct -> the k-smallest SET is unique; argpartition is
    # O(n) vs argsort's O(n log n)
    return np.sort(np.argpartition(x, k - 1)[:k].astype(np.int64))


def avg_pool(x: np.ndarray, target: int) -> np.ndarray:
    """Non-overlapping window means, window = n // target
    (/root/reference/new_evaluation.py:74-83)."""
    n = len(x)
    w = max(1, n // target)
    m = (n // w) * w
    return np.asarray(x[:m], dtype=np.float64).reshape(-1, w).mean(axis=1)[:target]


def max_pool(x: np.ndarray, target: int) -> np.ndarray:
    """Non-overlapping window maxima (/root/reference/new_evaluation.py:85-94)."""
    n = len(x)
    w = max(1, n // target)
    m = (n // w) * w
    return np.asarray(x[:m], dtype=np.float64).reshape(-1, w).max(axis=1)[:target]


def minmax_indices(x: np.ndarray, target: int) -> np.ndarray:
    """Per-window argmin & argmax, window sized for target//2 windows
    (/root/reference/new_evaluation.py:117-137)."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    n_windows = max(1, target // 2)
    w = max(1, n // n_windows)
    m = (n // w) * w
    blocks = x[:m].reshape(-1, w)
    base = np.arange(blocks.shape[0]) * w
    lo = base + blocks.argmin(axis=1)
    hi = base + blocks.argmax(axis=1)
    return np.unique(np.concatenate([lo, hi]))


def lttb_indices(x: np.ndarray, target: int) -> np.ndarray:
    """Largest-Triangle-Three-Buckets (Steinarsson 2013), the semantics of the
    reference's ``tsdownsample.LTTBDownsampler`` call
    (/root/reference/new_evaluation.py:103-115).

    Always keeps first and last point; bucket means vectorized, the bucket
    scan is a short Python loop over ``target-2`` buckets (not per-point).
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if target >= n or target <= 2:
        return np.arange(n) if target >= n else np.array(sorted({0, n - 1}))
    t = np.arange(n, dtype=np.float64)
    # bucket boundaries over the interior points
    bounds = np.linspace(1, n - 1, target - 1).astype(np.int64)
    out = np.empty(target, dtype=np.int64)
    out[0] = 0
    out[-1] = n - 1
    a = 0
    for i in range(target - 2):
        lo, hi = bounds[i], bounds[i + 1]
        nxt_lo, nxt_hi = (bounds[i + 1], bounds[i + 2]) if i + 2 < len(bounds) else (n - 1, n)
        if nxt_hi > nxt_lo:
            cx, cy = t[nxt_lo:nxt_hi].mean(), x[nxt_lo:nxt_hi].mean()
        else:
            cx, cy = t[n - 1], x[n - 1]
        ax, ay = t[a], x[a]
        # vectorized triangle areas for every candidate in this bucket
        areas = np.abs((ax - cx) * (x[lo:hi] - ay) - (ax - t[lo:hi]) * (cy - ay))
        a = lo + int(areas.argmax())
        out[i + 1] = a
    return np.unique(out)


def pip_indices(x: np.ndarray, target: int) -> np.ndarray:
    """Perceptually Important Points: iterative max-perpendicular-distance
    insertion (/root/reference/new_evaluation.py:154-183).

    The chord norm is ``sqrt(dy² + dx²)`` — the reference's own expression
    (``np.sqrt((y2-y1)**2 + (x2-x1)**2)``, :183) rather than ``np.hypot``:
    IEEE-exact products/sum plus a correctly-rounded sqrt, so an external
    SQL engine evaluating the same ops reproduces every distance (and hence
    the argmax walk) bit-identically — the ``pip`` leg of the error-bench
    value oracle depends on this.  Tie-break matches the reference's strict
    ``>`` scan: first maximum in ascending position order."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if target >= n:
        return np.arange(n)
    t = np.arange(n, dtype=np.float64)
    kept = [0, n - 1]
    while len(kept) < target:
        kept_sorted = sorted(kept)
        best_d, best_i = -1.0, -1
        for s, e in zip(kept_sorted[:-1], kept_sorted[1:]):
            if e - s < 2:
                continue
            seg_t = t[s + 1 : e]
            seg_x = x[s + 1 : e]
            # perpendicular distance to chord (s -> e), vectorized per segment
            dx, dy = t[e] - t[s], x[e] - x[s]
            norm = np.sqrt(dy * dy + dx * dx)
            d = np.abs(dy * seg_t - dx * seg_x + t[e] * x[s] - x[e] * t[s]) / norm
            j = int(d.argmax())
            if d[j] > best_d:
                best_d, best_i = float(d[j]), s + 1 + j
        if best_i < 0:
            break
        kept.append(best_i)
    return np.array(sorted(kept))


# ---------------------------------------------------------------------------
# wavelet coefficient thresholding (reference: new_evaluation.py:139-152)
# ---------------------------------------------------------------------------


def wavelet_threshold_indices(
    x: np.ndarray, target: int, wavelet: str = "db4"
) -> np.ndarray:
    """Haar/DWT coefficient-magnitude thresholding — the north-rule kernel.

    Semantics of /root/reference/new_evaluation.py:139-152 plus the index
    union of :229-232:

    1. level-1 DWT → (cA, cD)
    2. keep top ``target // 2`` detail coeffs by ``|cD|`` (argsort desc)
    3. map detail positions back to signal domain: ``idx * (n / len_cD)``,
       clipped to ``[0, n-1]``
    4. approx positions: uniform stride over the signal for the remaining
       budget
    5. unique ascending union of both index sets.
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if target >= n:
        return np.arange(n)
    _, cD = wv.dwt(x, wavelet)
    k_detail = max(1, target // 2)
    # stable argsort desc by |cD| (ties broken by position, deterministic)
    order = np.argsort(-np.abs(cD), kind="stable")[:k_detail]
    detail_sig = np.clip(
        np.round(np.sort(order) * (n / len(cD))).astype(np.int64), 0, n - 1
    )
    k_approx = max(1, target - k_detail)
    approx_sig = uniform_indices(n, k_approx)
    return np.unique(np.concatenate([approx_sig, detail_sig]))


def segment_bounds(n: int, max_seg: int) -> list[tuple[int, int]]:
    """THE model pipeline's segmentation rule, in exactly one place —
    shared by :func:`model_downsample_groups` and the ``attention_scores``
    oracle seam (operators/downsample.py), whose validity depends on
    segmenting identically: a group of ``n <= max_seg`` points runs WHOLE
    (even length 0/1); longer groups chop at ``max_seg`` and a trailing
    segment shorter than 2 points is dropped (DWT needs >= 2).  Returns
    half-open (start, stop) slices."""
    if n <= max_seg:
        return [(0, n)]
    out: list[tuple[int, int]] = []
    for a in range(0, n, max_seg):
        b = min(a + max_seg, n)
        if b - a < 2:
            break
        out.append((a, b))
    return out


def group_segments(
    bounds, max_seg: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """:func:`segment_bounds` of every group ``[bounds[g], bounds[g+1])``,
    flattened in group order: ``(start, stop, group, ordinal)`` arrays with
    one entry per segment, ``start``/``stop`` offsets into the whole series
    and ``ordinal`` the segment's position inside its group."""
    bounds = np.asarray(bounds, dtype=np.int64).tolist()
    segs = [
        (a + s, a + e, g, si)
        for g, (a, b) in enumerate(zip(bounds[:-1], bounds[1:]))
        for si, (s, e) in enumerate(segment_bounds(b - a, max_seg))
    ]
    start, stop, group, ordinal = np.array(segs, dtype=np.int64).reshape(-1, 4).T
    return start, stop, group, ordinal


def length_buckets(x: np.ndarray, start: np.ndarray, stop: np.ndarray):
    """Yield ``(segment ids, (S, n) matrix of their values)`` once per
    distinct segment length ``n``, ascending — the shape the batched kernels
    take, so each length costs one numpy call chain however many groups
    share it."""
    lens = stop - start
    for n in np.unique(lens):
        ids = np.flatnonzero(lens == n)
        yield ids, x[start[ids, None] + np.arange(n)]


def model_downsample_groups(
    x: np.ndarray,
    bounds,
    wavelet: str = "db4",
    approx_ds_factor: int = 2,
    retention: float = 0.8,
    seed: int = 42,
    max_seg: int = 200,
    weights=None,
) -> tuple[list, list, list]:
    """The reference *model* pipeline on every group ``x[bounds[g]:bounds[g+1]]``,
    deterministic numpy:

    DWT → avg-pool the approximation (stride == ksize == factor, VALID
    padding; /root/reference/core/downsampling_algorithm2.py:304-315) →
    attention-importance top-k over the detail coefficients
    (:94-120, k = max(1, round(len_cD * retention)), indices sorted).
    Returns per-group lists ``(pooled_cA, selected_cD, detail_indices)``.

    The learned transformer is replaced by a frozen deterministic attention
    scorer (see :func:`attention_importance_batch`) — same selection
    semantics, no TF dependency.

    Groups longer than ``max_seg`` (default 200 — the reference's
    ``original_length``, /root/reference/main.py:106) are processed in
    :func:`segment_bounds` segments and the outputs concatenated, each
    segment's detail indices offset by the detail lengths of the segments
    before it.  The reference model
    only ever sees fixed-length-200 inputs (it truncates/pads,
    /root/reference/main.py:44-48), so segmentation preserves its semantics
    while bounding the O(n²) attention — without it, one 100×-long skewed
    conversation turns a window group into a multi-second, GB-scale kernel
    call (the skew hazard SURVEY.md §7.3 flags).  The segments of all groups
    are bucketed by length and each bucket runs through
    :func:`model_downsample_batch` once.
    """
    x = np.asarray(x, dtype=np.float64)
    start, stop, _, ordinal = group_segments(bounds, max_seg)
    # a group's detail indices run over its segments' concatenated cD:
    # offset each segment by the cD lengths of the group's earlier segments
    cd_len = wv.coeff_length(stop - start, wavelet, 1)
    cd_start = np.cumsum(cd_len) - cd_len
    cd_off = cd_start - cd_start[np.arange(len(start)) - ordinal]
    segs: list = [None] * len(start)
    for ids, X in length_buckets(x, start, stop):
        pooled, sel, idx = model_downsample_batch(
            X, wavelet, approx_ds_factor, retention, seed, weights
        )
        idx += cd_off[ids, None]
        for j, s in enumerate(ids.tolist()):
            segs[s] = (pooled[j], sel[j], idx[j])
    first = np.flatnonzero(ordinal == 0).tolist()
    out = [
        segs[a] if b - a == 1 else tuple(map(np.concatenate, zip(*segs[a:b])))
        for a, b in zip(first, first[1:] + [len(segs)])
    ]
    return [o[0] for o in out], [o[1] for o in out], [o[2] for o in out]


def model_downsample(
    x: np.ndarray,
    wavelet: str = "db4",
    approx_ds_factor: int = 2,
    retention: float = 0.8,
    seed: int = 42,
    max_seg: int = 200,
    weights=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`model_downsample_groups` on one series: ``(pooled_cA,
    selected_cD, detail_indices)``."""
    pooled, sel, idx = model_downsample_groups(
        x, [0, len(x)], wavelet, approx_ds_factor, retention, seed, max_seg, weights
    )
    return pooled[0], sel[0], idx[0]


def model_downsample_batch(
    X: np.ndarray,
    wavelet: str = "db4",
    approx_ds_factor: int = 2,
    retention: float = 0.8,
    seed: int = 42,
    weights=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The model pipeline on one segment per row, over same-length series.

    ``X`` is ``(G, n)`` — G series of identical length n
    (:func:`model_downsample_groups` buckets segments by length; tests
    assert bit-equality with a one-series scalar oracle).  One numpy call
    chain for the whole bucket instead of ~50 calls per segment — the
    per-segment cost drops from ~500µs to ~30µs, which is what makes the
    model tier job compute-bound (and hence scalable) rather than
    interpreter-bound.
    Returns ``(pooled (G, m), selected (G, k), indices (G, k))``.
    """
    X = np.asarray(X, dtype=np.float64)
    cA, cD = wv.dwt(X, wavelet)
    f = approx_ds_factor
    m = (cA.shape[1] - f) // f + 1
    pooled = cA[:, : m * f].reshape(X.shape[0], m, f).mean(axis=2)
    k = max(1, int(round(cD.shape[1] * retention)))
    scores = attention_importance_batch(cD, seed=seed, weights=weights)
    order = np.argsort(-scores, axis=1, kind="stable")[:, :k]
    idx = np.sort(order, axis=1)
    sel = np.take_along_axis(cD, idx, axis=1)
    return pooled, sel, idx


_ATTN_WEIGHTS: dict[tuple, tuple] = {}


def attention_weights_blob(
    embed_dim: int = 16, num_heads: int = 4, seed: int = 42
) -> dict[str, np.ndarray]:
    """Export the scorer's weights as an npz-style dict — the TRAINED-WEIGHT
    seam: a user with a real trained artifact (the reference ships ``.keras``
    files, /root/reference/main.py:161-182) converts its Q/K projections to
    this layout (``w_in`` (1,d), ``wq_i``/``wk_i`` (d, d/h)) and passes the
    dict as ``weights=`` to the scorer / model kernels; everything else in
    the pipeline is weight-agnostic.  Round-trips through ``np.savez``."""
    w_in, heads = _attention_weights(embed_dim, num_heads, seed)
    blob: dict[str, np.ndarray] = {"w_in": w_in}
    for i, (wq, wk) in enumerate(heads):
        blob[f"wq_{i}"] = wq
        blob[f"wk_{i}"] = wk
    return blob


def _blob_fingerprint(blob) -> str:
    import hashlib

    h = hashlib.md5()
    for k in sorted(blob):
        h.update(str(k).encode())
        h.update(np.ascontiguousarray(np.asarray(blob[k])).tobytes())
    return h.hexdigest()


def _attention_weights(
    embed_dim: int, num_heads: int, seed: int, blob=None
):
    """Frozen attention weights, drawn once per (dim, heads, seed) — the
    per-executor lazy singleton analog of the reference's ``_get_model()``
    memoization (/root/reference/core/streaming_pipeline.py:229-257).

    ``blob`` (an npz-style mapping, see :func:`attention_weights_blob`)
    overrides the seeded draw with externally-trained weights; it is
    memoized per content fingerprint so each executor process parses it
    once no matter how many groups its kernels score."""
    if blob is not None:
        key = ("blob", _blob_fingerprint(blob), embed_dim, num_heads)
        if key not in _ATTN_WEIGHTS:
            w_in = np.asarray(blob["w_in"], dtype=np.float64)
            if w_in.shape != (1, embed_dim):
                raise ValueError(
                    f"w_in shape {w_in.shape} != (1, {embed_dim})"
                )
            heads = []
            for i in range(num_heads):
                wq = np.asarray(blob[f"wq_{i}"], dtype=np.float64)
                wk = np.asarray(blob[f"wk_{i}"], dtype=np.float64)
                heads.append((wq, wk))
            _ATTN_WEIGHTS[key] = (w_in, heads)
        return _ATTN_WEIGHTS[key]
    key = (embed_dim, num_heads, seed)
    if key not in _ATTN_WEIGHTS:
        rng = np.random.default_rng(seed)
        d, dh = embed_dim, embed_dim // num_heads
        w_in = rng.normal(0, 1.0 / np.sqrt(d), size=(1, d))
        heads = [
            (
                rng.normal(0, 1.0 / np.sqrt(d), size=(d, dh)),
                rng.normal(0, 1.0 / np.sqrt(d), size=(d, dh)),
            )
            for _ in range(num_heads)
        ]
        _ATTN_WEIGHTS[key] = (w_in, heads)
    return _ATTN_WEIGHTS[key]


def attention_importance_batch(
    C: np.ndarray,
    embed_dim: int = 16,
    num_heads: int = 4,
    seed: int = 42,
    weights=None,
) -> np.ndarray:
    """Frozen-weight attention importance scorer over ``(G, n)``
    same-length rows of detail coefficients.

    Reproduces the *scoring semantics* of the reference transformer block
    (/root/reference/core/downsampling_algorithm2.py:94-120): per-position
    importance = ``0.7 * global + 0.3 * local`` attention mass received,
    softmax-normalized.  Weights are drawn once from a seeded PCG64 so the
    scorer is deterministic across processes/executors — the reference's
    *trained* weights are an artifact we replace with public deterministic
    ones (its training is self-supervised on untrained targets anyway,
    /root/reference/main.py:155-157).

    Einsum-free broadcasting matmuls keep each row's dot products, and their
    reduction order, those of a one-row computation (tests assert
    bit-equality with a one-series scalar oracle) while amortizing numpy
    dispatch over the whole bucket.
    """
    C = np.asarray(C, dtype=np.float64)
    G, n = C.shape
    d = embed_dim
    pos = np.arange(n)[:, None]
    div = np.exp(np.arange(0, d, 2) * (-np.log(10000.0) / d))
    pe = np.zeros((n, d))
    pe[:, 0::2] = np.sin(pos * div)
    pe[:, 1::2] = np.cos(pos * div)
    w_in, heads = _attention_weights(d, num_heads, seed, blob=weights)
    h = C[:, :, None] @ w_in + pe  # (G, n, d)
    global_mass = np.zeros((G, n))
    dh = d // num_heads
    for wq, wk in heads:
        q, kmat = h @ wq, h @ wk  # (G, n, dh)
        logits = (q @ kmat.transpose(0, 2, 1)) / np.sqrt(dh)
        logits -= logits.max(axis=2, keepdims=True)
        attn = np.exp(logits)
        attn /= attn.sum(axis=2, keepdims=True)
        global_mass += attn.sum(axis=1)
    global_mass /= num_heads * n
    if n > 1:
        local = np.abs(np.gradient(C, axis=1))
    else:
        local = np.ones((G, 1))
    local = local / np.maximum(local.sum(axis=1, keepdims=True), 1e-12)
    scores = 0.7 * global_mass + 0.3 * local
    e = np.exp(scores - scores.max(axis=1, keepdims=True))
    return e / e.sum(axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# reconstruction + metrics (reference: new_evaluation.py:185-209)
# ---------------------------------------------------------------------------


def reconstruct_linear(
    indices: np.ndarray, values: np.ndarray, n: int, anchor_endpoints: bool = True
) -> np.ndarray:
    """Endpoint-anchored linear-interpolation reconstruction
    (/root/reference/new_evaluation.py:185-198): sort by index, prepend index
    0 / append n-1 if missing (holding the nearest kept value), then
    ``np.interp`` over ``arange(n)``."""
    order = np.argsort(indices, kind="stable")
    idx = np.asarray(indices, dtype=np.int64)[order]
    val = np.asarray(values, dtype=np.float64)[order]
    if anchor_endpoints:
        if len(idx) == 0:
            return np.zeros(n)
        if idx[0] != 0:
            idx = np.concatenate([[0], idx])
            val = np.concatenate([[val[0]], val])
        if idx[-1] != n - 1:
            idx = np.concatenate([idx, [n - 1]])
            val = np.concatenate([val, [val[-1]]])
    return np.interp(np.arange(n, dtype=np.float64), idx.astype(np.float64), val)


def reconstruction_metrics(orig: np.ndarray, rec: np.ndarray) -> dict[str, float]:
    """MSE / RMSE / MAE / R² / Pearson corr / spectral-MSE
    (/root/reference/new_evaluation.py:200-209)."""
    orig = np.asarray(orig, dtype=np.float64)
    rec = np.asarray(rec, dtype=np.float64)
    err = orig - rec
    mse = float(np.mean(err**2))
    mae = float(np.mean(np.abs(err)))
    var = float(np.mean((orig - orig.mean()) ** 2))
    r2 = 1.0 - mse / var if var > 0 else 0.0
    so, sr = orig.std(), rec.std()
    corr = (
        float(np.corrcoef(orig, rec)[0, 1]) if so > 0 and sr > 0 else 0.0
    )
    f_o = np.abs(np.fft.fft(orig))
    f_r = np.abs(np.fft.fft(rec))
    spectral = float(np.mean((f_o - f_r) ** 2))
    return {
        "mse": mse,
        "rmse": float(np.sqrt(mse)),
        "mae": mae,
        "r2": r2,
        "corr": corr,
        "spectral_mse": spectral,
    }


def sanitize(x: np.ndarray) -> np.ndarray:
    """Non-finite → 0.0 (/root/reference/core/streaming_pipeline.py:139-144,278)."""
    x = np.asarray(x, dtype=np.float64)
    return np.where(np.isfinite(x), x, 0.0)
