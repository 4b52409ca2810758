"""Pure-numpy discrete wavelet transform (pywt-compatible conventions).

The reference uses PyWavelets (``pywt.wavedec`` with ``db4``, level 1,
mode ``symmetric`` — see /root/reference/core/downsampling_algorithm2.py:348-365
and /root/reference/main.py:102-109).  PyWavelets is not available in this
environment, so we re-implement the single-level DWT/IDWT from the published
algorithm (Mallat filter-bank; Daubechies filter coefficients are public
constants).  Conventions verified in tests:

* coefficient length law ``len = floor((n + L - 1) / 2)`` for mode
  ``symmetric`` (matches /root/reference/core/downsampling_algorithm2.py:8-23)
* haar closed forms ``cA[i] = (x[2i] + x[2i+1]) / sqrt(2)``,
  ``cD[i] = (x[2i] - x[2i+1]) / sqrt(2)`` (pywt sign convention)
* perfect reconstruction ``idwt(dwt(x))[:n] == x`` to 1e-10.

Everything is vectorized numpy over whole 2-D batches so it can run inside
Arrow-batched pandas UDFs with no per-row Python.
"""

from __future__ import annotations

import numpy as np

# Daubechies scaling (reconstruction low-pass) filters, public constants.
# db4 == 8-tap Daubechies (D8), values as published (Daubechies 1988 / pywt).
_REC_LO = {
    "haar": np.array([0.7071067811865476, 0.7071067811865476]),
    "db1": np.array([0.7071067811865476, 0.7071067811865476]),
    "db2": np.array(
        [
            0.48296291314469025,
            0.836516303737469,
            0.22414386804185735,
            -0.12940952255092145,
        ]
    ),
    "db4": np.array(
        [
            0.23037781330885523,
            0.7148465705525415,
            0.6308807679295904,
            -0.02798376941698385,
            -0.18703481171888114,
            0.030841381835986965,
            0.032883011666982945,
            -0.010597401784997278,
        ]
    ),
}


def filters(wavelet: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Return (dec_lo, dec_hi, rec_lo, rec_hi) for the named wavelet.

    QMF relations identical to pywt: ``dec_lo = rec_lo[::-1]``,
    ``dec_hi[k] = (-1)^(k+1) * rec_lo[k]``, ``rec_hi = dec_hi[::-1]``.
    """
    if wavelet not in _REC_LO:
        raise ValueError(f"unsupported wavelet {wavelet!r}; have {sorted(_REC_LO)}")
    rec_lo = _REC_LO[wavelet]
    dec_lo = rec_lo[::-1].copy()
    sign = np.where(np.arange(len(rec_lo)) % 2 == 0, -1.0, 1.0)
    dec_hi = sign * rec_lo
    rec_hi = dec_hi[::-1].copy()
    return dec_lo, dec_hi, rec_lo, rec_hi


def filter_length(wavelet: str) -> int:
    return len(_REC_LO[wavelet])


def coeff_length(n: int, wavelet: str = "db4", level: int = 1) -> int:
    """Per-level coefficient length, mode='symmetric'.

    Mirrors the reference's ``get_wavedec_coeff_lengths``
    (/root/reference/core/downsampling_algorithm2.py:8-23):
    ``len_{i+1} = floor((len_i + L - 1) / 2)``.
    """
    if level < 0:
        raise ValueError("level must be >= 0")
    L = filter_length(wavelet)
    out = n
    for _ in range(level):
        out = (out + L - 1) // 2
    return out


def _sym_ext(x: np.ndarray, pad: int) -> np.ndarray:
    """Half-sample symmetric extension along the last axis (pywt 'symmetric')."""
    if pad == 0:
        return x
    return np.pad(x, [(0, 0)] * (x.ndim - 1) + [(pad, pad)], mode="symmetric")


def dwt(x: np.ndarray, wavelet: str = "db4") -> tuple[np.ndarray, np.ndarray]:
    """Single-level DWT along the last axis, mode='symmetric'.

    Accepts 1-D ``(n,)`` or 2-D ``(batch, n)`` float arrays; returns
    ``(cA, cD)`` with length ``floor((n + L - 1) / 2)`` on the last axis.
    """
    x = np.asarray(x, dtype=np.float64)
    squeeze = x.ndim == 1
    if squeeze:
        x = x[None, :]
    dec_lo, dec_hi, _, _ = filters(wavelet)
    L = len(dec_lo)
    ext = _sym_ext(x, L - 1)
    # valid correlation with reversed filter == np.convolve(..., 'valid');
    # sliding_window_view keeps it vectorized over the whole batch.
    win = np.lib.stride_tricks.sliding_window_view(ext, L, axis=-1)
    cA = win @ dec_lo[::-1]
    cD = win @ dec_hi[::-1]
    cA, cD = cA[..., 1::2], cD[..., 1::2]
    if squeeze:
        return cA[0], cD[0]
    return cA, cD


def idwt(cA: np.ndarray, cD: np.ndarray, wavelet: str = "db4") -> np.ndarray:
    """Single-level inverse DWT (mode='symmetric'), last-axis, batched.

    Output length is ``2*len(cA) - L + 2``; for an even-length input ``n``
    this equals ``n`` when L is a multiple of 2 padding cancels — tests assert
    ``idwt(dwt(x))[..., :n] == x``.
    """
    cA = np.asarray(cA, dtype=np.float64)
    cD = np.asarray(cD, dtype=np.float64)
    squeeze = cA.ndim == 1
    if squeeze:
        cA, cD = cA[None, :], cD[None, :]
    _, _, rec_lo, rec_hi = filters(wavelet)
    L = len(rec_lo)
    n_c = cA.shape[-1]
    up = np.zeros(cA.shape[:-1] + (2 * n_c,), dtype=np.float64)
    upd = np.zeros_like(up)
    up[..., ::2] = cA
    upd[..., ::2] = cD
    # full convolution via sliding windows over zero-padded input
    pad = L - 1
    up_p = np.pad(up, [(0, 0)] * (up.ndim - 1) + [(pad, pad)])
    upd_p = np.pad(upd, [(0, 0)] * (upd.ndim - 1) + [(pad, pad)])
    win_a = np.lib.stride_tricks.sliding_window_view(up_p, L, axis=-1)
    win_d = np.lib.stride_tricks.sliding_window_view(upd_p, L, axis=-1)
    rec = win_a @ rec_lo[::-1] + win_d @ rec_hi[::-1]
    # trim filter transient: L-2 leading, L-1 trailing → length 2*n_c - L + 2
    rec = rec[..., L - 2 : rec.shape[-1] - (L - 1)]
    if squeeze:
        return rec[0]
    return rec
