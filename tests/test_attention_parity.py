"""Tests for the attention-scores operator (the model ranking's value-oracle
seam) — consistency with the scalar model kernel across segmentation edges."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from scalar_oracles import attention_importance

from streaming_downsampling_spark.functions import kernels as K
from streaming_downsampling_spark.functions import wavelets as wv


def _expected_rows(x: np.ndarray, wavelet="db4", retention=0.8, max_seg=200):
    """Reference rows straight from the scalar kernels (no batching)."""
    rows = []
    n = len(x)
    segs = [x] if n <= max_seg else []
    if n > max_seg:
        for a in range(0, n, max_seg):
            s = x[a : a + max_seg]
            if len(s) < 2:
                break
            segs.append(s)
    for si, s in enumerate(segs):
        _, cd = wv.dwt(s, wavelet)
        scores = attention_importance(cd, seed=42)
        k = max(1, int(round(len(cd) * retention)))
        order = np.argsort(-scores, kind="stable")[:k]
        sel = np.zeros(len(cd), dtype=int)
        sel[order] = 1
        for i in range(len(cd)):
            rows.append((si, i, len(cd), k, scores[i], sel[i]))
    return rows


@pytest.mark.parametrize("n", [1, 2, 3, 7, 200, 201, 399, 401, 523])
def test_attention_scores_matches_scalar_kernel(spark, n):
    """Operator output == scalar-kernel recomputation bit-for-bit, across
    the segmentation edges: whole short groups (even length-1), the exact
    200 boundary, a trailing 1-point segment (401) that must be dropped."""
    from streaming_downsampling_spark.operators.downsample import attention_scores

    rng = np.random.default_rng(n)
    vals = np.round(rng.normal(50.0, 10.0, n), 2)
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "ts": pd.Timestamp("2025-01-01 00:00:00"),
            "turn_idx": np.arange(n, dtype=np.int64),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        attention_scores(df, window="1 day")
        .orderBy("seg", "i")
        .collect()
    )
    exp = _expected_rows(vals)
    assert len(out) == len(exp)
    for r, (si, i, m, k, score, sel) in zip(out, exp):
        assert (r["seg"], r["i"], r["n_cd"], r["k"]) == (si, i, m, k)
        assert r["score"] == score  # bit-equal: batch kernel == scalar
        assert r["sel"] == sel


def test_attention_scores_selection_matches_model_downsample(spark):
    """The operator's sel flags reproduce model_downsample's detail_indices
    (per-segment offsets re-applied), so the oracle genuinely checks the
    ranking the flagship pipeline acts on."""
    from streaming_downsampling_spark.operators.downsample import attention_scores

    rng = np.random.default_rng(7)
    n = 470
    vals = np.round(rng.normal(0.0, 5.0, n), 2)
    _, _, idx = K.model_downsample(vals, wavelet="db4")
    pdf = pd.DataFrame(
        {
            "conv_id": "c1",
            "ts": pd.Timestamp("2025-01-01 00:00:00"),
            "turn_idx": np.arange(n, dtype=np.int64),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    rows = attention_scores(df, window="1 day").orderBy("seg", "i").collect()
    offsets = {}
    off = 0
    for r in rows:
        if r["seg"] not in offsets:
            offsets[r["seg"]] = off
            off += r["n_cd"]
    got = sorted(offsets[r["seg"]] + r["i"] for r in rows if r["sel"] == 1)
    assert got == sorted(int(v) for v in idx)


def test_attention_oracle_sql_literals_roundtrip():
    """The generated oracle embeds the kernel's exact pe/weight float64
    bits: spot-check repr round-trip of a few literals against the live
    kernel arrays."""
    from streaming_downsampling_spark.queries import SQL_MODEL_ATTENTION

    w_in, heads = K._attention_weights(16, 4, 42)
    assert repr(float(w_in[0, 0])) in SQL_MODEL_ATTENTION
    assert repr(float(heads[3][1][15, 3])) in SQL_MODEL_ATTENTION
    pos = np.arange(104)[:, None]
    div = np.exp(np.arange(0, 16, 2) * (-np.log(10000.0) / 16))
    pe = np.zeros((104, 16))
    pe[:, 0::2] = np.sin(pos * div)
    pe[:, 1::2] = np.cos(pos * div)
    assert repr(float(pe[103, 15])) in SQL_MODEL_ATTENTION
