"""Windowed downsampling operators over (key, tumbling window) groups.

Kernels from :mod:`..functions.kernels` run over whole groups as numpy —
never per-row Python (BASELINE.json input_hint).  The physical shape is the
shared ``apply_sorted(prepare_sorted(...))`` pattern (one shuffle, numpy
boundary splits, ~µs/group) rather than per-group ``applyInPandas`` — see
:mod:`._groupmap` for why this matters at 10^12 turns.

The group is one retention window of one conversation, so group size is
bounded by the window length: skewed long conversations widen the number of
groups, not the size of any single group.

On a real cluster this module ships via ``spark-submit --py-files`` (zip of
the package).  In local mode the Python workers are separate processes
forked from :mod:`.._daemon`; they import the package from the
``spark.executorEnv.PYTHONPATH`` that ``session.get_spark`` sets.

Reference parity: selector semantics are /root/reference/new_evaluation.py:66-198;
the model pipeline is /root/reference/core/downsampling_algorithm2.py:243-395
re-expressed with deterministic frozen weights.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions import kernels as K
from ..functions import wavelets as wv
from ._groupmap import apply_sorted, group_bounds, prepare_sorted

_SELECTORS: dict[str, Callable[..., np.ndarray]] = {
    "uniform": lambda x, t, **kw: K.uniform_indices(len(x), t),
    "random": lambda x, t, **kw: K.random_indices(len(x), t, seed=kw.get("seed", 42)),
    "random_hash": lambda x, t, **kw: K.hash_random_indices(
        len(x), t, group_key=kw.get("group_key", ""), seed=kw.get("seed", 42)
    ),
    "minmax": lambda x, t, **kw: K.minmax_indices(x, t),
    "lttb": lambda x, t, **kw: K.lttb_indices(x, t),
    "pip": lambda x, t, **kw: K.pip_indices(x, t),
    "wavelet_threshold": lambda x, t, **kw: K.wavelet_threshold_indices(
        x, t, wavelet=kw.get("wavelet", "db4")
    ),
    # fixed-wavelet variant so one metrics pass can evaluate BOTH the haar
    # and db4 thresholding selectors side by side (the error bench's ninth
    # value-oracled method)
    "wavelet_threshold_db4": lambda x, t, **kw: K.wavelet_threshold_indices(
        x, t, wavelet="db4"
    ),
}

SELECT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_start", TimestampType()),
        StructField("sel_pos", IntegerType()),
        StructField("sel_ord", LongType()),
        StructField("sel_ts", TimestampType()),
        StructField("sel_value", DoubleType()),
        StructField("method", StringType()),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_start", TimestampType()),
        StructField("method", StringType()),
        StructField("n", IntegerType()),
        StructField("k", IntegerType()),
        StructField("mse", DoubleType()),
        StructField("rmse", DoubleType()),
        StructField("mae", DoubleType()),
        StructField("r2", DoubleType()),
        StructField("corr", DoubleType()),
        StructField("spectral_mse", DoubleType()),
    ]
)

MODEL_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_start", TimestampType()),
        StructField("n", IntegerType()),
        StructField("pooled_approx", ArrayType(DoubleType())),
        StructField("detail_values", ArrayType(DoubleType())),
        StructField("detail_indices", ArrayType(IntegerType())),
    ]
)


def downsample_select(
    df: DataFrame,
    method: str,
    target: int,
    window: str = "1 hour",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = "turn_idx",
    **kw,
) -> DataFrame:
    """Select ``target`` representative points per (key, window) group.

    Output rows carry the in-group position (``sel_pos``), the stable order
    key (``sel_ord``), the original timestamp and value — never mutated, so
    the per-row text-equality invariant holds by joining back on
    (key, sel_ord).
    """
    if method not in _SELECTORS:
        raise ValueError(f"unknown method {method!r}; have {sorted(_SELECTORS)}")
    selector = _SELECTORS[method]

    def frame_fn(body: pd.DataFrame) -> pd.DataFrame:
        bounds, keys, ws = group_bounds(body)
        vals = body["_value"].to_numpy(dtype=np.float64)
        ords = body["_ord"].to_numpy()
        tss = body["_ts"].to_numpy()
        out_key, out_ws, out_pos, out_ord, out_ts, out_val = [], [], [], [], [], []
        for i in range(len(bounds) - 1):
            a, b = bounds[i], bounds[i + 1]
            x = K.sanitize(vals[a:b])
            # hash-seeded selectors salt on the group key (portable RNG)
            idx = selector(x, target, **{**kw, "group_key": str(keys[a])})
            out_key.append(np.repeat(keys[a], len(idx)))
            out_ws.append(np.repeat(ws[a], len(idx)))
            out_pos.append(idx.astype(np.int32))
            out_ord.append(ords[a:b][idx].astype(np.int64))
            out_ts.append(tss[a:b][idx])
            out_val.append(x[idx])
        return pd.DataFrame(
            {
                "key": np.concatenate(out_key),
                "window_start": np.concatenate(out_ws),
                "sel_pos": np.concatenate(out_pos),
                "sel_ord": np.concatenate(out_ord),
                "sel_ts": np.concatenate(out_ts),
                "sel_value": np.concatenate(out_val),
                "method": method,
            }
        )

    return apply_sorted(
        prepare_sorted(df, window, key_col, ts_col, value_col, order_col),
        frame_fn,
        SELECT_SCHEMA,
    )


def _method_metrics(x: np.ndarray, method: str, target: int, **kw) -> tuple[int, dict]:
    """One (group, method) evaluation: select/pool → reconstruct → metrics.
    Returns (k, metrics dict) — the reference's per-sample loop body
    (/root/reference/new_evaluation.py:185-209, 244-253)."""
    n = len(x)
    if method in _SELECTORS:
        idx = _SELECTORS[method](x, target, **kw)
        rec = K.reconstruct_linear(idx, x[idx], n)
        k = len(idx)
    else:
        pooled = K.avg_pool(x, target) if method == "avg_pool" else K.max_pool(x, target)
        w = max(1, n // target)
        centers = np.arange(len(pooled)) * w + (w - 1) / 2.0
        rec = np.interp(np.arange(n, dtype=np.float64), centers, pooled)
        k = len(pooled)
    return k, K.reconstruction_metrics(x, rec)


def downsample_metrics_multi(
    df: DataFrame,
    methods: list[str],
    target: int,
    window: str = "1 hour",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = "turn_idx",
    **kw,
) -> DataFrame:
    """All ``methods`` evaluated in ONE pass over the data — one shuffle
    total, mirroring the reference's one-pass-per-sample comparison loop
    (/root/reference/new_evaluation.py:244-253).  A per-method union would
    re-shuffle the input once per method; at 100× scale that multiplies the
    dominant I/O cost by len(methods)."""
    for m in methods:
        if m not in _SELECTORS and m not in ("avg_pool", "max_pool"):
            raise ValueError(f"unknown method {m!r}")

    def frame_fn(body: pd.DataFrame) -> pd.DataFrame:
        bounds, keys, ws = group_bounds(body)
        vals = body["_value"].to_numpy(dtype=np.float64)
        rows = []
        for i in range(len(bounds) - 1):
            a, b = bounds[i], bounds[i + 1]
            x = K.sanitize(vals[a:b])
            for method in methods:
                k, m = _method_metrics(
                    x, method, target, **{**kw, "group_key": str(keys[a])}
                )
                rows.append(
                    {
                        "key": keys[a],
                        "window_start": ws[a],
                        "method": method,
                        "n": len(x),
                        "k": k,
                        **m,
                    }
                )
        return pd.DataFrame(rows)

    # metrics read only the value series (group_key comes from `key`)
    frame_fn.needed_cols = ["key", "window_start", "_value"]
    return apply_sorted(
        prepare_sorted(df, window, key_col, ts_col, value_col, order_col),
        frame_fn,
        METRICS_SCHEMA,
    )


def downsample_model(
    df: DataFrame,
    window: str = "1 hour",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = "turn_idx",
    wavelet: str = "db4",
    retention: float = 0.8,
    approx_ds_factor: int = 2,
    seed: int = 42,
) -> DataFrame:
    """The reference model pipeline per group: DWT → pooled approximation +
    attention-selected detail coefficients
    (/root/reference/core/downsampling_algorithm2.py:279-339)."""
    return apply_sorted(
        prepare_sorted(df, window, key_col, ts_col, value_col, order_col),
        model_frame_fn(wavelet, retention, approx_ds_factor, seed),
        MODEL_SCHEMA,
    )


def model_frame_fn(
    wavelet: str = "db4",
    retention: float = 0.8,
    approx_ds_factor: int = 2,
    seed: int = 42,
):
    """The model kernel as a prepared-frame function, for sharing one
    ``prepare_sorted`` shuffle with other same-grouping kernels."""

    def frame_fn(body: pd.DataFrame) -> pd.DataFrame:
        bounds, keys, ws = group_bounds(body)
        vals = K.sanitize(body["_value"].to_numpy(dtype=np.float64))
        pooled, sel, idx = K.model_downsample_groups(
            vals,
            bounds,
            wavelet=wavelet,
            approx_ds_factor=approx_ds_factor,
            retention=retention,
            seed=seed,
        )
        return pd.DataFrame(
            {
                "key": keys[bounds[:-1]],
                "window_start": ws[bounds[:-1]],
                "n": np.diff(bounds).astype(np.int32),
                "pooled_approx": [p.tolist() for p in pooled],
                "detail_values": [v.tolist() for v in sel],
                "detail_indices": [i.tolist() for i in idx],
            }
        )

    # the model kernel never reads _ts/_ord — let apply_sorted prune them
    # off the Arrow hop (the sort they established is already done)
    frame_fn.needed_cols = ["key", "window_start", "_value"]
    return frame_fn


ATTN_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_start", TimestampType()),
        StructField("seg", IntegerType()),
        StructField("i", IntegerType()),
        StructField("n_cd", IntegerType()),
        StructField("k", IntegerType()),
        StructField("score", DoubleType()),
        StructField("sel", IntegerType()),
    ]
)


def attention_scores(
    df: DataFrame,
    window: str = "1 hour",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = "turn_idx",
    wavelet: str = "db4",
    retention: float = 0.8,
    seed: int = 42,
    max_seg: int = 200,
    weights=None,
) -> DataFrame:
    """The model pipeline's attention RANKING stage exposed as rows — one
    row per (group, segment, detail-coefficient position) carrying the
    frozen scorer's softmax score and the kernel's top-k selection flag.

    This is the value-oracle seam for the one ingredient the model parity
    queries could only multiset-check: the attention importance ordering
    (/root/reference/core/downsampling_algorithm2.py:94-120).  Segmentation
    and length bucketing are :func:`kernels.model_downsample_groups`' own
    (:func:`kernels.group_segments`, :func:`kernels.length_buckets`: groups
    <= max_seg run whole — even length-1 groups; longer groups split at
    max_seg with a trailing <2-point segment dropped), and dwt + scoring run
    through the SAME batched kernels as the production model job, so each
    distinct segment length costs one numpy call chain regardless of group
    count.
    """

    def frame_fn(body: pd.DataFrame) -> pd.DataFrame:
        bounds, keys, ws = group_bounds(body)
        vals = K.sanitize(body["_value"].to_numpy(dtype=np.float64))
        gkey = keys[bounds[:-1]]
        gws = ws[bounds[:-1]]
        # segmentation comes from the ONE shared rule — this seam's oracle
        # validity depends on never diverging from the kernel
        start, stop, group, ordinal = K.group_segments(bounds, max_seg)
        frames: list[pd.DataFrame] = []
        for ids, X in K.length_buckets(vals, start, stop):
            _, cD = wv.dwt(X, wavelet)
            S = K.attention_importance_batch(cD, seed=seed, weights=weights)
            m = cD.shape[1]
            k = max(1, int(round(m * retention)))
            order = np.argsort(-S, axis=1, kind="stable")[:, :k]
            selmask = np.zeros(S.shape, dtype=np.int32)
            np.put_along_axis(selmask, order, 1, axis=1)
            G = len(ids)
            gs = group[ids]
            frames.append(
                pd.DataFrame(
                    {
                        "key": np.repeat(gkey[gs], m),
                        "window_start": np.repeat(gws[gs], m),
                        "seg": np.repeat(ordinal[ids].astype(np.int32), m),
                        "i": np.tile(np.arange(m, dtype=np.int32), G),
                        "n_cd": np.full(G * m, m, dtype=np.int32),
                        "k": np.full(G * m, k, dtype=np.int32),
                        "score": S.ravel(),
                        "sel": selmask.ravel(),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    frame_fn.needed_cols = ["key", "window_start", "_value"]
    return apply_sorted(
        prepare_sorted(df, window, key_col, ts_col, value_col, order_col),
        frame_fn,
        ATTN_SCHEMA,
    )
