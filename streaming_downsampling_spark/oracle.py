"""Single-process pandas/numpy oracle for end-to-end correctness tests.

Recomputes, with no Spark involved, what the engine computes distributed:
tiered rollups, gap-fill, and downsampling selections over the synthetic
transcript table.  Tests assert exact equality (float64, not approximate) —
the reference's evaluation scripts play the same role for its model
(/root/reference/new_evaluation.py:185-209).

The downsampling selectors are shared code (:mod:`.functions.kernels`), so
the oracle independently reimplements only the *distribution-sensitive*
parts: grouping, windowing, ordering, aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _tier_us(tier: str) -> int:
    """Grid step of a tier in microseconds, parsed by pandas rather than by
    the engine's own tier grammar (``operators.rollup``)."""
    return pd.Timedelta(tier).value // 1000


def to_pandas(tbl) -> pd.DataFrame:
    df = tbl.to_pandas()
    s = pd.to_datetime(df["ts"])
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    df["ts_us"] = s.to_numpy(dtype="datetime64[us]").astype(np.int64)
    df["value"] = df["text"].str.len().astype("float64")
    return df


def rollup_oracle(pdf: pd.DataFrame, tier: str, key: str = "conv_id") -> pd.DataFrame:
    """Windowed aggregates matching operators.rollup.rollup output."""
    us = _tier_us(tier)
    d = pdf.copy()
    d["window_start_us"] = (d["ts_us"] // us) * us
    d = d.sort_values([key, "window_start_us", "turn_idx"], kind="stable")
    g = d.groupby([key, "window_start_us"], sort=True)
    out = g.agg(
        n_points=("value", "size"),
        sum_value=("value", "sum"),
        min_value=("value", "min"),
        max_value=("value", "max"),
        first_value=("value", "first"),
        last_value=("value", "last"),
    ).reset_index()
    out["avg_value"] = out["sum_value"] / out["n_points"]
    out = out.rename(columns={key: "key"})
    return out


def gapfill_oracle(
    roll: pd.DataFrame, tier: str, value_col: str = "avg_value", method: str = "linear"
) -> pd.DataFrame:
    """Dense spine + locf/linear/zero fill matching operators.gapfill."""
    us = _tier_us(tier)
    frames = []
    for key, grp in roll.groupby("key", sort=True):
        grp = grp.sort_values("window_start_us")
        spine = np.arange(
            grp["window_start_us"].min(), grp["window_start_us"].max() + us, us
        )
        known = dict(zip(grp["window_start_us"], grp[value_col]))
        vals = np.array([known.get(w, np.nan) for w in spine])
        filled = np.isnan(vals)
        if method == "zero":
            out = np.where(filled, 0.0, vals)
        else:
            kidx = np.flatnonzero(~filled)
            if method == "locf":
                out = vals.copy()
                last = vals[kidx[0]]
                for i in range(len(out)):
                    if np.isnan(out[i]):
                        out[i] = last
                    else:
                        last = out[i]
            else:  # linear with edge clamping
                out = np.interp(
                    spine.astype(np.float64),
                    spine[kidx].astype(np.float64),
                    vals[kidx],
                )
        frames.append(
            pd.DataFrame(
                {
                    "key": key,
                    "window_start_us": spine,
                    "value": out,
                    "filled": filled,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def select_oracle(
    pdf: pd.DataFrame,
    method_fn,
    target: int,
    window: str = "1h",
    key: str = "conv_id",
    **kw,
) -> pd.DataFrame:
    """Per (key, window) group: sort by turn_idx, sanitize, select indices."""
    from .functions import kernels as K

    us = _tier_us(window)
    d = pdf.copy()
    d["window_start_us"] = (d["ts_us"] // us) * us
    rows = []
    for (k, w), grp in d.groupby([key, "window_start_us"], sort=True):
        grp = grp.sort_values(["turn_idx", "ts_us"], kind="stable")
        x = K.sanitize(grp["value"].to_numpy(dtype=np.float64))
        idx = method_fn(x, target, **kw)
        rows.append(
            pd.DataFrame(
                {
                    "key": k,
                    "window_start_us": w,
                    "sel_pos": idx.astype(np.int32),
                    "sel_ord": grp["turn_idx"].to_numpy()[idx].astype(np.int64),
                    "sel_value": x[idx],
                }
            )
        )
    return pd.concat(rows, ignore_index=True)
