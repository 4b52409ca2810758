"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Input shape is exactly ``BASELINE.json``'s ``input_hint``:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.  The numeric series the engine rolls up / downsamples is
``length(text)`` per turn; the generator therefore constructs ``text`` so its
char length follows the signal law ``200 + 50·sin(2π·turn/48) + spikes +
N(0,10)`` (clipped ≥ 1) — the same trend+detail spirit as the reference's
M4 inputs (/root/reference/main.py:21-80).

Deterministic: NumPy PCG64 with a fixed seed; the same (seed, sf) always
produces bit-identical tables, which is what lets the end-to-end tests
compare Spark output against the single-process numpy oracle exactly.

Skew knob: 1 % of conversations get 100× the turns (exercises the model
kernel's 200-point segmentation).  Gaps: heavy-tailed jitter plus 2–5 % deliberately
dropped intervals (exercises gap-fill).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

SEED = 42
T0_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in microseconds
ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["search", "exec", "browse"])
_PAD = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "


def signal_law(turn_idx: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """length(text) target per turn: trend + seasonal + spikes + noise."""
    base = 200.0 + 50.0 * np.sin(2.0 * np.pi * turn_idx / 48.0)
    noise = rng.normal(0.0, 10.0, size=len(turn_idx))
    spikes = np.where(rng.random(len(turn_idx)) < 0.01, 5.0 * base, 0.0)
    return np.clip(np.round(base + noise + spikes), 1, None).astype(np.int64)


def generate_transcripts(
    sf: float = 1.0,
    seed: int = SEED,
    avg_turns: int = 40,
    skew_frac: float = 0.01,
    skew_mult: int = 100,
) -> pa.Table:
    """Build the transcript table as a pyarrow Table.

    ``sf * 10_000`` total turns (approximately), split into conversations of
    ~``avg_turns`` turns, with ``skew_frac`` of conversations ``skew_mult``×
    longer.
    """
    rng = np.random.default_rng(seed)
    total_turns = max(int(sf * 10_000), avg_turns)
    n_conv = max(total_turns // avg_turns, 1)
    turns_per_conv = np.maximum(
        rng.poisson(avg_turns, size=n_conv), 2
    )
    skew_mask = rng.random(n_conv) < skew_frac
    turns_per_conv = np.where(skew_mask, turns_per_conv * skew_mult, turns_per_conv)

    n = int(turns_per_conv.sum())
    conv_ord = np.repeat(np.arange(n_conv), turns_per_conv)
    conv_id = np.array([f"conv-{i:08d}" for i in range(n_conv)])[conv_ord]
    # contiguous turn_idx per conversation
    starts = np.concatenate([[0], np.cumsum(turns_per_conv)[:-1]])
    turn_idx = (np.arange(n) - starts[conv_ord]).astype(np.int32)

    # roles: cycle user/assistant/tool with seeded jitter
    role_ix = (turn_idx + rng.integers(0, 3, size=n)) % 3
    role = ROLES[role_ix]
    tool_present = rng.random(n) < 0.2
    tool = np.where(tool_present, TOOLS[rng.integers(0, 3, size=n)], None)

    # timestamps: per-conv start staggered over ~sf days; base gap 5 s with
    # lognormal heavy tail; 2–5 % of gaps widened 30× (deliberate holes)
    conv_start = T0_US + rng.integers(0, int(max(sf, 0.01) * 86_400_000_000), size=n_conv)
    gaps = (5_000_000 * rng.lognormal(0.0, 0.6, size=n)).astype(np.int64)
    hole_rate = 0.02 + 0.03 * rng.random()
    gaps = np.where(rng.random(n) < hole_rate, gaps * 30, gaps)
    gaps = np.where(turn_idx == 0, 0, gaps)  # reset cumsum at conv boundaries
    cum = np.cumsum(gaps)
    cum = cum - cum[starts[conv_ord]]
    ts_us = conv_start[conv_ord] + cum

    # text whose char length follows the signal law
    target_len = signal_law(turn_idx.astype(np.float64), rng)
    prefix = pd.Series(conv_id).str.cat(
        ["-" + s for s in turn_idx.astype(str)]
    )
    pad_needed = np.maximum(target_len - prefix.str.len().to_numpy() - 1, 0)
    reps = int(np.ceil((pad_needed.max() + 1) / len(_PAD))) if n else 1
    pad_pool = _PAD * max(reps, 1)
    text = (prefix + ":" + pd.Series([pad_pool[:k] for k in pad_needed])).to_numpy()

    tbl = pa.table(
        {
            "conv_id": pa.array(conv_id, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        }
    )
    return tbl


def write_transcripts(path: str, sf: float = 1.0, seed: int = SEED) -> str:
    """Write the generated table as parquet and return the path."""
    import pyarrow.parquet as pq

    tbl = generate_transcripts(sf=sf, seed=seed)
    pq.write_table(tbl, path)
    return path


def transcripts_df(spark, sf: float = 1.0, seed: int = SEED, path: str | None = None):
    """Generate (or reuse) the parquet file and return a Spark DataFrame."""
    import os
    import tempfile

    if path is None:
        path = os.path.join(
            tempfile.gettempdir(), f"transcripts_sf{sf}_seed{seed}.parquet"
        )
    if not os.path.exists(path):
        write_transcripts(path, sf=sf, seed=seed)
    return spark.read.parquet(path)
