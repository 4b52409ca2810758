"""The generated inputs: ``generate_transcripts(seed)`` turns, shaped so that
the work they make does not depend on the seed.

Left as generated, the cost of a run swings with the seed: 1% of
conversations are 100x long, so between seeds the share of a 60k-turn head
in long conversations (which the model kernel handles one group at a time)
moved from 40% to 62%, and the conversation count of a 9k-turn head from 54
to 226.  Shaping keeps the seed's text, gaps and values but fixes the
structure:

* a fixed number of ordinary and of long conversations, each long one cut to
  a fixed turn count;
* every conversation moved, within its own UTC day, to start in that day's
  first half, so no conversation crosses midnight and the (conversation,
  day) groups are exactly the conversations.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

DAY_US = 86_400_000_000
# generated conversations are Poisson(40) turns long, the skewed ones 100x
# that: anything this long is one of the skewed ones
LONG_MIN = 1_000


def conversations(tbl: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """Start row and turn count of each conversation, in table order (the
    generator writes each conversation's turns contiguously)."""
    ids = tbl.column("conv_id").to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    return starts, np.diff(np.r_[starts, len(ids)])


def shaped(
    seed: int,
    n_short: int,
    n_long: int = 0,
    long_turns: int = 2_000,
    sf: float = 6.0,
) -> pa.Table:
    """``n_short`` ordinary and ``n_long`` long conversations (the first ones
    of each kind the generator makes for ``seed``), each long one cut to
    ``long_turns`` turns and every one moved to start in the first half of
    its UTC day.  The scale factor grows until the generator makes enough
    of both kinds."""
    from streaming_downsampling_spark.datagen import generate_transcripts

    while True:
        tbl = generate_transcripts(sf=sf, seed=seed)
        starts, counts = conversations(tbl)
        short = np.flatnonzero(counts < LONG_MIN)[:n_short]
        long_ = np.flatnonzero(counts >= max(long_turns, LONG_MIN))[:n_long]
        if len(short) == n_short and len(long_) == n_long:
            break
        sf *= 1.5
    keep = np.sort(np.r_[short, long_])
    take = np.where(np.isin(keep, long_), long_turns, counts[keep])
    rows = np.concatenate([np.arange(s, s + n) for s, n in zip(starts[keep], take)])
    out = tbl.take(pa.array(rows))
    ts = out.column("ts").cast(pa.int64()).to_numpy()
    first = np.repeat(ts[np.r_[0, np.cumsum(take)[:-1]]], take)
    day = first // DAY_US * DAY_US
    moved = day + (first - day) // 2 + (ts - first)
    return out.set_column(
        out.schema.get_field_index("ts"),
        "ts",
        pa.array(moved, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
    )
