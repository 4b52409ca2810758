"""Reference implementations the package's operators are tested against: a
Gorilla bit writer and timestamp reader, the per-chunk checksum, the
one-series attention scorer and model pipeline, and min-label propagation
connected components.  The package keeps only the batched kernels (plus the
scalar XOR reader, its fallback for '10' records) and the large-star/
small-star components."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from streaming_downsampling_spark.functions import gorilla as G
from streaming_downsampling_spark.functions import kernels as K
from streaming_downsampling_spark.functions import wavelets as wv
from streaming_downsampling_spark.operators.compress import _MOD, _checksum_terms, _fold63


class BitWriter:
    """MSB-first bit writer; ``getvalue`` zero-pads to a byte boundary."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


def checksum(ts_us: np.ndarray, values: np.ndarray) -> int:
    """One chunk's ``compress._checksum_batched``: the exact mod-(2^63-1)
    sum of the per-point terms, by tree reduction — each pairwise sum of two
    <2^63 terms fits uint64, then folds back under 2^63."""
    term = _checksum_terms(ts_us, values)
    while len(term) > 1:
        if len(term) % 2:
            term = np.concatenate([term, np.zeros(1, dtype=np.uint64)])
        term = _fold63(term[0::2] + term[1::2])
    out = int(term[0]) if len(term) else 0
    return out % int(_MOD)


def decode_timestamps_scalar(blob: bytes) -> np.ndarray:
    """Field-by-field delta-of-delta reader."""
    r = G._BitReader(blob)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    first = r.read(64)
    out[0] = np.int64(np.uint64(first))
    if n == 1:
        return out
    delta = r.read(64)
    delta = delta - (1 << 64) if delta >= (1 << 63) else delta
    out[1] = out[0] + delta
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:  # '10'
                dod = r.read(7) - 63
            elif r.read(1) == 0:  # '110'
                dod = r.read(9) - 255
            elif r.read(1) == 0:  # '1110'
                dod = r.read(12) - 2047
            else:  # '1111'
                dod = r.read(64)
                dod = dod - (1 << 64) if dod >= (1 << 63) else dod
        delta += dod
        out[i] = out[i - 1] + delta
    return out


decode_values_scalar = G._decode_values_scalar


def attention_importance(
    c: np.ndarray,
    embed_dim: int = 16,
    num_heads: int = 4,
    seed: int = 42,
    weights=None,
) -> np.ndarray:
    """The frozen-weight attention scorer on one coefficient series."""
    c = np.asarray(c, dtype=np.float64)
    n = len(c)
    d = embed_dim
    pos = np.arange(n)[:, None]
    div = np.exp(np.arange(0, d, 2) * (-np.log(10000.0) / d))
    pe = np.zeros((n, d))
    pe[:, 0::2] = np.sin(pos * div)
    pe[:, 1::2] = np.cos(pos * div)
    w_in, heads = K._attention_weights(d, num_heads, seed, blob=weights)
    h = c[:, None] @ w_in + pe
    global_mass = np.zeros(n)
    dh = d // num_heads
    for wq, wk in heads:
        q, kmat = h @ wq, h @ wk
        logits = (q @ kmat.T) / np.sqrt(dh)
        logits -= logits.max(axis=1, keepdims=True)
        attn = np.exp(logits)
        attn /= attn.sum(axis=1, keepdims=True)
        global_mass += attn.sum(axis=0)
    global_mass /= num_heads * n
    local = np.abs(np.gradient(c)) if n > 1 else np.ones(1)
    local = local / max(local.sum(), 1e-12)
    scores = 0.7 * global_mass + 0.3 * local
    e = np.exp(scores - scores.max())
    return e / e.sum()


def model_downsample_segment(
    x: np.ndarray,
    wavelet: str = "db4",
    approx_ds_factor: int = 2,
    retention: float = 0.8,
    seed: int = 42,
    weights=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The model pipeline on one segment: dwt, pooled approximation,
    attention top-k over the detail coefficients."""
    cA, cD = wv.dwt(np.asarray(x, dtype=np.float64), wavelet)
    f = approx_ds_factor
    m = (len(cA) - f) // f + 1
    pooled = cA[: m * f].reshape(m, f).mean(axis=1)
    k = max(1, int(round(len(cD) * retention)))
    scores = attention_importance(cD, seed=seed, weights=weights)
    idx = np.sort(np.argsort(-scores, kind="stable")[:k])
    return pooled, cD[idx], idx


def model_downsample_scalar(
    x: np.ndarray, max_seg: int = 200
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The model pipeline (db4, defaults) on one series, one segment at a
    time: a series of at most ``max_seg`` points runs whole; a longer one is
    cut every ``max_seg`` points, a trailing segment under 2 points is
    dropped, and each segment's detail indices are offset by the detail
    lengths before it."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    segs = [x] if n <= max_seg else []
    if n > max_seg:
        for a in range(0, n, max_seg):
            if n - a < 2:
                break
            segs.append(x[a : a + max_seg])
    pooled_all, sel_all, idx_all = [], [], []
    off = 0
    for s in segs:
        pooled, sel, idx = model_downsample_segment(s)
        pooled_all.append(pooled)
        sel_all.append(sel)
        idx_all.append(idx + off)
        off += len(wv.dwt(s, "db4")[1])
    return (
        np.concatenate(pooled_all),
        np.concatenate(sel_all),
        np.concatenate(idx_all),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Reference connected components by min-label propagation, the oracle
    for ``dedup.connected_components_star`` (same output: every node with
    the min node id of its component).

    Each round every node adopts the minimum label among itself and its
    neighbors.  Rounds are O(component diameter): ``max_iter`` bounds
    adversarial chains and raises past it.  Each round is two hash-key
    shuffles; labels are eagerly localCheckpoint-ed per round, which both
    materializes them AND truncates the logical plan — a bare persist
    caches data but the plan still nests (measured 4x plan-string growth
    per round: exponential analysis cost that OOMs the driver near round
    10 on chain graphs), and the checkpoint blocks are GC-scoped so a
    catalog run leaves the storage pool clean.  Convergence check = count
    of changed labels (no full-table sums that could overflow).

    Output: (node, component) for every node appearing in ``pairs``.  A
    pair with a NULL id is no edge and contributes no node.
    """
    if max_iter < 1:
        # the for/else convergence check below reads `changed`, which is only
        # bound inside the loop — a zero-round call must fail loudly up front
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    pairs = pairs.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        # the edge set is read once per round: materialize it, or every
        # round recomputes the whole upstream candidate pipeline
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("src").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e.src == labels.node)
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
            )
            # lazy: the changed-count action right below is the first read,
            # so it materializes the round's labels and counts the moved
            # ones in ONE job instead of checkpoint-then-count
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter with labels still moving means a component
        # wider than max_iter hops — silently returning split clusters is a
        # correctness trap.  Chain-shaped graphs need the O(log n)-round
        # large-star/small-star variant (Kiveris 2014).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); a component's diameter "
            "exceeds max_iter — raise max_iter or use a log-round variant"
        )
    return labels
