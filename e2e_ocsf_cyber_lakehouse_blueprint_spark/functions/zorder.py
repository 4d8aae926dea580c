"""Z-order and Hilbert-curve clustering keys.

The engine's replacement for Delta liquid clustering (`cluster_by=["_event_date"]`
`bronze_github_audit_logs.py:32`; `ALTER TABLE ... CLUSTER BY (time)`
`utilities/post_setup_ocsf_tables.py:44`): multi-dimensional space-filling-curve
keys over (xxhash64(conv_id), turn_idx, epoch(ts)). The Z-order key is a pure
Catalyst expression; the Hilbert key is an Arrow-batch pandas UDF computed
vectorized in numpy (input_hint: no per-row Python). The keys feed
``repartitionByRange(zkey) + sortWithinPartitions(zkey)`` so files become
rectangular regions of key space -> manifest min/max bounds get tight on every
clustered dimension -> the pruning planner skips files for predicates on ANY
key dimension, not just the leading one.

Division of labor (scale-aware): per-dimension min-max normalization to 21-bit
ints is plain Catalyst arithmetic (whole-stage codegen, no Python); ONLY the
Hilbert transform crosses the Arrow boundary. Dimension ranges come from manifest
stats — metadata, not a data scan. Normalizing by the actual range matters:
epoch-microsecond values inside one retention window share all their high bits,
so fixed top-bit truncation would collapse the time dimension entirely.

Hilbert uses Skilling's public-domain transpose algorithm ("Programming the
Hilbert curve", AIP Conf. Proc. 707, 2004), vectorized.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

BITS_PER_DIM = 21  # 3 dims x 21 bits = 63 bits -> fits a signed int64
DIM_MAX = (1 << BITS_PER_DIM) - 1

HASH_LO = float(-(2**63))
HASH_HI = float(2**63 - 1)


def hilbert3(a: np.ndarray, b: np.ndarray, c: np.ndarray,
             bits: int = BITS_PER_DIM) -> np.ndarray:
    """Hilbert index (d=3) via Skilling's axes->transpose, vectorized numpy."""
    X = [a.astype(np.uint64).copy(), b.astype(np.uint64).copy(), c.astype(np.uint64).copy()]
    n = 3
    M = np.uint64(1 << (bits - 1))
    one = np.uint64(1)
    # inverse undo
    Q = M
    while Q > one:
        P = Q - one
        for i in range(n):
            hit = (X[i] & Q) != 0
            X[0] = np.where(hit, X[0] ^ P, X[0])          # invert
            t = np.where(hit, np.uint64(0), (X[0] ^ X[i]) & P)  # exchange
            X[0] ^= t
            X[i] ^= t
        Q >>= one
    # Gray encode
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = np.zeros_like(X[0])
    Q = M
    while Q > one:
        t = np.where((X[n - 1] & Q) != 0, t ^ (Q - one), t)
        Q >>= one
    for i in range(n):
        X[i] ^= t
    # transpose -> index: bit j of X[i] becomes bit (j*n + (n-1-i))
    out = np.zeros_like(X[0])
    for j in range(bits):
        for i in range(n):
            out |= ((X[i] >> np.uint64(j)) & one) << np.uint64(j * n + (n - 1 - i))
    return out


def _as_u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64, na_value=0).astype(np.uint64)


@functools.cache
def _hilbert_udf():
    """Built lazily on first use and cached: pandas_udf registration needs an
    active SparkSession (DDL type parsing)."""

    def _fn(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.Series:
        return pd.Series(hilbert3(_as_u64(a), _as_u64(b), _as_u64(c)).astype(np.int64))

    return pandas_udf(_fn, "long")


def zorder_key_expr(a: Column, b: Column, c: Column,
                    bits: int = BITS_PER_DIM) -> Column:
    """Morton bit-interleave as a PURE Catalyst expression (63 shift/and/or
    terms, branch-free -> whole-stage codegen). Measurably beat the Arrow
    kernel it replaced because repartitionByRange evaluates the key in its
    sampling pass, the shuffle, and the output sort — with an expression the
    re-evaluations are register math; with a pandas UDF each one is a Python
    round-trip (and persisting the keyed frame to avoid that trades Python
    cost for executor-heap pressure, which measured worse on wide text rows).
    Hilbert keeps the Arrow kernel: its Gray-code state machine is not
    expressible as a fixed expression tree."""
    out = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 3 * i + 2)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 3 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(c, i).bitwiseAND(one), 3 * i)
        )
    return out


def normalize_dim(col: Column, lo: float, hi: float) -> Column:
    """Min-max normalize a numeric column to [0, 2^21-1] — pure Catalyst arithmetic."""
    if hi <= lo:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(DIM_MAX))
    clamped = F.least(F.lit(float(DIM_MAX)), F.greatest(F.lit(0.0), scaled))
    return F.coalesce(clamped.cast("long"), F.lit(0))


def cluster_key_column(
    curve: str = "zorder",
    *,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    ts_col: str = "ts",
    turn_range: tuple[float, float] = (0.0, float(DIM_MAX)),
    ts_us_range: tuple[float, float] = (0.0, 4e15),
) -> Column:
    """Clustering key over transcript columns.

    conv_id is hashed JVM-side (F.xxhash64, uniform over int64 -> fixed range);
    turn_idx / epoch-us ranges should come from manifest stats (see
    operators/clustering.py) so every dimension uses its full 21 bits.

    zorder -> pure Catalyst expression; hilbert -> Arrow-batch pandas UDF
    (see zorder_key_expr docstring for the why).
    """
    dims = (
        normalize_dim(F.xxhash64(F.col(conv_col)), HASH_LO, HASH_HI),
        normalize_dim(F.col(turn_col), *turn_range),
        # cast handles TIMESTAMP_NTZ inputs (identity under the UTC session TZ)
        normalize_dim(F.unix_micros(F.col(ts_col).cast("timestamp")), *ts_us_range),
    )
    if curve == "zorder":
        return zorder_key_expr(*dims)
    if curve == "hilbert":
        return _hilbert_udf()(*dims)
    raise ValueError(f"unknown curve {curve!r}")
