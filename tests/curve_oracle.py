"""Numpy Morton (Z-order) kernel: the oracle the Catalyst Z-order key
(``functions/zorder.py:zorder_key_expr``) is checked against."""

from __future__ import annotations

import numpy as np

from e2e_ocsf_cyber_lakehouse_blueprint_spark.functions.zorder import BITS_PER_DIM


def interleave3(a: np.ndarray, b: np.ndarray, c: np.ndarray,
                bits: int = BITS_PER_DIM) -> np.ndarray:
    """Bit-interleave three `bits`-wide uint64 arrays -> Morton (Z-order) code."""
    out = np.zeros(a.shape, dtype=np.uint64)
    for i in range(bits):
        bit = np.uint64(i)
        out |= ((a >> bit) & np.uint64(1)) << np.uint64(3 * i + 2)
        out |= ((b >> bit) & np.uint64(1)) << np.uint64(3 * i + 1)
        out |= ((c >> bit) & np.uint64(1)) << np.uint64(3 * i)
    return out
