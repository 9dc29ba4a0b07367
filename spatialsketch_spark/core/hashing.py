"""Seeded 2-wise-independent hash family, numpy-vectorized.

Reference: h_i(id) = ((a_i*id + b_i) mod p_i) mod w with rand() seeds
(CountMin.cpp:48-71,108-118; same pattern in FM/BF/ECM). We keep the
same family but fix p = 2^31 - 1 (Mersenne prime) and draw (a_i, b_i)
from a seeded numpy Generator — cross-platform deterministic, unlike the
reference's libc rand() (see SURVEY.md §7 "hash-seed parity": we match
formulas and parameters, not bits).

All coefficients for one sketch family are derived from (seed, d) alone,
so every Spark task regenerates identical coefficients from the broadcast
config — the analogue of the reference sharing one ``hashab_`` across all
cells of a SpatialSketch (SpatialSketch.cpp:21,365-373), which is what
makes per-cell sketches mergeable.
"""

from __future__ import annotations

import numpy as np

MERSENNE_P = (1 << 31) - 1


def coefficients(seed: int, d: int) -> np.ndarray:
    """(d, 2) int64 array of (a_i, b_i), a_i in [1, p), b_i in [0, p)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=d, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=d, dtype=np.int64)
    return np.stack([a, b], axis=1)


def hash_items(items: np.ndarray, coeffs: np.ndarray, width: int) -> np.ndarray:
    """(d, n) hashed columns in [0, width). int64 overflow-safe:
    (p-1)^2 < 2^62 < int64 max."""
    items = np.asarray(items, dtype=np.int64) % MERSENNE_P
    a = coeffs[:, 0][:, None]
    b = coeffs[:, 1][:, None]
    return ((a * items[None, :] + b) % MERSENNE_P) % width


def trailing_zeros(v: np.ndarray) -> np.ndarray:
    """Vectorized count of trailing zero bits (FM.cpp:80-90); tz(0) = 0
    to match the reference's loop, which returns 0 for input 0."""
    v = np.asarray(v, dtype=np.int64)
    out = np.zeros(v.shape, dtype=np.int64)
    nz = v != 0
    vv = v[nz]
    # isolate lowest set bit, take its log2
    low = vv & -vv
    out[nz] = np.round(np.log2(low.astype(np.float64))).astype(np.int64)
    return out
