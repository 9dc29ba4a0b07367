"""Dyadic-interval machinery (0-indexed bit-arithmetic reformulation).

Reference semantics (1-indexed, search-based):
- point ladder: FindChildInterval, SpatialSketch.cpp:494-530
- canonical range cover with fractional coverage: ObtainIntervals /
  GetDyadicIntervals, SpatialSketch.cpp:634-752
- dropped-grid recursion (DynSketch): RecurseQueryDyadicInterval,
  SpatialSketch.cpp:802-832

Here everything is closed-form on 0-indexed coordinates:
level-k interval containing t is ``[t >> k << k, (t >> k << k) + 2^k - 1]``.
Equivalence with a literal transcription is established by exhaustive
small-N tests (tests/test_dyadic.py).

A *cover element* is ``(level, start, coverage)`` per axis; a 2-D cover
element is ``(kx, ky, cx, cy, coverage)`` where ``cx = x_start >> kx`` is
the cell index in grid (kx, ky) and coverage in (0, 1] is the fraction of
the cell overlapped by the query (SpatialSketch.cpp:660-676).
"""

from __future__ import annotations

import numpy as np


def point_ladder(t: int, log_n: int) -> list[tuple[int, int]]:
    """All dyadic (level, cell_index) pairs containing point t.

    Replaces the reference's binary descent (SpatialSketch.cpp:494-530)
    with shifts: cell index at level k is t >> k.
    """
    return [(k, t >> k) for k in range(log_n + 1)]


def point_ladder_np(ts: np.ndarray, log_n: int) -> np.ndarray:
    """Vectorized: (n_points, log_n+1) array of cell indices per level."""
    ts = np.asarray(ts, dtype=np.int64)
    ks = np.arange(log_n + 1, dtype=np.int64)
    return ts[:, None] >> ks[None, :]


def canonical_cover(a: int, b: int, log_n: int, floor_k: int = 0
                    ) -> list[tuple[int, int, float]]:
    """Minimal dyadic cover of inclusive integer range [a, b].

    Returns [(level, start, coverage)]. With floor_k == 0 this is the
    classic greedy canonical cover (<= 2*log_n intervals, coverage 1.0).
    With floor_k > 0 (DynSketch coarsened resolution: finest cell width is
    2^floor_k), sub-block remainders are emitted as the floor-level block
    containing them with fractional coverage = overlap / block
    (ObtainIntervals coverage path, SpatialSketch.cpp:660-676).
    """
    if a > b:
        return []
    n = 1 << log_n
    a = max(0, a)
    b = min(n - 1, b)
    out: list[tuple[int, int, float]] = []
    if floor_k > 0:
        block = 1 << floor_k
        a_blk = a >> floor_k
        b_blk = b >> floor_k
        if a_blk == b_blk:
            cov = (b - a + 1) / block
            return [(floor_k, a_blk << floor_k, min(1.0, cov))]
        # partial head block
        if a & (block - 1):
            head_start = a_blk << floor_k
            out.append((floor_k, head_start, (head_start + block - a) / block))
            a = head_start + block
        # partial tail block
        tail_end = None
        if (b + 1) & (block - 1):
            tail_start = b_blk << floor_k
            tail_end = (floor_k, tail_start, (b - tail_start + 1) / block)
            b = tail_start - 1
        if a <= b:
            out.extend(_greedy(a, b, log_n, floor_k))
        if tail_end is not None:
            out.append(tail_end)
        return out
    return _greedy(a, b, log_n, 0)


def _greedy(a: int, b: int, log_n: int, floor_k: int) -> list[tuple[int, int, float]]:
    """Greedy canonical cover; a and b are floor-block aligned."""
    out = []
    while a <= b:
        # largest k with a aligned and interval fitting in [a, b]
        k = log_n
        while k > floor_k and ((a & ((1 << k) - 1)) != 0 or a + (1 << k) - 1 > b):
            k -= 1
        # at k == floor_k alignment is guaranteed by the caller
        while a + (1 << k) - 1 > b:
            k -= 1  # only possible when floor_k bound is loose at the end
        out.append((k, a, 1.0))
        a += 1 << k
    return out


def cover_2d(x1: int, y1: int, x2: int, y2: int, log_n: int,
             floor_kx: int = 0, floor_ky: int = 0,
             ) -> list[tuple[int, int, int, int, float]]:
    """2-D dyadic cover: cartesian product of per-axis covers
    (GetDyadicIntervals, SpatialSketch.cpp:684-752).

    Returns [(kx, ky, cx, cy, coverage)] with cx/cy the per-grid cell
    indices and coverage the product of the axis coverages.
    """
    xs = canonical_cover(x1, x2, log_n, floor_kx)
    ys = canonical_cover(y1, y2, log_n, floor_ky)
    out = []
    for kx, sx, covx in xs:
        for ky, sy, covy in ys:
            out.append((kx, ky, sx >> kx, sy >> ky, covx * covy))
    return out


def _floor_log2(v: np.ndarray) -> np.ndarray:
    """floor(log2 v) per element of a positive int64 array below 2^53
    (frexp is exact there)."""
    return np.frexp(v.astype(np.float64))[1].astype(np.int64) - 1


def canonical_cover_np(a: np.ndarray, b: np.ndarray, log_n: int,
                       floor_k: int = 0):
    """canonical_cover over many inclusive ranges [a[i], b[i]] at once;
    -> (range_idx, level, start, coverage) arrays, grouped by range in
    input order and ascending by start within a range, which is
    canonical_cover's order.

    No loop over ranges or greedy steps: after the partial head and
    tail blocks, the aligned middle [A, B) (in floor blocks) splits at
    M, the multiple of the highest power of two in (A, B]. [A, M) is
    one block per set bit of M - A, smallest first, and [M, B) one
    block per set bit of B - M, largest first — the blocks greedy
    picks. Ranges that are empty once clamped to [0, 2^log_n) (at most
    one element each) go through canonical_cover itself."""
    a = np.asarray(a, np.int64)
    b = np.asarray(b, np.int64)
    f, n = floor_k, 1 << log_n
    block = 1 << f
    lo, hi = np.maximum(a, 0), np.minimum(b, n - 1)
    ok = lo <= hi
    a_blk, b_blk = lo >> f, hi >> f
    single = ok & (a_blk == b_blk)
    head = ok & ~single & ((lo & (block - 1)) != 0)
    tail = ok & ~single & (((hi + 1) & (block - 1)) != 0)
    parts = []                  # (range_idx, level, start, coverage)

    def emit(idx, level, start, cov):     # level, cov: scalar or per idx
        parts.append((idx, np.zeros_like(idx) + level, start,
                      np.zeros(len(idx)) + cov))

    i = np.flatnonzero(single)
    emit(i, f, a_blk[i] << f, np.minimum(1.0, (hi[i] - lo[i] + 1) / block))
    i = np.flatnonzero(head)
    hs = a_blk[i] << f
    emit(i, f, hs, (hs + block - lo[i]) / block)
    i = np.flatnonzero(tail)
    ts = b_blk[i] << f
    emit(i, f, ts, (hi[i] - ts + 1) / block)
    # the aligned middle [A, B), in floor blocks
    A = np.where(head, a_blk + 1, a_blk)
    B = np.where(tail, b_blk, b_blk + 1)
    mid = np.flatnonzero(ok & ~single & (A < B))
    A, B = A[mid], B[mid]
    top = _floor_log2(A ^ B)        # highest bit where A and B differ
    M = B >> top << top
    bit = np.int64(1) << np.arange(log_n - f + 1, dtype=np.int64)
    r, k = np.nonzero((M - A)[:, None] & bit)
    emit(mid[r], k + f, (A[r] + ((M - A)[r] & (bit[k] - 1))) << f, 1.0)
    r, k = np.nonzero((B - M)[:, None] & bit)
    emit(mid[r], k + f, (M[r] + ((B - M)[r] >> k + 1 << k + 1)) << f, 1.0)
    for r in np.flatnonzero((a <= b) & ~ok).tolist():
        for lv, st, cv in canonical_cover(int(a[r]), int(b[r]), log_n, f):
            emit(np.array([r]), lv, np.array([st], np.int64), cv)
    idx, level, start, cov = (np.concatenate(c) for c in zip(*parts))
    order = np.lexsort((start, idx))
    return idx[order], level[order], start[order], cov[order]


# up to this many rects, cover_2d_np builds each rect's cover_2d list:
# for one or two rects (a single-placement query batch) that is about
# half the cost of the batched form's fixed ~40 numpy calls
SCALAR_COVER_RECTS = 4


def cover_2d_np(rects, log_n: int, floor_k: int = 0):
    """Batch 2-D covers as numpy arrays: rects is an iterable of
    (x1, y1, x2, y2); returns (rect_idx, kx, ky, cx, cy, coverage)
    int64/float64 arrays, grouped by rect in input order. Same elements,
    in the same order, as cover_2d per rect (asserted in tests): past
    ``SCALAR_COVER_RECTS`` rects the per-axis covers come from
    ``canonical_cover_np`` for all rects at once and the per-rect cross
    products from one index expansion, so the cost is a fixed number of
    numpy calls rather than a Python loop per rect."""
    r = np.asarray(list(rects), np.int64).reshape(-1, 4)
    nr = len(r)
    if nr <= SCALAR_COVER_RECTS:
        rows = np.array([(i, *e) for i, q in enumerate(r.tolist())
                         for e in cover_2d(*q, log_n, floor_k, floor_k)],
                        np.float64).reshape(-1, 6)
        # every int column is far below 2^53, so float64 holds it exactly
        ints = rows[:, :5].T.astype(np.int64, order="C")
        return (*ints, rows[:, 5].copy())
    # both axes in one call: ranges [0, nr) are x, [nr, 2 nr) are y
    i, k, s, c = canonical_cover_np(np.concatenate([r[:, 0], r[:, 1]]),
                                    np.concatenate([r[:, 2], r[:, 3]]),
                                    log_n, floor_k)
    per_axis = np.bincount(i, minlength=2 * nr)
    first = np.cumsum(per_axis) - per_axis      # first element per range
    nx, ny = per_axis[:nr], per_axis[nr:]
    cnt = nx * ny
    ridx = np.repeat(np.arange(nr, dtype=np.int64), cnt)
    # position of each output row within its rect's nx x ny block
    off = np.arange(len(ridx), dtype=np.int64) - np.repeat(
        np.cumsum(cnt) - cnt, cnt)
    ex = first[ridx] + off // ny[ridx]
    ey = first[nr + ridx] + off % ny[ridx]
    kx, ky = k[ex], k[ey]
    return ridx, kx, ky, s[ex] >> kx, s[ey] >> ky, c[ex] * c[ey]


def effective_cover(x1: int, y1: int, x2: int, y2: int, log_n: int,
                    dropped: frozenset | set = frozenset(),
                    floor_k: int = 0,
                    ) -> list[tuple[int, int, int, int, float]]:
    """2-D cover rewritten against the live grid set (DynSketch).

    Replaces the reference's query-time recursion on dropped grids
    (RecurseQueryDyadicInterval, SpatialSketch.cpp:802-832) with driver-
    side set arithmetic: any cover element whose grid (kx, ky) is dropped
    is split in half along its larger dimension until a live grid is hit
    or the floor resolution bottoms out (then it is answered by the
    floor-level grid with fractional coverage, matching the reference's
    coverage fallback).
    """
    work = cover_2d(x1, y1, x2, y2, log_n, floor_k, floor_k)
    out: list[tuple[int, int, int, int, float]] = []
    while work:
        kx, ky, cx, cy, cov = work.pop()
        if (kx, ky) not in dropped:
            out.append((kx, ky, cx, cy, cov))
            continue
        if kx <= floor_k and ky <= floor_k:
            # nothing finer exists; the reference cannot answer this cell
            # either — it never drops the floor grid, so this is unreachable
            # when `dropped` respects the invariant. Keep defensive.
            raise ValueError(f"grid ({kx},{ky}) dropped below floor resolution")
        if kx >= ky and kx > floor_k:
            work.append((kx - 1, ky, cx * 2, cy, cov))
            work.append((kx - 1, ky, cx * 2 + 1, cy, cov))
        else:
            work.append((kx, ky - 1, cx, cy * 2, cov))
            work.append((kx, ky - 1, cx, cy * 2 + 1, cov))
    return out


def cover_1d_items(a: int, b: int, log_domain: int) -> list[tuple[int, int]]:
    """Canonical cover of an item-id range for the dyadic-CM
    (DyadCountMin.cpp Query path). Returns [(level, prefix)]."""
    return [(k, s >> k) for k, s, _ in canonical_cover(a, b, log_domain, 0)]
