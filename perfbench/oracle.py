"""The benchmark's checks: exact answers computed without the engine.

Polygons are rasterised by this module's own even-odd scan instead of
``core.partitioner``, counts come from a 2-D prefix sum over block totals
instead of the dyadic pyramid, kNN answers from brute force, and gate
operators are compared with their registered DuckDB oracle SQL.

A polygon is a list of rings of half-integer vertices with axis-parallel
edges (the engine's ``Shape`` convention); a cell belongs to it when the
cell centre (integer x, y) is inside under the even-odd rule. Vertices
are half-integers and centres integers, so no centre lies on an edge.
"""

from __future__ import annotations

import math

import numpy as np


def vertical_edges(rings) -> np.ndarray:
    """(k, 3) array of (x, y_low, y_high) for every vertical edge."""
    out = []
    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring, ring[1:] + ring[:1]):
            if x0 == x1 and y0 != y1:
                out.append((x0, min(y0, y1), max(y0, y1)))
            elif x0 != x1 and y0 != y1:
                raise ValueError(f"edge {(x0, y0)}->{(x1, y1)} is not "
                                 "axis-parallel")
    return np.asarray(out, dtype=np.float64).reshape(-1, 3)


def inside(rings, xs, ys) -> np.ndarray:
    """Even-odd point-in-polygon for integer points: a ray from each
    point towards +x crosses the vertical edges to its right."""
    e = vertical_edges(rings)
    xs = np.asarray(xs, dtype=np.float64)[:, None]
    ys = np.asarray(ys, dtype=np.float64)[:, None]
    hits = (e[None, :, 0] > xs) & (e[None, :, 1] < ys) & (ys < e[None, :, 2])
    return (hits.sum(axis=1) % 2) == 1


def slabs(rings):
    """Yield (y_low, y_high, [(x_low, x_high), ...]) in continuous
    coordinates: between consecutive vertex ys the interior is a fixed
    set of x-intervals, found by pairing the crossing edges in order."""
    e = vertical_edges(rings)
    ys = np.unique(e[:, 1:].ravel())
    for lo, hi in zip(ys[:-1], ys[1:]):
        xs = np.sort(e[(e[:, 1] <= lo) & (e[:, 2] >= hi), 0])
        yield lo, hi, list(zip(xs[0::2], xs[1::2]))


class GridTruth:
    """Exact count and per-item frequency over an ``n`` x ``n`` grid.

    Counts use a prefix sum over ``block`` x ``block`` block totals, so
    a polygon must cover whole blocks after clipping to the grid (the
    benchmark's placements sit on the 16-cell lattice; a polygon that
    does not raises). Frequencies test the item's own points."""

    def __init__(self, n: int, block: int = 1):
        if n % block:
            raise ValueError("block must divide n")
        self.n, self.block = n, block
        self.nb = n // block
        self.counts = np.zeros((self.nb, self.nb), dtype=np.int64)
        self.prefix = np.zeros((self.nb + 1, self.nb + 1), dtype=np.int64)
        self.points: dict[int, list] = {}
        self.total = 0

    def add(self, x, y, item, value) -> None:
        x, y, item, value = (np.asarray(a, dtype=np.int64)
                             for a in (x, y, item, value))
        np.add.at(self.counts, (x // self.block, y // self.block), value)
        self.prefix[1:, 1:] = self.counts.cumsum(0).cumsum(1)
        self.total += int(value.sum())
        order = np.argsort(item, kind="stable")
        keys, starts = np.unique(item[order], return_index=True)
        for k, s, e in zip(keys.tolist(), starts, np.append(starts[1:],
                                                            len(order))):
            idx = order[s:e]
            self.points.setdefault(k, []).append((x[idx], y[idx],
                                                  value[idx]))

    def _block_range(self, lo: float, hi: float):
        """Cells with centres strictly inside (lo, hi), clipped to the
        grid, as a half-open block range; None when empty."""
        a = max(0, math.ceil(lo))
        b = min(self.n - 1, math.floor(hi))
        if a > b:
            return None
        if a % self.block or (b + 1) % self.block:
            raise ValueError(f"cells {a}..{b} are not whole "
                             f"{self.block}-cell blocks")
        return a // self.block, (b + 1) // self.block

    def count(self, rings) -> int:
        p = self.prefix
        tot = 0
        for ylo, yhi, ivs in slabs(rings):
            yr = self._block_range(ylo, yhi)
            if yr is None:
                continue
            for xlo, xhi in ivs:
                xr = self._block_range(xlo, xhi)
                if xr is None:
                    continue
                (x0, x1), (y0, y1) = xr, yr
                tot += int(p[x1, y1] - p[x0, y1] - p[x1, y0] + p[x0, y0])
        return tot

    def freq(self, rings, item: int) -> int:
        tot = 0
        for x, y, v in self.points.get(int(item), []):
            tot += int(v[inside(rings, x, y)].sum())
        return tot


def check_batch(truth: GridTruth, batch, res) -> tuple[bool, list]:
    """Answers of a query batch (qid 2i = count, 2i+1 = freq of placement
    i) against the truth. Counts must be exact; CM frequencies may only
    overestimate. -> (ok, |est - truth| / N per frequency)."""
    ok, errs = res is not None, []
    for i, p in enumerate(batch if ok else ()):
        rings = [list(r) for r in p.rings]
        ok &= res.get(2 * i) == truth.count(rings)
        f_est, f_true = res.get(2 * i + 1, -1), truth.freq(rings, p.item)
        ok &= f_est >= f_true
        errs.append(abs(f_est - f_true) / truth.total)
    return bool(ok), errs


def knn_truth(ts, x, y, points, k: int) -> list[tuple]:
    """(qid, rank, ts, dist2) rows of the exact k nearest events, ties
    broken by ts."""
    rows = []
    for qid, qx, qy in points:
        d2 = (x - qx) ** 2 + (y - qy) ** 2
        order = np.lexsort((ts, d2))[:k]
        rows += [(qid, r + 1, int(ts[i]), int(d2[i]))
                 for r, i in enumerate(order)]
    return rows


def pip_truth(truth: GridTruth, polys) -> dict:
    """{shape_id: events inside} for the polygons that hold any, as
    ``pip_join`` grouped by shape reports them."""
    counts = (truth.count([list(r) for r in rings]) for _, rings in polys)
    return {i: n for i, n in enumerate(counts) if n}


def matches_duckdb(duck, name: str, got) -> bool:
    """Row-set equality with the gate operator's registered DuckDB oracle
    (``GATE_QUERIES[name][1]``), run over the same parquet."""
    import pandas as pd
    from spatialsketch_spark.gate import GATE_QUERIES
    want = duck.execute(GATE_QUERIES[name][1]()).df()

    def norm(pdf):
        pdf = pdf.sort_index(axis=1)
        for c in pdf.columns:
            if pd.api.types.is_float_dtype(pdf[c]):
                pdf[c] = pdf[c].round(9)
            elif pd.api.types.is_integer_dtype(pdf[c]):
                pdf[c] = pdf[c].astype("int64")
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError:
        return False
    return True
