"""Range-aggregate query path — the Spark re-expression of
``SpatialSketch::QueryRanges`` (SpatialSketch.cpp:837-855 dispatch and
the per-sketch query kernels C6-C10 in SURVEY.md §2).

Per query: polygon -> rectangles (driver, Partitioner) -> dyadic cover
rewritten against live grids (driver, effective_cover — replaces the
reference's dropped-grid recursion SpatialSketch.cpp:802-832) -> a tiny
cover DataFrame broadcast-joined against the sketch table ->
groupBy(qid).applyInPandas finisher (deserialize the <= O(log^2 N)
matched cells, merge, estimate). Catalyst sees: parquet scan with
grid_key IN (...) partition pruning -> BroadcastHashJoin -> one small
shuffle on qid.

Query kinds and their reference semantics:
  freq      sum over cells of trunc(coverage * min-row CM estimate)
            (QueryFrequency SpatialSketch.cpp:857-896; trunc-to-int per
            sub-query :766,781-792)
  range_freq same with an item range via per-cell dyadic-CM
            (DyadCountMin Query path)
  distinct  OR-merge FM bitmaps across cells, then estimate
            (QueryCountDistinct :947-994)
  member    BF probe per cell, any-positive (QueryMembership :1050-1089)
  l2        elementwise-add CM counters across cells, then min-row
            sum-of-squares (QueryRangesL2 :1142-1173)
  window    ECM HistSum per cell with t0, min over rows, coverage-scaled
            (ECM query path :1175-1221)

The ``exact`` kernel answers every kind exactly (collision-free mode) —
that is what the DuckDB oracle gate exercises.

Serving index (``query_values`` only): a store built by
``SketchStore.build`` / ``merge_events`` carries driver-side
summed-area tables over its finest live grid (``build.ServeIndex``) —
``val_sum`` on every store, plus per-(row, slot) Count-Min counters on
non-exact CM stores. ``query_values`` answers every 'count', and every
'freq' on such a CM store, from them in numpy with no Spark job: each
cover cell (same cover as the Spark path) is a 4-corner box sum, a CM
cell estimate is the min over rows of the box-summed counter at the
item's slot, and each cell contributes trunc(coverage * estimate), so
answers are bit-identical to the Spark path. Stores opened any other way
(``load``, ``rollback``, streaming ``as_store()``) build the index on
their first ``query_values``; reassigning ``store.df`` rebuilds it. A
store whose tables would pass ``SketchStore.SERVE_INDEX_BYTES``, whose
finest grid is dropped, or whose table holds per-cell partials (an
uncompacted streaming view) keeps the Spark path. The manifest records
the cold cost as ``metrics.serve_index_s`` / ``serve_index_bytes``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.dyadic import cover_2d_np, effective_cover
from ..core.kernels import int_group_sum, make_kernel
from ..core.partitioner import Shape, shape_to_ranges
from .build import ServeIndex, SketchStore

COVER_SCHEMA = "pid BIGINT, grid_key INT, cell BIGINT, coverage DOUBLE"
QMAP_SCHEMA = ("pid BIGINT, qid BIGINT, qkind STRING, item BIGINT, "
               "item_end BIGINT, t0 BIGINT")
RESULT_SCHEMA = "qid BIGINT, est BIGINT"


# qkind -> the kernels that answer it (None: any kernel — 'count' reads
# the val_sum column). query(), query_values() and the serving index
# all validate against this one table.
QKIND_KERNELS = {
    "count": None,
    "freq": {"exact", "cm", "ecm", "elastic"},
    "range_freq": {"exact", "dcm"},
    "window": {"exact", "ecm"},
    "window_merge": {"exact", "ecm"},
    "distinct": {"exact", "fm"},
    "member": {"exact", "bf"},
    "l2": {"exact", "cm"},
}
# summed over cells (coverage-scaled); the rest merge cell states first
ADDITIVE_QKINDS = ("count", "freq", "range_freq", "window")


def _check_cm_specs(items, item_ends, t0s) -> None:
    """CMKernel.query_item's guards over a batch: a malformed QuerySpec
    fails loudly on every batch surface, not just the scalar one
    (item_end == item is a degenerate point freq, accepted)."""
    if ((item_ends >= 0) & (item_ends != items)).any():
        raise ValueError("CM answers point frequencies only; item "
                         "ranges need a 'dcm' (or exact-mode) store")
    if (t0s > 0).any():
        raise ValueError("CM has no time dimension; window queries "
                         "need an 'ecm' (or exact-mode) store")


@dataclass
class QuerySpec:
    qid: int
    ranges: list          # [(x1, y1, x2, y2)] inclusive integer cell ranges
    qkind: str = "freq"   # freq | range_freq | distinct | member | l2 | window
    item: int = -1
    item_end: int = -1
    t0: int = -1

    @staticmethod
    def from_shape(qid: int, shape: Shape, qkind: str = "freq",
                   item: int = -1, item_end: int = -1, t0: int = -1,
                   x_off: int = 0, y_off: int = 0) -> "QuerySpec":
        return QuerySpec(qid, shape_to_ranges(shape, x_off, y_off),
                         qkind, item, item_end, t0)


def _estimate_one(kernel, pdf: pd.DataFrame) -> int:
    """Estimate for ONE query's matched cover cells."""
    qkind = pdf["qkind"].iloc[0]
    item = int(pdf["item"].iloc[0])
    item_end = int(pdf["item_end"].iloc[0])
    t0 = int(pdf["t0"].iloc[0])
    states = [kernel.deserialize(b) for b in pdf["payload"]]
    covs = pdf["coverage"].to_numpy()
    if qkind == "count":
        # region total (no item predicate) — exact from any kernel
        # exposing query_total (reference 'Count' synopsis, Table 3a)
        est = 0
        for st, cov in zip(states, covs):
            est += int(cov * kernel.query_total(st))
    elif qkind in ("freq", "window"):
        tt = t0 if (qkind == "window" and t0 >= 0) else None
        ie = item_end if item_end >= 0 else None
        est = 0
        for st, cov in zip(states, covs):
            e = kernel.query_item(st, item, ie, tt)
            est += int(cov * e)           # trunc per sub-query (:766)
    elif qkind == "range_freq":
        est = 0
        for st, cov in zip(states, covs):
            if kernel.kind == "dcm":
                e = kernel.query_range(st, item, item_end)
            else:
                e = kernel.query_item(st, item, item_end)
            est += int(cov * e)
    elif qkind == "distinct":
        if kernel.kind == "exact":
            allitems = np.unique(np.concatenate(
                [kernel.distinct_items(st) for st in states]))
            est = int(len(allitems))
        else:                              # FM: OR-merge then estimate
            est = int(round(kernel.estimate(kernel.merge(states))))
    elif qkind == "member":
        hit = any(kernel.member(st, item) for st in states)
        est = 1 if hit else 0
    elif qkind == "window_merge":
        # reference ECM_merge mode (SpatialSketch.cpp:1175-1221):
        # merge the cover cells' histograms first (MergeECM arrival
        # reconstruction), then one HistSum min-over-rows
        merged = states[0] if len(states) == 1 else kernel.merge(states)
        est = kernel.query_item(merged, item,
                                item_end if item_end >= 0 else None,
                                t0 if t0 >= 0 else None)
    elif qkind == "l2":
        if kernel.kind == "exact":
            parts = [kernel.query_l2_counts(st) for st in states]
            allit = np.concatenate([p["items"] for p in parts])
            allct = np.concatenate([p["counts"] for p in parts])
            uc, inv = np.unique(allit, return_inverse=True)
            cnt = int_group_sum(inv, allct, len(uc))
            est = int((cnt ** 2).sum())
        else:                              # CM: merge counters, L2 min-row
            est = int(kernel.l2_estimate(kernel.merge(states)))
    else:
        raise ValueError(f"unknown qkind {qkind!r}")
    return int(est)


def _additive_batch_ests(kernel, pdf: pd.DataFrame) -> np.ndarray:
    """Per-matched-row estimates for one Arrow batch, vectorized per
    kernel kind (the per-row pickle.loads + Python dispatch loop this
    replaces was the dominant query-side cost at large batch sizes)."""
    items = pdf["item"].to_numpy(np.int64)
    iends = pdf["item_end"].to_numpy(np.int64)
    t0s = pdf["t0"].to_numpy(np.int64)
    payloads = pdf["payload"]
    n = len(pdf)
    if kernel.kind == "cm":
        _check_cm_specs(items, iends, t0s)
        counters = kernel.deserialize_batch(payloads)
        return kernel.query_items_batch(counters, items)
    if kernel.kind == "exact":
        # one concatenated pass: row-id-tagged masks answer freq /
        # range_freq / window together (exact state = event arrays)
        states = [kernel.deserialize(b) for b in payloads]
        lens = np.fromiter((len(s["items"]) for s in states),
                           dtype=np.int64, count=n)
        if int(lens.sum()) == 0:
            return np.zeros(n, dtype=np.int64)
        row = np.repeat(np.arange(n), lens)
        allit = np.concatenate([s["items"] for s in states])
        allva = np.concatenate([s["values"] for s in states])
        allts = np.concatenate([s["ts"] for s in states])
        lo = items[row]
        hi = np.where(iends >= 0, iends, items)[row]
        m = (allit >= lo) & (allit <= hi)
        qk = pdf["qkind"].to_numpy()
        twin = np.where((qk == "window") & (t0s >= 0), t0s,
                        np.iinfo(np.int64).min)[row]
        m &= allts >= twin
        return int_group_sum(row[m], allva[m], n)
    # dcm / ecm: per-row (bounded: dyadic item covers / EH folds)
    out = np.empty(n, dtype=np.int64)
    qkinds = pdf["qkind"].to_numpy()
    for i in range(n):
        st = kernel.deserialize(payloads.iloc[i])
        item, ie, tt = int(items[i]), int(iends[i]), int(t0s[i])
        if qkinds[i] == "range_freq" and kernel.kind == "dcm":
            out[i] = kernel.query_range(st, item, ie)
        else:
            out[i] = kernel.query_item(st, item,
                                       ie if ie >= 0 else None,
                                       tt if tt >= 0 else None)
    return out


def _additive_estimator(cfg, kind: str, with_counts: bool = False):
    """Pre-shuffle partial sums for additive query kinds: compute
    trunc(coverage * per-cell estimate) for every matched row in place,
    emit one (qid, partial_sum) row per qid per partition. The payload
    column never crosses a shuffle.

    With ``with_counts`` the same pass also answers 'count' rows from
    their val_sum column (their payload arrives NULLed, so no blob ever
    crosses Arrow for them) — mixed batches then need ONE consumer job
    instead of a JVM-count + additive pair (~30% faster per batch,
    interleaved A/B)."""

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        sums: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            if with_counts:
                is_cnt = (pdf["qkind"] == "count").to_numpy()
                ests = np.zeros(len(pdf), dtype=np.int64)
                if (~is_cnt).any():
                    ests[~is_cnt] = _additive_batch_ests(
                        kernel, pdf[~is_cnt])
                if is_cnt.any():
                    ests[is_cnt] = pdf["val_sum"].to_numpy(
                        np.int64)[is_cnt]
            else:
                ests = _additive_batch_ests(kernel, pdf)
            qids = pdf["qid"].to_numpy(np.int64)
            covs = pdf["coverage"].to_numpy(np.float64)
            # trunc per sub-query, exactly as the reference (:766) —
            # values are non-negative so floor == trunc
            contrib = np.floor(covs * ests).astype(np.int64)
            uq, inv = np.unique(qids, return_inverse=True)
            part = int_group_sum(inv, contrib, len(uq))
            for q, v in zip(uq.tolist(), part.tolist()):
                sums[q] = sums.get(q, 0) + v
        if sums:
            yield pd.DataFrame({
                "qid": pd.array(list(sums.keys()), dtype="int64"),
                "est": pd.array(list(sums.values()), dtype="int64"),
            })

    return fn


def _pid_additive_estimator(cfg, kind: str, qmeta: dict):
    """Placement-granular additive partials: input rows carry (pid,
    coverage, val_sum, payload) ONCE per matched cell per distinct
    rect-set; the per-query metadata lives in the task closure
    (``qmeta``: pid -> (qids, qkinds, items, item_ends, t0s) numpy
    arrays — a few KB for any realistic batch) and the expansion to
    per-(query, cell) contributions happens in numpy AFTER the Arrow
    transfer. Vs the per-qid flow this halves (or better) the Arrow
    payload bytes for paired count+freq workloads and removes the
    qmap broadcast exchange from the plan entirely.

    CM fast path probes the (B, d, w) counter stack through an
    expansion index (payloads deserialized once per CELL, not per
    query); other kernels synthesize the expanded pdf and reuse
    ``_additive_batch_ests``. Emits one (qid, partial) row set per
    partition, same contract as ``_additive_estimator``."""
    # flatten the per-pid query lists ONCE on the driver; the closure
    # captures plain numpy arrays (KBs), not python object graphs
    offsets: dict[int, int] = {}
    nq_of: dict[int, int] = {}
    qids_l, qkinds_l, items_l, iends_l, t0s_l = [], [], [], [], []
    for pid, (qids, qkinds, items, iends, t0s) in qmeta.items():
        offsets[pid] = len(qids_l)
        nq_of[pid] = len(qids)
        qids_l.extend(qids)
        qkinds_l.extend(qkinds)
        items_l.extend(items)
        iends_l.extend(iends)
        t0s_l.extend(t0s)
    f_qids = np.asarray(qids_l, dtype=np.int64)
    f_qkinds = np.asarray(qkinds_l, dtype=object)
    f_items = np.asarray(items_l, dtype=np.int64)
    f_iends = np.asarray(iends_l, dtype=np.int64)
    f_t0s = np.asarray(t0s_l, dtype=np.int64)
    f_is_cnt = f_qkinds == "count"

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        sums: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf["pid"].to_numpy(np.int64)
            covs = pdf["coverage"].to_numpy(np.float64)
            # expansion: rows of one pid x that pid's queries
            order = np.argsort(pids, kind="stable")
            ps = pids[order]
            upids, starts = np.unique(ps, return_index=True)
            bounds = np.append(starts, len(ps))
            row_parts, qi_parts = [], []
            for ui, pid in enumerate(upids.tolist()):
                rows = order[bounds[ui]:bounds[ui + 1]]
                nq = nq_of[pid]
                row_parts.append(np.repeat(rows, nq))
                qi_parts.append(np.tile(
                    np.arange(offsets[pid], offsets[pid] + nq),
                    len(rows)))
            row_idx = np.concatenate(row_parts)
            qpos = np.concatenate(qi_parts)
            g_qids = f_qids[qpos]
            g_is_cnt = f_is_cnt[qpos]
            ests = np.zeros(len(row_idx), dtype=np.int64)
            if g_is_cnt.any():
                vs = pdf["val_sum"].to_numpy(np.int64)
                ests[g_is_cnt] = vs[row_idx[g_is_cnt]]
            ncnt = ~g_is_cnt
            if ncnt.any():
                if kernel.kind == "cm":
                    _check_cm_specs(f_items[qpos[ncnt]],
                                    f_iends[qpos[ncnt]], f_t0s[qpos[ncnt]])
                    # deserialize each referenced cell ONCE (count-only
                    # placements carry NULL payloads and are never
                    # referenced here)
                    ri = row_idx[ncnt]
                    uniq_rows, ri_compact = np.unique(
                        ri, return_inverse=True)
                    counters = kernel.deserialize_batch(
                        pdf["payload"].iloc[uniq_rows]
                        .reset_index(drop=True))
                    h = kernel.hash(f_items[qpos[ncnt]])      # (d, E)
                    ests[ncnt] = counters[
                        ri_compact[:, None],
                        np.arange(kernel.d)[None, :],
                        h.T].min(axis=1)
                else:
                    sub = pd.DataFrame({
                        "payload": pdf["payload"].iloc[
                            row_idx[ncnt]].reset_index(drop=True),
                        "item": f_items[qpos[ncnt]],
                        "item_end": f_iends[qpos[ncnt]],
                        "t0": f_t0s[qpos[ncnt]],
                        "qkind": f_qkinds[qpos[ncnt]],
                    })
                    ests[ncnt] = _additive_batch_ests(kernel, sub)
            contrib = np.floor(covs[row_idx] * ests).astype(np.int64)
            uq, inv = np.unique(g_qids, return_inverse=True)
            part = int_group_sum(inv, contrib, len(uq))
            for q, v in zip(uq.tolist(), part.tolist()):
                sums[q] = sums.get(q, 0) + v
        if sums:
            yield pd.DataFrame({
                "qid": pd.array(list(sums.keys()), dtype="int64"),
                "est": pd.array(list(sums.values()), dtype="int64"),
            })

    return fn


def _finisher(cfg, kind: str):
    """Partition-level finisher: after repartition(qid), all of a
    query's matched cells share a partition; one Python/Arrow round
    answers every query in the partition (no per-group pandas tax)."""

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        allpdf = pd.concat(chunks, ignore_index=True)
        # merge-kind semantics ignore coverage (states are merged, not
        # scaled), so two disjoint rects of one query hitting the same
        # floor-level cell must contribute that cell's state ONCE —
        # without this dedup the duplicated counters inflate l2 /
        # window_merge results for unaligned multi-rect regions.
        allpdf = allpdf.drop_duplicates(subset=["qid", "grid_key", "cell"])
        out_qid, out_est = [], []
        for qid, grp in allpdf.groupby("qid", sort=False):
            out_qid.append(int(qid))
            out_est.append(_estimate_one(kernel, grp))
        yield pd.DataFrame({"qid": pd.array(out_qid, dtype="int64"),
                            "est": pd.array(out_est, dtype="int64")})

    return fn


class SpatialSketchEngine:
    """One sketch store + its query surface."""

    def __init__(self, store: SketchStore):
        self.store = store

    def cover_rows(self, queries: list[QuerySpec]) -> list[tuple]:
        cfg = self.store.cfg
        log_n = cfg.levels - 1
        rows = []
        for q in queries:
            for (x1, y1, x2, y2) in q.ranges:
                for kx, ky, cx, cy, cov in effective_cover(
                        x1, y1, x2, y2, log_n, cfg.dropped_grids,
                        floor_k=self.store.min_level):
                    rows.append((q.qid, cfg.grid_key(kx, ky),
                                 cx * cfg.n + cy, float(cov),
                                 q.qkind, q.item, q.item_end, q.t0))
        return rows

    # up to this many rects the cover is expanded on the DRIVER (the
    # reference's query planning is driver-side too): the batched numpy
    # expansion costs ~30 us/rect, far below the fixed cost of the
    # distributed expansion job it replaces (~1 s at any size)
    DRIVER_COVER_RECTS = 8192

    def _cover_np(self, pid_ranges: list):
        """Driver-side cover of ``[(pid, ranges)]`` -> (pid, kx, ky, cx,
        cy, coverage) arrays, grouped by pid in input order: numpy
        cross-product covers when no grids are dropped, the
        effective_cover rewrite otherwise."""
        cfg = self.store.cfg
        log_n, floor_k = cfg.levels - 1, self.store.min_level
        if not cfg.dropped_grids:
            rects = [r for _, rs in pid_ranges for r in rs]
            pids = np.fromiter((pid for pid, rs in pid_ranges for _ in rs),
                               np.int64, len(rects))
            ridx, kx, ky, cx, cy, cov = cover_2d_np(rects, log_n, floor_k)
            return pids[ridx], kx, ky, cx, cy, cov
        rows = [(pid,) + e for pid, rs in pid_ranges
                for (x1, y1, x2, y2) in rs
                for e in effective_cover(x1, y1, x2, y2, log_n,
                                         cfg.dropped_grids, floor_k)]
        cols = list(zip(*rows)) or [()] * 6
        return (*(np.asarray(c, np.int64) for c in cols[:5]),
                np.asarray(cols[5], np.float64))

    def _cover_df(self, pid_ranges: list):
        """pid-keyed cover DataFrame over ``[(pid, ranges)]`` — NO
        per-query metadata: queries sharing a rect-set (e.g. a count
        and a freq probe of the same placement) expand and broadcast
        their cover ONCE; qid/qkind/item/t0 ride the tiny broadcast
        qid-map that ``_matched`` joins on pid afterwards. Small/medium
        batches: computed on the driver (``_cover_np``). Very large
        batches: the per-query bit arithmetic is fanned out via
        mapInPandas so cover *throughput* scales with executors, not
        driver cores."""
        spark = self.store.spark
        cfg = self.store.cfg
        n_rects = sum(len(rs) for _, rs in pid_ranges)
        if n_rects <= self.DRIVER_COVER_RECTS:
            pid, kx, ky, cx, cy, cov = self._cover_np(pid_ranges)
            # pyarrow Table, straight from the numpy arrays: skips
            # the pandas block consolidation AND the row-based py4j
            # conversion — measured ~2x faster plan assembly than
            # createDataFrame(pandas) at cover sizes (the dominant
            # fresh-batch floor component, PLANS.md)
            import pyarrow as pa
            tbl = pa.table({
                "pid": pid,
                "grid_key": (kx + ky * cfg.levels).astype(np.int32),
                "cell": (cx * cfg.n + cy).astype(np.int64),
                "coverage": cov.astype(np.float64),
            })
            return spark.createDataFrame(tbl, schema=COVER_SCHEMA)
        # distributed: ship (pid, rect) rows, expand per partition
        rect_rows = [(pid, x1, y1, x2, y2)
                     for pid, rs in pid_ranges
                     for (x1, y1, x2, y2) in rs]
        spec_pdf = pd.DataFrame(rect_rows,
                                columns=["pid", "x1", "y1", "x2", "y2"])
        spec = spark.createDataFrame(
            spec_pdf, schema="pid BIGINT, x1 BIGINT, y1 BIGINT, "
                             "x2 BIGINT, y2 BIGINT")
        log_n = cfg.levels - 1
        dropped = cfg.dropped_grids
        floor_k = self.store.min_level
        n = cfg.n
        levels = cfg.levels

        def expand(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                if not dropped:
                    # fast path: batched numpy cross-product covers
                    rects = zip(pdf["x1"].to_numpy(), pdf["y1"].to_numpy(),
                                pdf["x2"].to_numpy(), pdf["y2"].to_numpy())
                    ridx, kx, ky, cx, cy, cov = cover_2d_np(
                        rects, log_n, floor_k)
                    yield pd.DataFrame({
                        "pid": pdf["pid"].to_numpy()[ridx],
                        "grid_key": (kx + ky * levels).astype("int32"),
                        "cell": cx * n + cy,
                        "coverage": cov,
                    })
                    continue
                out = {k: [] for k in ["pid", "grid_key", "cell",
                                       "coverage"]}
                for r in pdf.itertuples(index=False):
                    for kx, ky, cx, cy, cov in effective_cover(
                            r.x1, r.y1, r.x2, r.y2, log_n, dropped, floor_k):
                        out["pid"].append(r.pid)
                        out["grid_key"].append(kx + ky * levels)
                        out["cell"].append(cx * n + cy)
                        out["coverage"].append(float(cov))
                yield pd.DataFrame(out)

        nparts = min(len(rect_rows),
                     int(spark.conf.get("spark.sql.shuffle.partitions")))
        return spec.repartition(nparts).mapInPandas(expand,
                                                    schema=COVER_SCHEMA)

    def _query_grids(self, q: QuerySpec):
        cfg = self.store.cfg
        for (x1, y1, x2, y2) in q.ranges:
            yield from effective_cover(x1, y1, x2, y2, cfg.levels - 1,
                                       cfg.dropped_grids,
                                       floor_k=self.store.min_level)

    def _estimate_cover_rows(self, pid_ranges: list) -> int:
        """Driver-side cover-size estimate from a <=64-entry sample
        (each rect-set's cover is O(log^2 N) cells — expanding a sample
        costs microseconds and avoids a counting job)."""
        cfg = self.store.cfg
        step = max(1, len(pid_ranges) // 64)
        sample = pid_ranges[::step][:64]
        cells = sum(1 for _, rs in sample for (x1, y1, x2, y2) in rs
                    for _ in effective_cover(x1, y1, x2, y2,
                                             cfg.levels - 1,
                                             cfg.dropped_grids,
                                             floor_k=self.store.min_level))
        return int(cells / max(1, len(sample)) * len(pid_ranges))

    # broadcast the cover relation up to this many rows (~60 B/row ->
    # ~200 MB broadcast ceiling); beyond it, shuffle-join against the
    # bucketed sketch cache instead
    BROADCAST_COVER_ROWS = 3_000_000

    # scan-side task sizing for the broadcast-probe path: the store is
    # cached/written with the BUILD's parallelism (one partition per
    # shuffle slot), but a probe batch touches O(queries · log²N) cells
    # — scanning a sandbox-scale store with 32 near-empty tasks pays
    # pure scheduling + Arrow-worker overhead (~25% of the 600-query
    # batch floor, measured). Bound the scan to ~32k cells/task via
    # coalesce, which NEVER increases partitioning: at 100 TB the store
    # has far more cells per partition than this and the coalesce is a
    # no-op, while a laptop-scale store drops to a handful of tasks.
    CELLS_PER_SCAN_TASK = 32_768

    def _scan_tasks(self):
        cells = (self.store.manifest or {}).get(
            "metrics", {}).get("sketch_cells")
        if not cells:
            return None
        return max(1, -(-int(cells) // self.CELLS_PER_SCAN_TASK))

    @staticmethod
    def _placements(queries: list[QuerySpec]):
        """Dedup identical rect-sets: -> ([(pid, ranges)], pid per
        query), so a count and a freq on one placement expand ONE
        cover."""
        groups: dict[tuple, int] = {}
        pid_ranges: list = []
        pid_of = []
        for q in queries:
            pid = groups.setdefault(tuple(map(tuple, q.ranges)),
                                    len(pid_ranges))
            if pid == len(pid_ranges):
                pid_ranges.append((pid, q.ranges))
            pid_of.append(pid)
        return pid_ranges, pid_of

    def _matched_pids(self, queries: list[QuerySpec]):
        """Payload-bearing matched rows at PLACEMENT granularity:
        dedup identical rect-sets (e.g. the count and the freq probe
        of one placement, or repeated canned regions) so the cover is
        expanded and broadcast once per DISTINCT rect-set, join the
        sketch table, and return (matched_df(pid, coverage, sketch
        cols), qmap_rows) — per-query metadata attachment is the
        caller's choice (broadcast join for the DataFrame path, a
        python-side expansion for query_values)."""
        pid_ranges, pid_of = self._placements(queries)
        qmap_rows = [(pid, q.qid, q.qkind, q.item, q.item_end, q.t0)
                     for pid, q in zip(pid_of, queries)]
        cover = self._cover_df(pid_ranges)
        if len(queries) < 64:
            # precise grid_key pruning list, driver-computed
            needed = sorted({self.store.cfg.grid_key(kx, ky)
                             for q in queries
                             for kx, ky, _, _, _ in self._query_grids(q)})
        else:
            # medium/large batches touch essentially every live grid;
            # recomputing per-query covers just to prune is pure waste
            from .build import live_grids
            needed = sorted(self.store.cfg.grid_key(kx, ky) for kx, ky in
                            live_grids(self.store.cfg, self.store.min_level))
        # broadcast strictly by estimated cover SIZE — how the cover was
        # built (driver vs distributed) must not bypass the ~200 MB
        # broadcast ceiling (8192 full-span rects can expand past 4M rows)
        if self._estimate_cover_rows(pid_ranges) <= self.BROADCAST_COVER_ROWS:
            # broadcast the cover -> zero shuffle on the sketch side;
            # the broadcast exchange is canonically identical across the
            # per-qkind consumer branches, so ReuseExchange materializes
            # the cover ONCE per batch.
            pruned = self.store.df.where(F.col("grid_key").isin(needed))
            nt = self._scan_tasks()
            if nt is not None:
                pruned = pruned.coalesce(nt)
            m = pruned.join(F.broadcast(cover), ["grid_key", "cell"])
        else:
            # cover too large to broadcast -> shuffle join against the
            # BUCKETED sketch cache: its (grid_key, cell) hash
            # partitioning is reused by the join, so only the cover side
            # shuffles — the payload blobs stay put (at cluster scale:
            # a bucketed table).
            pruned = self.store.bucketed_df().where(
                F.col("grid_key").isin(needed))
            m = pruned.join(cover, ["grid_key", "cell"])
        return m, qmap_rows

    def _matched(self, queries: list[QuerySpec]):
        # per-query metadata rides a tiny broadcast qid-map joined on
        # pid after the sketch join, so the payload-bearing join
        # probes half (or less) the hash table a per-qid cover would
        # need
        spark = self.store.spark
        m, qmap_rows = self._matched_pids(queries)
        qmap = spark.createDataFrame(qmap_rows, schema=QMAP_SCHEMA)
        return m.join(F.broadcast(qmap), "pid").drop("pid")

    def _check_kinds(self, queries: list[QuerySpec]) -> None:
        kind = "exact" if self.store.cfg.exact else self.store.kind
        for q in queries:
            if q.qkind not in QKIND_KERNELS:
                raise ValueError(f"unknown query kind {q.qkind!r}")
            allowed = QKIND_KERNELS[q.qkind]
            if allowed is not None and kind not in allowed:
                raise ValueError(
                    f"query kind {q.qkind!r} is not answerable by a "
                    f"{self.store.kind!r} store (needs one of "
                    f"{sorted(allowed)})")

    def query(self, queries: list[QuerySpec]) -> DataFrame:
        """-> DataFrame(qid, est); missing-cell-safe (untouched cells
        contribute 0, the analogue of lazily-unallocated sketches).

        Three physical strategies by query class:
        - 'count': pure JVM — SUM(trunc(coverage * val_sum)) per qid;
          no payload ever leaves the sketch table scan (codegen'd).
        - additive kinds (freq / range_freq / window): the per-cell
          estimate is computed WHERE the join output lives (mapInPandas,
          pre-shuffle partial sums); only (qid, partial) scalars shuffle.
          Sum-over-cells is associative, trunc applied per cell exactly
          as the reference does (SpatialSketch.cpp:766).
        - merge kinds (distinct / member / l2 / window_merge): cell
          states must be merged before estimating — payloads shuffle by
          qid, but these queries match only O(log^2 N) cells each.
          Fractional coverage is intentionally IGNORED for merge kinds
          (a merged bitmap/filter/counter set has no meaningful scalar
          scaling); duplicate (qid, cell) matches are deduped before
          the merge.

        Each qkind is validated against the store's kernel up front —
        dispatching e.g. a range_freq at a plain-CM store would
        otherwise silently return point-frequency estimates.
        """
        self._check_kinds(queries)
        spark = self.store.spark
        counts = [q for q in queries if q.qkind == "count"]
        additive = [q for q in queries
                    if q.qkind in ADDITIVE_QKINDS and q.qkind != "count"]
        mergeful = [q for q in queries if q.qkind not in ADDITIVE_QKINDS]
        # ONE cover + ONE sketch join for the whole batch; the per-class
        # consumers below filter on qkind. Their shared subtree (cover
        # expansion + broadcast + join) is canonically identical, so
        # ReuseExchange materializes it once per batch.
        m_all = self._matched(queries)
        parts = []
        if counts and not additive:
            # count-only batch: pure JVM, payload never read
            m = m_all.where(F.col("qkind") == "count")
            parts.append(
                m.groupBy("qid").agg(
                    F.sum(F.floor(F.col("coverage") * F.col("val_sum")))
                    .cast("bigint").alias("est")))
        elif additive:
            # one consumer for additive rows — and, in MIXED batches,
            # for count rows too: they are answered from val_sum inside
            # the same mapInPandas with their payload NULLed before the
            # Arrow transfer (no blob crosses for them), saving a whole
            # consumer job per batch vs separate branches
            with_counts = bool(counts)
            kinds = ["freq", "range_freq", "window"] + (
                ["count"] if with_counts else [])
            m = m_all.where(F.col("qkind").isin(kinds)).select(
                "qid", "coverage", "qkind", "item", "item_end", "t0",
                "val_sum",
                F.when(F.col("qkind") == "count", F.lit(None))
                .otherwise(F.col("payload")).alias("payload"))
            partial = m.mapInPandas(
                _additive_estimator(self.store.cfg, self.store.kind,
                                    with_counts=with_counts),
                schema=RESULT_SCHEMA)
            parts.append(partial.groupBy("qid").agg(
                F.sum("est").cast("bigint").alias("est")))
        if mergeful:
            m = m_all.where(F.col("qkind").isin(
                "distinct", "member", "l2", "window_merge"))
            n_parts = min(max(1, len(mergeful)),
                          int(spark.conf.get("spark.sql.shuffle.partitions")))
            parts.append(m.repartition(n_parts, "qid").mapInPandas(
                _finisher(self.store.cfg, self.store.kind),
                schema=RESULT_SCHEMA))
        all_qids = spark.createDataFrame(
            [(q.qid,) for q in queries], schema="qid BIGINT")
        res = parts[0]
        for p in parts[1:]:
            res = res.unionByName(p)
        # the aggregated result is <= |queries| rows — broadcast it so
        # the missing-qid fill join never plans an SMJ (two exchanges +
        # sorts for a few hundred rows; AQE usually rescues this at
        # runtime, but the hint makes it the planned shape)
        return (all_qids.join(F.broadcast(res), "qid", "left")
                .select("qid", F.coalesce("est", F.lit(0)).alias("est")))

    def query_values(self, queries: list[QuerySpec]) -> dict:
        """Low-latency batch answers -> {qid: est}; same answers as
        ``query()`` (asserted equal in tests/test_plans.py).

        Three routes, by (store, qkind):
        - the store's serving index (``SketchStore.serve_index``), when
          it has one: every 'count', and every 'freq' on a non-exact CM
          store, answered in numpy on the DRIVER — no Spark job;
        - other additive kinds (freq / range_freq / window): the
          per-partition additive partials — at most |queries| x
          #partitions tiny (qid, est) rows — are collected and folded
          on the driver instead of flowing through a groupBy shuffle
          plus a qid-fill broadcast join. No payload or per-cell row is
          ever collected;
        - merge kinds (distinct/member/l2/window_merge) need their
          cross-cell shuffle regardless and fall through to
          ``query()``, the DataFrame surface for SQL-integrated
          consumers (the driver gate included)."""
        self._check_kinds(queries)
        indexed = ({"count", "freq"} if ServeIndex.has_cm(
            self.store.cfg, self.store.kind) else {"count"})
        idx = None
        if any(q.qkind in indexed for q in queries):
            idx = self.store.serve_index()
        served, additive, rest = [], [], []
        for q in queries:
            if idx is not None and q.qkind in indexed:
                served.append(q)
            elif q.qkind in ADDITIVE_QKINDS:
                additive.append(q)
            else:
                rest.append(q)
        out: dict[int, int] = {}
        if rest:
            for r in self.query(rest).collect():
                out[int(r["qid"])] = int(r["est"])
        if served:
            for q, v in zip(served, self._index_values(idx, served)):
                out[q.qid] = out.get(q.qid, 0) + v
        if additive:
            for qid, v in self._spark_values(additive).items():
                out[qid] = out.get(qid, 0) + v
        return out

    def _index_values(self, idx, queries: list[QuerySpec]) -> list[int]:
        """Answers from the serving index, in query order. Each cover
        cell contributes trunc(coverage * estimate) exactly as the
        Spark estimators do (reference :766), so answers are
        bit-identical; placements are deduped so a count and a freq on
        one rect-set expand one cover."""
        pid_ranges, pid_of = self._placements(queries)
        pid, kx, ky, cx, cy, cov = self._cover_np(pid_ranges)
        # pid-contiguous cover: placement p owns cells [lo[p], lo[p+1])
        lo = np.searchsorted(pid, np.arange(len(pid_ranges) + 1))
        pid_of = np.asarray(pid_of, np.int64)
        is_cnt = np.array([q.qkind == "count" for q in queries], bool)
        ests = np.zeros(len(queries), np.int64)
        if is_cnt.any():
            per_cell = np.floor(cov * idx.counts(kx, ky, cx, cy))
            ests[is_cnt] = int_group_sum(
                pid, per_cell, len(pid_ranges))[pid_of[is_cnt]]
        fq = np.flatnonzero(~is_cnt)
        if len(fq):
            items = np.array([queries[i].item for i in fq], np.int64)
            _check_cm_specs(
                items, np.array([queries[i].item_end for i in fq], np.int64),
                np.array([queries[i].t0 for i in fq], np.int64))
            # expand (freq query, cover cell of its placement) pairs
            a, b = lo[pid_of[fq]], lo[pid_of[fq] + 1]
            n = b - a
            qj = np.repeat(np.arange(len(fq)), n)
            e = np.repeat(a - np.cumsum(n) + n, n) + np.arange(int(n.sum()))
            slots = make_kernel("cm", self.store.cfg).hash(items).T[qj]
            per_pair = np.floor(cov[e] * idx.freqs(kx[e], ky[e], cx[e],
                                                   cy[e], slots))
            ests[fq] = int_group_sum(qj, per_pair, len(fq))
        return ests.tolist()

    def _spark_values(self, additive: list[QuerySpec]) -> dict:
        """Additive kinds through the Spark estimator, folded on the
        driver."""
        # placement-granular matched rows: payloads cross Arrow once
        # per (distinct rect-set, cell); per-query metadata travels in
        # the estimator closure, so the qmap broadcast exchange
        # disappears from the plan and paired count+freq workloads
        # halve their Arrow bytes
        m, qmap_rows = self._matched_pids(additive)
        qmeta: dict = {}
        for pid, qid, qkind, item, item_end, t0 in qmap_rows:
            e = qmeta.setdefault(pid, ([], [], [], [], []))
            e[0].append(qid)
            e[1].append(qkind)
            e[2].append(item)
            e[3].append(item_end)
            e[4].append(t0)
        pure_count_pids = [pid for pid, e in qmeta.items()
                           if all(k == "count" for k in e[1])]
        if pure_count_pids:
            # count-only placements never read the blob
            payload_col = (F.when(F.col("pid").isin(pure_count_pids),
                                  F.lit(None))
                           .otherwise(F.col("payload")))
        else:
            payload_col = F.col("payload")
        sel = m.select("pid", "coverage", "val_sum",
                       payload_col.alias("payload"))
        partial = sel.mapInPandas(
            _pid_additive_estimator(self.store.cfg, self.store.kind,
                                    qmeta),
            schema=RESULT_SCHEMA)
        out = {q.qid: 0 for q in additive}
        for r in partial.collect():
            out[int(r["qid"])] += int(r["est"])
        return out
