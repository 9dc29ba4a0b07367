"""Timed calls into the engine, one function per layer.

Every call into an engine module goes through a span named after the
layer (see ``trace.Tracer``); the workloads and the traced-run probes in
``census`` share these functions, so a layer is timed the same way
wherever it runs.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

from . import inputs

MIN_LEVEL = 4           # finest live grid 256 x 256, as in the engine's gates
OP_TIMEOUT_S = 60.0     # watchdog: cancel a single operation's Spark jobs


class Watchdog:
    """Cancels every running Spark job if one operation outlives
    ``OP_TIMEOUT_S``; the cancelled call raises and counts as failed."""

    def __init__(self, sc):
        self.sc = sc

    def __enter__(self):
        self._t = threading.Timer(OP_TIMEOUT_S, self.sc.cancelAllJobs)
        self._t.daemon = True
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._t.cancel()
        return False


def cm_config():
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.geo.events import ITEM_DOMAIN
    return SketchConfig.realistic(n=inputs.N, eps=0.1, delta=0.05,
                                  item_domain=ITEM_DOMAIN)


def derive(ctx, sf_dir: str, copies):
    """geo.events: derive and cache the stream; -> (DataFrame, rows)."""
    with ctx.tracer.span("events.derive", group=True):
        ev = inputs.stream_df(ctx.spark, sf_dir, copies).cache()
        return ev, ev.count()


def build(ctx, ev, path: str | None = None, span: str = "build"):
    """geo.build: a CM store over ``ev``; persisted when ``path`` is set."""
    from spatialsketch_spark.geo.build import SketchStore
    with ctx.tracer.span(span, group=True):
        store = SketchStore.build(ctx.spark, ev, cm_config(), "cm",
                                  MIN_LEVEL, path=path)
    if span == "build":
        ctx.builds.append(store.manifest["metrics"])
    return store


def specs(ctx, batch):
    """core.partitioner: placements -> count + freq QuerySpecs."""
    from spatialsketch_spark.core.partitioner import Shape, shape_to_ranges
    from spatialsketch_spark.geo.query import QuerySpec
    out = []
    with ctx.tracer.span("partitioner"):
        for i, p in enumerate(batch):
            r = shape_to_ranges(Shape(rings=[list(ring) for ring in p.rings],
                                      grid_size=inputs.N))
            out.append(QuerySpec(2 * i, r, "count"))
            out.append(QuerySpec(2 * i + 1, r, "freq", item=p.item))
    ctx.count("partitioner.queries", len(out))
    ctx.count("partitioner.rects", sum(len(q.ranges) for q in out))
    return out


def query(ctx, store, batch, bulk: bool = False) -> dict:
    """geo.query: answer a batch of placements with ``query_values``;
    -> {qid: estimate}. Traced runs replay the batch's dyadic cover
    (``core.dyadic.cover_2d_np``, the call the engine makes inside
    ``query_values``) so its cost can be split out of the query span."""
    from spatialsketch_spark.geo.query import SpatialSketchEngine
    qs = specs(ctx, batch)
    with ctx.tracer.span("query.bulk" if bulk else "query", group=True):
        res = SpatialSketchEngine(store).query_values(qs)
    if ctx.tracer.enabled:
        from spatialsketch_spark.core.dyadic import cover_2d_np
        rects = [r for q in qs[::2] for r in q.ranges]   # one per placement
        with ctx.tracer.span("dyadic"):
            cells = len(cover_2d_np(rects, store.cfg.levels - 1,
                                    store.min_level)[0])
        ctx.count("dyadic.queries", len(qs))
        ctx.count("dyadic.cells", 2 * cells)
    return res


def merge(ctx, store, delta_df):
    """geo.build: merge a delta into a persisted store, then expire all
    but the two newest snapshots."""
    with ctx.tracer.span("merge", group=True):
        store = store.merge_events(delta_df)
    with ctx.tracer.span("merge.expire", group=True):
        store.expire_snapshots(keep_last=2)
    m = store.manifest
    seq = m["snapshot_seq"]
    ctx.merges.append({
        "cells": m["metrics"]["sketch_cells"],
        "delta_events": m["metrics"][f"merge_s{seq}_delta_events"],
        "bytes": dir_bytes(os.path.join(store.path, m["data_dir"])),
    })
    return store


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


JOIN_K = 5


def pip(ctx, ev, shapes) -> dict:
    """geo.joins: point-in-polygon join; -> {shape_id: rows}."""
    from pyspark.sql import functions as F
    from spatialsketch_spark.geo.joins import pip_join
    with ctx.tracer.span("joins.pip", group=True):
        rows = (pip_join(ev, shapes, "broadcast").groupBy("shape_id")
                .agg(F.count("*").alias("n")).collect())
    return {int(r["shape_id"]): int(r["n"]) for r in rows}


def knn(ctx, ev, points) -> list[tuple]:
    """geo.joins: exact kNN join; -> sorted (qid, rank, ts, dist2)."""
    from spatialsketch_spark.geo.joins import knn_join
    with ctx.tracer.span("joins.knn", group=True):
        rows = knn_join(ev, points, k=JOIN_K).collect()
    return sorted((int(r["qid"]), int(r["rank"]), int(r["ts"]),
                   int(r["dist2"])) for r in rows)


def gate_op(ctx, name: str, sf_dir: str, collect: bool):
    """pipeline.*: one registered gate operator; collected to pandas
    (cold run, compared with its oracle) or written to the noop sink."""
    from spatialsketch_spark.gate import GATE_QUERIES
    with ctx.tracer.span(f"ops.{name}", group=True):
        df = GATE_QUERIES[name][0](ctx.spark, sf_dir)
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
    return None


KERNEL_KINDS = ("cm", "fm", "bf", "ecm", "dcm", "elastic")


def kernel_probe(stream, n_events: int) -> dict:
    """core.kernels, on the driver: build one task-sized slice of the
    stream into per-cell states on the finest live grid, serialize them
    and run each kind's estimate call; -> per-kind per-layer metrics."""
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.core.kernels import make_kernel
    from spatialsketch_spark.geo.events import ITEM_DOMAIN
    ts, item, x, y, v = (a[:n_events] for a in stream)
    keys = (x >> MIN_LEVEL) * inputs.N + (y >> MIN_LEVEL)
    probe_item = int(item[0])
    out = {}
    for kind in KERNEL_KINDS:
        cfg = SketchConfig(n=inputs.N, eps=0.1, delta=0.05,
                           item_domain=ITEM_DOMAIN,
                           **({"dcm_exact_levels": 9} if kind == "dcm"
                              else {}))
        k = make_kernel(kind, cfg)
        t0 = time.perf_counter()
        if k.build_from_groups is not None:
            uc, inv = np.unique(keys, return_inverse=True)
            states = k.build_from_groups(uc, inv, item, v, ts,
                                         k.prep_batch(item, v, ts))
        else:
            uc, states = k.build_grouped(keys, item, v, ts)
        t1 = time.perf_counter()
        blobs = [k.serialize(s) for s in states]
        t2 = time.perf_counter()
        sample = [k.deserialize(b) for b in blobs[:500]]
        t3 = time.perf_counter()
        for st in sample:
            if kind == "fm":
                k.estimate(st)
            elif kind == "bf":
                k.member(st, probe_item)
            elif kind == "dcm":
                k.query_range(st, 0, probe_item)
            else:
                k.query_item(st, probe_item)
        t4 = time.perf_counter()
        p = f"kernels.{kind}."
        out[p + "build_us_per_event"] = (t1 - t0) / len(ts) * 1e6
        out[p + "serialize_us_per_cell"] = (t2 - t1) / len(uc) * 1e6
        out[p + "payload_bytes_per_cell"] = (
            sum(map(len, blobs)) / len(uc))
        out[p + "estimate_us_per_cell"] = (t4 - t3) / len(sample) * 1e6
    return out


def median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def lower_quartile(xs) -> float:
    """First quartile, interpolated between samples (never below the
    fastest); a single sample is its own quartile."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[0]
