"""Traced runs only: probe the layers the workload's own loop never calls.

The result line of a traced run holds every per-layer metric, on every
workload. A workload whose loop does not reach a layer (``serve`` never
merges, ``ops`` never builds a sketch) makes one small, checked call into
that layer here, after its measured window, on its own seeded inputs.
These calls are spans like any other but fall outside the window, so the
window's accounting is unchanged. The kernel probe runs on every
workload: it needs no Spark.
"""

from __future__ import annotations

import os
import time

from . import datagen, inputs, layers, oracle, workloads

KERNEL_SLICE = 8_000     # events in the driver-side kernel probe
CENSUS_OPS = ("doc_exact_dedup", "tmp_overlap_join")
SPAN_PROBES = 200


def run(ctx, workload: str) -> None:
    ctx.kernel_metrics = layers.kernel_probe(ctx.stream, KERNEL_SLICE)
    ctx.span_overhead_us = _span_cost(ctx.tracer)
    if workload == "ops":
        _build_and_query(ctx)
    _merge(ctx, ctx.sf_dir)
    if workload != "ops":
        _joins(ctx)
        _pipeline(ctx)


def _span_cost(tracer) -> float:
    """Microseconds one span with a job group costs the client."""
    t0 = time.perf_counter()
    for _ in range(SPAN_PROBES):
        with tracer.span("trace.probe", group=True):
            pass
    return (time.perf_counter() - t0) / SPAN_PROBES * 1e6


def _build_and_query(ctx) -> None:
    store = layers.build(ctx, ctx.stream_df)
    truth = workloads.truth_of(ctx, ctx.copies)
    batch = inputs.placements(ctx.rng, 1, workloads.fixture_polygons(),
                              datagen.N_USERS)
    workloads.query_op(ctx, store, truth, batch)
    store.df.unpersist()


def _merge(ctx, sf) -> None:
    ev, _ = layers.derive(ctx, sf, [0])
    store = layers.build(ctx, ev, os.path.join(ctx.work, "census_store"),
                         span="merge.base")
    ev.unpersist()
    ok, store = ctx.guarded(lambda: layers.merge(
        ctx, store, inputs.stream_df(ctx.spark, sf, [1])))
    ctx.attempt(ok, "census merge")
    ctx.live_store_bytes = ctx.merges[-1]["bytes"] if ok else 0


def _joins(ctx) -> None:
    ev = ctx.stream_df
    ts, _, x, y, _ = ctx.stream
    polys = workloads.fixture_polygons()
    shapes = workloads.shapes_of(polys)
    points = inputs.knn_points(ctx.rng, workloads.OPS_KNN_POINTS)
    ok, got = ctx.guarded(lambda: layers.pip(ctx, ev, shapes))
    truth = workloads.truth_of(ctx, ctx.copies)
    ctx.attempt(ok and got == oracle.pip_truth(truth, polys),
                "census pip join")
    ok, got = ctx.guarded(lambda: layers.knn(ctx, ev, points))
    ctx.attempt(ok and got == oracle.knn_truth(ts, x, y, points,
                                               layers.JOIN_K),
                "census knn join")


def _pipeline(ctx) -> None:
    sf = datagen.write_tables(os.path.join(ctx.work, "census_tables"),
                              ctx.seed, workloads.OPS_EVENTS,
                              workloads.OPS_DOCS, workloads.OPS_EMB)
    for collect in (True, False):        # cold, then warm
        for name in CENSUS_OPS:
            ok, _ = ctx.guarded(lambda n=name: layers.gate_op(ctx, n, sf,
                                                              collect))
            ctx.attempt(ok, f"census {name}")
