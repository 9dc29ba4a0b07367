"""The benchmark's workloads. Each is a closed loop from one
single-threaded client: the next operation starts when the previous one
has returned. Sizes are fixed here; only ``--seed`` varies the inputs.

serve   the read path: interactive polygon batches against a CM store,
        every fifth batch a bulk batch of 300 placements.
ops     joins and pipeline operators that run no sketch code.

Each workload sets ``ctx.e2e`` to its end-to-end metrics and counts every
operation in ``ctx.attempted`` / ``ctx.failed``.
"""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import datagen, inputs, layers, oracle
from .layers import lower_quartile, median

SETUP_REPS = 3          # set-up passes per run; setup_s is their median

SERVE_EVENTS, SERVE_COPIES = 20_000, 5       # 100k-event stream
SERVE_POOL, SERVE_BULK, BULK_EVERY = 64, 300, 5
WARMUP_CYCLES = 1       # untimed serve cycles before the window

OPS_EVENTS, OPS_DOCS, OPS_EMB, OPS_COPIES = 10_000, 500, 500, 5
OPS_KNN_POINTS = 8
OPS_WARMUP_ROUNDS = 3   # untimed warm rounds; rounds still got faster
                        # over the first five or so
GATE_OPS = ("doc_minhash_lsh", "tmp_overlap_join")      # every round
# emb_ivf_topk and knn_join run in the cold round (set-up) only: warm
# ivf calls took the longest to settle, and a warm knn round's median
# spread 0.30 between runs, twice any other operator's
COLD_OPS = GATE_OPS + ("emb_ivf_topk",)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    deadline: float                     # perf_counter() value
    rng: np.random.Generator = None
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    builds: list = field(default_factory=list)
    merges: list = field(default_factory=list)
    op_s: list = field(default_factory=list)
    window: tuple = (0.0, 0.0)
    copies: range = None                # stream copies of the events table
    stream: tuple = None                # the stream as numpy arrays
    stream_df: object = None            # the stream, derived and cached
    sf_dir: str = None
    events_pdf: object = None
    live_store_bytes: int = 0           # traced runs: set by the census
    kernel_metrics: dict = field(default_factory=dict)
    span_overhead_us: float = 0.0

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.watchdog = layers.Watchdog(self.spark.sparkContext)

    def count(self, name: str, v: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + v

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def guarded(self, fn):
        """Run one operation under the watchdog; -> (ok, result). An
        exception or a watchdog cancel is a failed operation."""
        try:
            with self.watchdog:
                return True, fn()
        except Exception:                 # noqa: BLE001 — counted, reported
            traceback.print_exc(file=sys.stderr)
            return False, None

    def in_window(self, t_start: float) -> bool:
        now = time.perf_counter()
        return now - t_start < self.seconds and now < self.deadline

    def tables(self, sub: str, n_events: int, n_docs: int = 0,
               n_emb: int = 0) -> str:
        path = datagen.write_tables(os.path.join(self.work, sub),
                                    self.seed, n_events, n_docs, n_emb)
        self.events_pdf = pd.read_parquet(f"{path}/events.parquet",
                                          columns=["event_id", "user_id"])
        return path


def fixture_polygons():
    from spatialsketch_spark.gate import POLYGONS
    return [(p.name, tuple(tuple(r) for r in p.rings)) for p in POLYGONS]


def truth_of(ctx, copies) -> oracle.GridTruth:
    ts, item, x, y, v = inputs.stream_np(ctx.events_pdf, copies)
    t = oracle.GridTruth(inputs.N, inputs.LATTICE)
    t.add(x, y, item, v)
    return t


def _settle(ctx) -> None:
    """Collect garbage in the client and the JVM, so every window starts
    from a collected heap."""
    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()


def _keep_stream(ctx, sf, copies, ev) -> None:
    ctx.sf_dir, ctx.copies, ctx.stream_df = sf, copies, ev
    ctx.stream = inputs.stream_np(ctx.events_pdf, copies)


def query_op(ctx, store, truth, batch, bulk=False):
    """One checked query batch; -> seconds it took."""
    t0 = time.perf_counter()
    _, res = ctx.guarded(lambda: layers.query(ctx, store, batch, bulk))
    dt = time.perf_counter() - t0
    ok, errs = oracle.check_batch(truth, batch, res)
    ctx.attempt(ok, f"query batch of {len(batch)} ({batch[0].name})")
    ctx.count("query.freq_err", sum(errs))
    ctx.count("query.freq_n", len(errs))
    return dt


def serve(ctx: Ctx) -> None:
    sf = ctx.tables("serve", SERVE_EVENTS)
    copies = range(SERVE_COPIES)
    store = ev = None
    reps = []
    for _ in range(SETUP_REPS):
        if store is not None:
            store.df.unpersist()
            ev.unpersist()
        t0 = time.perf_counter()
        ev, _ = layers.derive(ctx, sf, copies)
        store = layers.build(ctx, ev)
        reps.append(time.perf_counter() - t0)
    ctx.setup_s = median(reps)
    _keep_stream(ctx, sf, copies, ev)
    truth = truth_of(ctx, copies)
    polys = fixture_polygons()
    pool = inputs.placements(ctx.rng, SERVE_POOL, polys, datagen.N_USERS)
    bulk = inputs.placements(ctx.rng, SERVE_BULK, polys, datagen.N_USERS)
    for j in range(WARMUP_CYCLES * BULK_EVERY):   # warm-up, untimed
        if j % BULK_EVERY < BULK_EVERY - 1:
            query_op(ctx, store, truth, [pool[-1 - j]])
        else:
            query_op(ctx, store, truth, bulk, bulk=True)

    lat, bulk_s, i = [], [], 0
    _settle(ctx)
    t_start = time.perf_counter()
    while ctx.in_window(t_start):                 # whole cycles only
        for j in range(BULK_EVERY):
            is_bulk = j == BULK_EVERY - 1
            batch = bulk if is_bulk else [pool[i % SERVE_POOL]]
            with ctx.tracer.op():
                dt = query_op(ctx, store, truth, batch, is_bulk)
            if is_bulk:
                bulk_s.append(dt)
            else:
                lat.append(dt)
                i += 1
    ctx.window = (t_start, time.perf_counter())
    ctx.op_s = lat
    # one cycle with each kind of batch at its lower-quartile time in the
    # window (why a quartile: perfbench/README.md, "End-to-end metrics")
    n = BULK_EVERY - 1
    cycle_s = n * lower_quartile(lat) + lower_quartile(bulk_s)
    ctx.e2e = {"op_p25_ms": lower_quartile(lat) * 1e3,
               "work_per_s": 2 * (n + SERVE_BULK) / cycle_s}


def ops(ctx: Ctx) -> None:
    import duckdb
    t0 = time.perf_counter()
    sf = ctx.tables("ops", OPS_EVENTS, OPS_DOCS, OPS_EMB)
    copies = range(OPS_COPIES)
    ev, _ = layers.derive(ctx, sf, copies)
    setup = time.perf_counter() - t0
    _keep_stream(ctx, sf, copies, ev)
    polys = fixture_polygons()
    shapes = shapes_of(polys)
    points = inputs.knn_points(ctx.rng, OPS_KNN_POINTS)

    # cold round: the first call of every operator belongs to set-up; its
    # output is compared once with an answer computed without the engine
    truth = truth_of(ctx, copies)
    ts, _, x, y, _ = ctx.stream
    duck = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{sf}/{t}.parquet/*.parquet'")
    checks = [
        ("joins.pip", lambda: layers.pip(ctx, ev, shapes),
         lambda got: got == oracle.pip_truth(truth, polys)),
        ("joins.knn", lambda: layers.knn(ctx, ev, points),
         lambda got: got == oracle.knn_truth(ts, x, y, points,
                                             layers.JOIN_K)),
    ] + [(name, (lambda n=name: layers.gate_op(ctx, n, sf, True)),
          (lambda got, n=name: oracle.matches_duckdb(duck, n, got)))
         for name in COLD_OPS]
    for name, run, check in checks:
        t1 = time.perf_counter()
        ok, got = ctx.guarded(run)
        setup += time.perf_counter() - t1
        ctx.attempt(ok and check(got), f"cold {name}")
    duck.close()
    ctx.setup_s = setup

    warm = [("joins.pip", lambda: layers.pip(ctx, ev, shapes))] + [
        (n, lambda n=n: layers.gate_op(ctx, n, sf, False)) for n in GATE_OPS]
    times = {name: [] for name, _ in warm}

    def warm_round() -> float:
        t1 = time.perf_counter()
        for name, run in warm:
            t2 = time.perf_counter()
            ok, _ = ctx.guarded(run)
            times[name].append(time.perf_counter() - t2)
            ctx.attempt(ok, f"warm {name}")
        return time.perf_counter() - t1

    for _ in range(OPS_WARMUP_ROUNDS):            # warm-up, untimed
        warm_round()
    for v in times.values():
        v.clear()
    table_rows = {"doc": OPS_DOCS, "emb": OPS_EMB}
    per_round = len(ts) + sum(table_rows.get(n[:3], OPS_EVENTS)
                              for n in GATE_OPS)
    rounds = []
    _settle(ctx)
    t_start = time.perf_counter()
    while ctx.in_window(t_start):
        with ctx.tracer.op():
            rounds.append(warm_round())
    ctx.window = (t_start, time.perf_counter())
    ctx.op_s = rounds
    # a round with every operator at its lower-quartile time in the window
    # (why a quartile: perfbench/README.md, "End-to-end metrics")
    round_s = sum(lower_quartile(v) for v in times.values())
    ctx.e2e = {"op_p25_ms": round_s * 1e3, "work_per_s": per_round / round_s}


def shapes_of(polys):
    from spatialsketch_spark.core.partitioner import Shape
    return [Shape(rings=[list(r) for r in rings], grid_size=inputs.N,
                  name=name) for name, rings in polys]


WORKLOADS = {"serve": serve, "ops": ops}
