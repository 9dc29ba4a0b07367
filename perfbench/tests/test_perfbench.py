"""Tests of the benchmark itself: names pinned to BENCHMARK.json, seeded
inputs, the serve oracle against brute force, and the event-log reader.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, eventlog, inputs, oracle, report  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workload_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in bench_json()["workloads"]] == list(WORKLOADS)


def fake_ctx(tmp_path):
    """A finished traced run with one span of every name the report
    reads, and an empty event log."""
    t = Tracer(True)
    names = ["session", "events.derive", "partitioner", "query", "dyadic",
             "query.bulk", "dyadic", "build", "merge", "merge.expire",
             "joins.pip", "joins.knn", "ops.tmp_overlap_join",
             "ops.tmp_overlap_join"]
    for i, n in enumerate(names):
        t.spans.append(Span(i, n, None, i, float(i), i + 0.5))
    log = tmp_path / "log"
    log.mkdir()
    (log / "app").write_text("")
    build = {"build_core_wall_s": 1.0, "build_wall_s": 1.5,
             "sketch_cells": 10}
    ctx = SimpleNamespace(
        tracer=t, counters={k: 1 for k in (
            "partitioner.queries", "partitioner.rects", "dyadic.queries",
            "dyadic.cells", "query.freq_err", "query.freq_n")},
        stream=(np.arange(3),), builds=[build],
        merges=[{"cells": 5, "delta_events": 2, "bytes": 100}],
        live_store_bytes=100, window=(0.0, 20.0), op_s=[0.5],
        span_overhead_us=1.0, setup_s=1.0,
        e2e={"op_p25_ms": 1.0, "work_per_s": 1.0},
        kernel_metrics={f"kernels.{k}.{m}": 1.0
                        for k in ("cm", "fm", "bf", "ecm", "dcm", "elastic")
                        for m in ("build_us_per_event",
                                  "serialize_us_per_cell",
                                  "payload_bytes_per_cell",
                                  "estimate_us_per_cell")})
    return ctx, str(log)


def test_metric_names_and_units_match_benchmark_json(tmp_path):
    spec = bench_json()
    ctx, log = fake_ctx(tmp_path)
    for got, want in ((report.end_to_end(ctx), spec["end_to_end"]),
                      (report.per_layer(ctx, log), spec["per_layer"])):
        assert {k: v["unit"] for k, v in got.items()} == \
            {m["name"]: m["unit"] for m in want}


def test_lower_quartile_stays_within_the_samples():
    from perfbench.layers import lower_quartile
    assert lower_quartile([5.0, 1.0, 4.0, 2.0, 3.0]) == 2.0
    assert lower_quartile([0.7]) == 0.7
    assert 1.0 <= lower_quartile([1.0, 9.0]) <= 9.0


def test_inputs_are_deterministic_per_seed(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7, 300, 40, 30)
    b = datagen.write_tables(str(tmp_path / "b"), 7, 300, 40, 30)
    c = datagen.write_tables(str(tmp_path / "c"), 8, 300, 40, 30)
    for t in ("events", "documents", "embeddings"):
        pa, pb, pc = (pd.read_parquet(f"{d}/{t}.parquet") for d in (a, b, c))
        pd.testing.assert_frame_equal(pa, pb)
        assert not pa.equals(pc)
    polys = [("sq", inputs.rect_rings(0, 0, 32, 32))]

    def draw(seed):
        rng = np.random.default_rng(seed)
        return (inputs.placements(rng, 20, polys, 150),
                inputs.knn_points(rng, 4), rng.permutation(10).tolist())

    assert draw(3) == draw(3)
    assert draw(3) != draw(4)


def brute_inside(rings, x, y) -> bool:
    crossings = 0
    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring, ring[1:] + ring[:1]):
            if x0 == x1 and min(y0, y1) < y < max(y0, y1) and x0 > x:
                crossings += 1
    return crossings % 2 == 1


TINY = 32
SHAPES = [
    inputs.rect_rings(4, 8, 12, 4),
    inputs.rect_rings(24, 24, 16, 16),                 # clipped by the grid
    (((-0.5, -0.5), (19.5, -0.5), (19.5, 7.5), (7.5, 7.5), (7.5, 19.5),
      (-0.5, 19.5)),),                                 # L
    (((3.5, 3.5), (27.5, 3.5), (27.5, 27.5), (3.5, 27.5)),
     ((11.5, 11.5), (19.5, 11.5), (19.5, 19.5), (11.5, 19.5))),  # hole
]


@pytest.mark.parametrize("rings", SHAPES)
def test_serve_oracle_matches_brute_force(rings):
    rng = np.random.default_rng(0)
    x, y = rng.integers(0, TINY, (2, 500))
    item = rng.integers(0, 5, 500)
    truth = oracle.GridTruth(TINY, block=4)
    truth.add(x[:300], y[:300], item[:300], np.ones(300))
    truth.add(x[300:], y[300:], item[300:], np.ones(200))   # a delta
    rings = [list(r) for r in rings]
    inside = [brute_inside(rings, int(a), int(b)) for a, b in zip(x, y)]
    assert truth.count(rings) == sum(inside)
    for it in range(5):
        assert truth.freq(rings, it) == sum(
            1 for i, f in enumerate(inside) if f and item[i] == it)


def test_serve_oracle_rejects_off_lattice_polygons():
    truth = oracle.GridTruth(TINY, block=4)
    with pytest.raises(ValueError):
        truth.count([list(r) for r in inputs.rect_rings(1, 0, 4, 4)])


def test_event_log_sums_task_metrics_per_job_group(tmp_path):
    from pyspark.sql import SparkSession
    log = tmp_path / "eventlog"
    log.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.sql.adaptive.enabled", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobGroup("toy#1", "toy")
        n = (spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
             .groupBy("k").count().collect())
        sc.setJobGroup("other#2", "other")
        spark.range(0, 10, 1, 2).collect()
    finally:
        spark.stop()
    assert len(n) == 7
    stats = eventlog.read(eventlog.log_file(str(log)))
    toy, other = stats["toy#1"], stats["other#2"]
    assert toy.tasks == 4 + 3             # map stage + reduce stage
    assert toy.stages == 2
    assert toy.shuffle_write_bytes > 0
    assert toy.shuffle_read_bytes == toy.shuffle_write_bytes
    assert len(toy.task_ms) == toy.tasks and toy.skew >= 1.0
    assert other.tasks == 2 and other.shuffle_write_bytes == 0
