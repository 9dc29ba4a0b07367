"""Seeded workload inputs: the event stream, query placements, kNN points
and the order of delta copies.

The stream follows the engine's bench recipe: the geo events derived from
the ``events`` table (``geo.events.derive_geo_events``), repeated as
shifted copies. Copy ``c`` adds ``c * 100_000_000`` to ``ts`` and moves
``x`` by ``c * 1009`` and ``y`` by ``c * 2003`` (mod N). ``stream_np``
computes the same rows with numpy for the checks, without Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

N = 4096            # grid side, as in the engine's gate fixtures
LATTICE = 16        # every placement edge sits on this cell lattice
TS_STRIDE = 100_000_000


@dataclass(frozen=True)
class Placement:
    name: str
    rings: tuple          # rings of (x, y) half-integer vertices
    item: int


def stream_np(events: pd.DataFrame, copies) -> tuple:
    """(ts, item, x, y, value) int64 arrays for the given copies."""
    eid = events["event_id"].to_numpy(np.int64)
    uid = events["user_id"].to_numpy(np.int64)
    x0 = ((eid % N) * 2654435761) % N
    y0 = ((eid % N) * 2246822519 + uid * 97) % N
    cs = np.asarray(list(copies), dtype=np.int64)[:, None]
    ts = (eid[None, :] + cs * TS_STRIDE).ravel()
    x = ((x0[None, :] + cs * 1009) % N).ravel()
    y = ((y0[None, :] + cs * 2003) % N).ravel()
    item = np.broadcast_to(uid, (len(cs), len(uid))).ravel()
    return ts, item, x, y, np.ones_like(ts)


def stream_df(spark, sf_dir: str, copies):
    """The same stream as a DataFrame, through the engine's derivation."""
    from pyspark.sql import functions as F
    from spatialsketch_spark.geo.events import derive_geo_events
    ev = derive_geo_events(spark, sf_dir, N)
    c = spark.createDataFrame([(int(k),) for k in copies], "rep BIGINT")
    return (ev.crossJoin(F.broadcast(c))
            .select((F.col("ts") + F.col("rep") * TS_STRIDE).alias("ts"),
                    "item",
                    ((F.col("x") + F.col("rep") * 1009) % N).alias("x"),
                    ((F.col("y") + F.col("rep") * 2003) % N).alias("y"),
                    "value"))


def rect_rings(x0: int, y0: int, w: int, h: int) -> tuple:
    x1, y1 = x0 - 0.5, y0 - 0.5
    x2, y2 = x0 + w - 0.5, y0 + h - 0.5
    return (((x1, y1), (x2, y1), (x2, y2), (x1, y2)),)


def placements(rng: np.random.Generator, count: int, polygons,
               n_items: int) -> list[Placement]:
    """Half are the engine's fixture polygons moved by a lattice offset
    below 1024 cells; half are rectangles 16 to 2048 cells on a side.
    ``polygons`` is a list of (name, rings)."""
    out = []
    for _ in range(count):
        item = int(rng.integers(0, n_items))
        if rng.random() < 0.5:
            name, rings = polygons[int(rng.integers(0, len(polygons)))]
            dx, dy = (int(v) * LATTICE for v in rng.integers(0, 64, 2))
            moved = tuple(tuple((x + dx, y + dy) for x, y in r)
                          for r in rings)
            out.append(Placement(f"{name}+{dx},{dy}", moved, item))
        else:
            w, h = (int(v) * LATTICE for v in rng.integers(1, 129, 2))
            x0 = int(rng.integers(0, (N - w) // LATTICE + 1)) * LATTICE
            y0 = int(rng.integers(0, (N - h) // LATTICE + 1)) * LATTICE
            out.append(Placement(f"rect{w}x{h}@{x0},{y0}",
                                 rect_rings(x0, y0, w, h), item))
    return out


def knn_points(rng: np.random.Generator, count: int) -> list[tuple]:
    return [(i, int(x), int(y))
            for i, (x, y) in enumerate(rng.integers(0, N, (count, 2)))]
