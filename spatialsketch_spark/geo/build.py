"""Sketch-table build pipeline — the Spark re-expression of
``SpatialSketch::Update`` (SpatialSketch.cpp:535-599).

Reference (per tuple): fan out to the (log2 N + 1)^2 dyadic grids, update
one lazily-allocated nested sketch per grid. Here (per Arrow batch):

  events ── mapInPandas(partial build: per-partition, per-grid grouped
            numpy sketch build; ONE output row per touched (grid, cell))
         ── groupBy(grid_key, cell).applyInPandas(merge partials)
         ── sketch table (grid_key, cell, payload, n_events)

This is a *manual map-side combine*: the shuffle carries at most
(#partitions x #touched cells) sketch partials — independent of event
count — and the hot-cell skew problem (coarse grids receive every event,
SURVEY.md §7) is structurally bounded: a cell has at most #partitions
partials to merge. Sketch merges are commutative monoids (CM add
CountMin.cpp:196-202, FM/BF or FM.cpp:154-172, ECM via MergeECM
ECM.cpp:316-348), so the result is partitioning-invariant — asserted in
tests/test_geo_pipeline.py by building at different parallelism.

Scale posture (100 TB / 10^12 docs): the pyramid is capped at
``min_level`` (finest grid 2^(L-min_level) per axis) — the practical
analogue of the reference's memory quota, which also cannot hold fine
grids (37 MB / 336 B-CM ~ 110k cells, SpatialSketch.cpp:311-316).
Sketch-table size is O(live grids x touched cells x sketch bytes),
independent of stream length — the table-level mirror of the reference's
constant-memory claim (Tech Report §5.2).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import SketchConfig
from ..core.kernels import make_kernel

SKETCH_SCHEMA = ("grid_key INT, cell BIGINT, payload BINARY, "
                 "n_events BIGINT, val_sum BIGINT")


def live_grids(cfg: SketchConfig, min_level: int) -> list[tuple[int, int]]:
    L = cfg.levels - 1
    return [(kx, ky) for kx in range(min_level, L + 1)
            for ky in range(min_level, L + 1)
            if (kx, ky) not in cfg.dropped_grids]


def _partial_builder(cfg: SketchConfig, kind: str, min_level: int):
    """Returns the mapInPandas function. Everything it needs travels in
    the task closure (deterministic: kernels regenerate identical hash
    coefficients from cfg.seed on every executor)."""
    grids = live_grids(cfg, min_level)
    n = cfg.n

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        xs, ys, its, vas, tss = [], [], [], [], []
        for pdf in batches:
            xs.append(pdf["x"].to_numpy(np.int64))
            ys.append(pdf["y"].to_numpy(np.int64))
            its.append(pdf["item"].to_numpy(np.int64))
            vas.append(pdf["value"].to_numpy(np.int64))
            tss.append(pdf["ts"].to_numpy(np.int64))
        if not xs:
            return
        x = np.concatenate(xs); y = np.concatenate(ys)
        items = np.concatenate(its); values = np.concatenate(vas)
        ts = np.concatenate(tss)
        if len(x) == 0:
            return
        out_gk, out_cell, out_payload = [], [], []
        out_nev, out_vs = [], []
        # once-per-batch precomputation (item hashes are grid-agnostic;
        # hashing once instead of once per grid level was 18% of task
        # CPU — guide §1.2 "per-task work")
        prep = kernel.prep_batch(items, values, ts)
        fast = kernel.build_from_groups
        from spatialsketch_spark.core.kernels import int_group_sum
        for kx, ky in grids:
            keys = (x >> kx) * n + (y >> ky)
            if fast is not None:
                # ONE sort per grid (inside np.unique); counts via
                # bincount, val_sum via integer-exact np.add.at (no
                # float64-weight bincount — val_sum backs the exact
                # 'count' query path and must hold past 2^53)
                uc, inv = np.unique(keys, return_inverse=True)
                states = fast(uc, inv, items, values, ts, prep)
                counts = np.bincount(inv, minlength=len(uc)) \
                    .astype(np.int64)
                vsums = int_group_sum(inv, values, len(uc))
            else:
                uc, states = kernel.build_grouped(keys, items, values,
                                                  ts)
                order = np.argsort(keys, kind="stable")
                starts = np.searchsorted(keys[order], uc)
                counts = np.diff(np.append(starts, len(keys))) \
                    .astype(np.int64)
                vsums = np.add.reduceat(values[order], starts) \
                    .astype(np.int64)
            gk = cfg.grid_key(kx, ky)
            for c, st, ne, vs in zip(uc.tolist(), states, counts.tolist(),
                                     vsums.tolist()):
                out_gk.append(gk)
                out_cell.append(c)
                out_payload.append(kernel.serialize(st))
                out_nev.append(int(ne))
                out_vs.append(int(vs))
        yield pd.DataFrame({
            "grid_key": pd.array(out_gk, dtype="int32"),
            "cell": pd.array(out_cell, dtype="int64"),
            "payload": pd.Series(out_payload, dtype=object),
            "n_events": pd.array(out_nev, dtype="int64"),
            "val_sum": pd.array(out_vs, dtype="int64"),
        })

    return fn


def _merge_partitions(cfg: SketchConfig, kind: str):
    """Partition-level merge: after a hash repartition on (grid_key,
    cell), every cell's partials are co-located in one partition, so one
    Python/Arrow round merges *all* cells of the partition — avoiding
    per-group pandas overhead on hundreds of thousands of tiny groups
    (the groupBy().applyInPandas() shape would pay ~ms per cell)."""

    def fn(batches):
        kernel = make_kernel(kind, cfg)
        gk_l, cell_l, nev_l, vs_l, pay_l = [], [], [], [], []
        for pdf in batches:
            gk_l.append(pdf["grid_key"].to_numpy(np.int64))
            cell_l.append(pdf["cell"].to_numpy(np.int64))
            nev_l.append(pdf["n_events"].to_numpy(np.int64))
            vs_l.append(pdf["val_sum"].to_numpy(np.int64))
            pay_l.append(pdf["payload"].to_numpy())
        if not gk_l:
            return
        gks = np.concatenate(gk_l)
        cells = np.concatenate(cell_l)
        nevs = np.concatenate(nev_l)
        vss = np.concatenate(vs_l)
        payloads = np.concatenate(pay_l)
        if len(gks) == 0:
            return
        # vectorized grouping (no per-row python dict fold): sort by
        # (grid_key, cell); with zorder locality most groups are a
        # SINGLE partial — those pass their payload bytes through
        # untouched (the codecs are canonical: serialize(deserialize(b))
        # == b), skipping the deserialize+merge+serialize round trip
        order = np.lexsort((cells, gks))
        g_s, c_s = gks[order], cells[order]
        new = np.empty(len(g_s), dtype=bool)
        new[0] = True
        new[1:] = (g_s[1:] != g_s[:-1]) | (c_s[1:] != c_s[:-1])
        starts = np.flatnonzero(new)
        bounds = np.append(starts, len(g_s))
        nev_g = np.add.reduceat(nevs[order], starts).astype(np.int64)
        vs_g = np.add.reduceat(vss[order], starts).astype(np.int64)
        pay_s = payloads[order]
        out_payload = []
        for i in range(len(starts)):
            s, e = bounds[i], bounds[i + 1]
            if e - s == 1:
                out_payload.append(pay_s[s])
            else:
                merged = kernel.merge([kernel.deserialize(pay_s[j])
                                       for j in range(s, e)])
                out_payload.append(kernel.serialize(merged))
        yield pd.DataFrame({
            "grid_key": pd.array(g_s[starts].astype(np.int32),
                                 dtype="int32"),
            "cell": pd.array(c_s[starts], dtype="int64"),
            "payload": pd.Series(out_payload, dtype=object),
            "n_events": pd.array(nev_g, dtype="int64"),
            "val_sum": pd.array(vs_g, dtype="int64"),
        })

    return fn


def build_sketch_df(events: DataFrame, cfg: SketchConfig, kind: str,
                    min_level: int, num_partitions: int | None = None,
                    mode: str = "zorder") -> DataFrame:
    """events(ts,item,x,y,value) -> sketch DataFrame. Two shuffle
    strategies (equal output — asserted in tests):

    mode='partials' (skew-safe fallback): per-partition partial sketches
      -> hash shuffle on (grid_key, cell) -> partition-level merge. The
      shuffle carries partials (bounded by touched-cells x partitions);
      a pathological hot cell still merges only #partitions partials.

    mode='zorder' (locality fast path): range-partition the raw events on
      their Z-order (Morton) value first. A Z-contiguous partition holds
      whole dyadic subtrees, so partials dedup near-perfectly at EVERY
      pyramid level (only cells straddling partition boundaries produce
      >1 partial) — shuffle volume drops from touched-cells x partitions
      to ~total-cells + O(partitions x levels^2). Same merge stage, same
      output (hash-partitioning a grid cell's events across partitions
      is still handled); the range shuffle moves raw events (small rows)
      instead of sketch blobs.
    """
    from pyspark.sql import functions as F
    spark = events.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if mode in ("zorder", "zhash"):
        z = F.lit(0).cast("bigint")
        for b in range(cfg.levels - 1):
            z = (z
                 + (F.shiftright("x", b).bitwiseAND(F.lit(1))
                    * F.lit(1 << (2 * b + 1)))
                 + (F.shiftright("y", b).bitwiseAND(F.lit(1))
                    * F.lit(1 << (2 * b))))
        if mode == "zorder":
            events = events.repartitionByRange(num_partitions, z)
        else:
            # zhash: hash-partition on coarse Z-blocks — same locality for
            # all levels below the block level, but no range-sampling job
            # and fully deterministic partitioning. Block level chosen so
            # there are ~8 blocks per partition.
            import math
            block_level = max(min_level, (cfg.levels - 1)
                              - max(1, math.ceil(
                                  math.log(max(num_partitions * 8, 2), 4))))
            events = events.repartition(num_partitions,
                                        F.shiftright(z, 2 * block_level))
    elif mode == "partials":
        # ensure the narrow input is actually parallel (a single parquet
        # file otherwise serializes the whole partial build on one core)
        events = events.repartition(num_partitions)
    else:
        raise ValueError(f"unknown build mode {mode!r}")
    partials = events.mapInPandas(_partial_builder(cfg, kind, min_level),
                                  schema=SKETCH_SCHEMA)
    return partials.repartition(num_partitions, "grid_key", "cell") \
        .mapInPandas(_merge_partitions(cfg, kind), schema=SKETCH_SCHEMA)


class ServeIndex:
    """Driver-side serving index: summed-area tables over the finest
    live grid ``(level, level)`` — the prefix-sum cube of Ho, Agrawal,
    Megiddo & Srikant, "Range Queries in OLAP Data Cubes" (SIGMOD 1997).

    ``vs`` holds prefix sums of ``val_sum``, shape (nf+1, nf+1);
    ``cm`` (non-exact CM stores only, else None) holds per-(row, slot)
    prefix sums of the Count-Min counters, shape (nf+1, nf+1, d, w).
    Both synopses are linear — every coarser cell equals the sum of
    its finest-grid children, bit for bit — so any cover cell
    ``(kx, ky, cx, cy)`` is one 4-corner box sum over the finest-grid
    rectangle ``[cx << (kx-level), (cx+1) << (kx-level)) x [...)``."""

    def __init__(self, level: int, vs: np.ndarray,
                 cm: np.ndarray | None = None):
        self.level = level
        self.vs = vs
        self.cm = cm

    @property
    def nbytes(self) -> int:
        return self.vs.nbytes + (0 if self.cm is None else self.cm.nbytes)

    @staticmethod
    def has_cm(cfg: SketchConfig, kind: str) -> bool:
        return kind == "cm" and not cfg.exact

    @classmethod
    def table_bytes(cls, cfg: SketchConfig, kind: str, level: int) -> int:
        slots = 1 + (cfg.cm_depth * cfg.cm_width
                     if cls.has_cm(cfg, kind) else 0)
        return ((cfg.n >> level) + 1) ** 2 * slots * 8

    @classmethod
    def from_df(cls, df: DataFrame, cfg: SketchConfig, kind: str,
                level: int) -> "ServeIndex | None":
        """Collect the finest grid's rows (one job) and build the
        tables; None when those rows are not one per in-range cell, the
        shape every build and merge writes."""
        cm = cls.has_cm(cfg, kind)
        tbl = (df.where(F.col("grid_key") == cfg.grid_key(level, level))
               .select("cell", "val_sum", *(["payload"] if cm else []))
               .toArrow())
        cells = tbl.column("cell").to_numpy()
        fx, fy = cells // cfg.n, cells % cfg.n
        nf = cfg.n >> level
        if (len(np.unique(cells)) < len(cells)
                or ((fx < 0) | (fx >= nf) | (fy >= nf)).any()):
            return None

        def sat(vals: np.ndarray) -> np.ndarray:
            t = np.zeros((nf + 1, nf + 1) + vals.shape[1:], np.int64)
            t[fx + 1, fy + 1] = vals
            np.cumsum(t, axis=0, out=t)
            return np.cumsum(t, axis=1, out=t)

        vs = sat(tbl.column("val_sum").to_numpy())
        if not cm:
            return cls(level, vs)
        counters = make_kernel("cm", cfg).deserialize_batch(
            tbl.column("payload").to_pylist())
        return cls(level, vs, sat(counters))

    def _corners(self, kx, ky, cx, cy) -> list[np.ndarray]:
        """Flat (x, y) indices into an (nf+1, nf+1) table of each cover
        cell's box corners, in +, -, -, + order."""
        sx, sy = kx - self.level, ky - self.level
        x0, x1 = cx << sx, (cx + 1) << sx
        y0, y1 = cy << sy, (cy + 1) << sy
        side = self.vs.shape[1]
        return [x1 * side + y1, x0 * side + y1, x1 * side + y0,
                x0 * side + y0]

    @staticmethod
    def _box(flat: np.ndarray, corners) -> np.ndarray:
        a, b, c, d = (flat.take(i) for i in corners)
        return a - b - c + d

    def counts(self, kx, ky, cx, cy) -> np.ndarray:
        """Per cover cell: the cell's exact ``val_sum``."""
        return self._box(self.vs.reshape(-1),
                         self._corners(kx, ky, cx, cy))

    def freqs(self, kx, ky, cx, cy, slots: np.ndarray) -> np.ndarray:
        """Per cover cell e: min over rows r of the cell's CM counter
        at ``slots[e, r]`` (the item's hash in row r)."""
        d, w = self.cm.shape[2:]
        within = np.arange(d) * w + slots               # (cells, d)
        corners = [(i * (d * w))[:, None] + within
                   for i in self._corners(kx, ky, cx, cy)]
        return self._box(self.cm.reshape(-1), corners).min(axis=1)


class SketchStore:
    """A built sketch table + its manifest (config, lineage, metrics).

    Persisted layout (the Iceberg-snapshot stand-in — parquet +
    manifest JSON; on a real cluster this is an Iceberg table and the
    manifest rides in snapshot summary properties):

        <path>/sketch/            parquet, partitioned by grid_key
        <path>/manifest.json      cfg/kind/min_level + per-partition
                                  lineage + merge metrics

    ``build_or_load`` makes every stage resumable: if a manifest matching
    (cfg, kind, min_level, input fingerprint) exists, the build is
    skipped and the snapshot is served (north_rule checkpoint
    requirement; kill-and-resume covered in tests/test_geo_pipeline.py).
    """

    def __init__(self, spark: SparkSession, df: DataFrame,
                 cfg: SketchConfig, kind: str, min_level: int,
                 manifest: dict | None = None, path: str | None = None):
        self.spark = spark
        self.df = df
        self.cfg = cfg
        self.kind = kind
        self.min_level = min_level
        self.manifest = manifest or {}
        self.path = path
        self._bucketed = None
        self._serve = None

    def bucketed_df(self) -> DataFrame:
        """The sketch table hash-partitioned by its join key (grid_key,
        cell) and cached that way — the local-mode analogue of writing
        the sketch as a BUCKETED table on a cluster. Query-batch joins
        then reuse this output partitioning: the payload column (the
        wide side) never re-shuffles per batch; only the tiny cover
        relation moves. One payload shuffle per store lifetime,
        amortized over every subsequent query batch."""
        if self._bucketed is None:
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self._bucketed = self.df.repartition(
                p, "grid_key", "cell").cache()
        return self._bucketed

    # driver memory budget for the serving index's tables; a store
    # whose tables would pass it keeps the Spark query path (a
    # min_level=0 CM store at N=4096 would need ~11 GB)
    SERVE_INDEX_BYTES = 256 << 20

    # True when ``df`` may hold several partial rows per (grid_key,
    # cell) — a streaming view over uncompacted batches. The Spark path
    # estimates each partial row separately, which a table of merged
    # cells cannot reproduce, so such stores get no serving index.
    cell_partials = False

    def serve_index(self) -> ServeIndex | None:
        """The driver-side serving index of ``self.df`` (None: this
        store keeps the Spark path). Built on first use and memoized
        against the DataFrame it was built from — reassigning ``df``
        rebuilds it, so a stale index is never served."""
        if self._serve is None or self._serve[0] is not self.df:
            m = self.min_level
            ok = (not self.cell_partials
                  and (m, m) not in self.cfg.dropped_grids
                  and ServeIndex.table_bytes(self.cfg, self.kind, m)
                  <= self.SERVE_INDEX_BYTES)
            self._serve = (self.df, ServeIndex.from_df(
                self.df, self.cfg, self.kind, m) if ok else None)
        return self._serve[1]

    def _record_serve_index(self) -> None:
        """Build the serving index now and report its cold cost in the
        manifest (``serve_index_s``; ``serve_index_bytes`` = 0 when the
        store keeps the Spark path)."""
        t0 = time.time()
        idx = self.serve_index()
        self.manifest["metrics"].update({
            "serve_index_s": round(time.time() - t0, 3),
            "serve_index_bytes": idx.nbytes if idx is not None else 0,
        })

    # -- construction ------------------------------------------------
    @classmethod
    def build(cls, spark: SparkSession, events: DataFrame,
              cfg: SketchConfig, kind: str, min_level: int = 0,
              path: str | None = None, mode: str = "zorder",
              num_partitions: int | None = None) -> "SketchStore":
        t0 = time.time()
        df = build_sketch_df(events, cfg, kind, min_level,
                             num_partitions=num_partitions, mode=mode)
        if path:
            os.makedirs(path, exist_ok=True)
            df.write.mode("overwrite").partitionBy("grid_key") \
              .parquet(f"{path}/sketch")
            df = spark.read.parquet(f"{path}/sketch")
        else:
            df = df.cache()
            df.count()      # materialize inside the timed core section
        build_core_wall = time.time() - t0
        # per-partition input lineage (north_rule: per-partition lineage
        # + sketch-merge metrics in the checkpoint manifest) and table
        # stats — bookkeeping jobs, outside the timed core build
        lineage = [
            {"partition": int(r["pid"]), "events": int(r["cnt"])}
            for r in events.groupBy(
                F.spark_partition_id().alias("pid")).count()
            .withColumnRenamed("count", "cnt").collect()
        ]
        fingerprint = cls.fingerprint_events(events)
        stats = df.agg(F.count("*").alias("cells"),
                       F.sum("n_events").alias("merged_events")).collect()[0]
        manifest = {
            "kind": kind,
            "min_level": min_level,
            "input_fingerprint": fingerprint,
            "cfg": {"n": cfg.n, "eps": cfg.eps, "delta": cfg.delta,
                    "seed": cfg.seed, "exact": cfg.exact,
                    "item_domain": cfg.item_domain,
                    "dropped_grids": sorted(cfg.dropped_grids)},
            "lineage": sorted(lineage, key=lambda r: r["partition"]),
            "metrics": {
                "input_events": int(sum(r["events"] for r in lineage)),
                "sketch_cells": int(stats["cells"]),
                "merged_events": int(stats["merged_events"]),
                "build_wall_s": round(time.time() - t0, 3),
                "build_core_wall_s": round(build_core_wall, 3),
                "build_mode": mode,
            },
        }
        store = cls(spark, df, cfg, kind, min_level, manifest, path)
        store._record_serve_index()
        if path:
            manifest["snapshot_seq"] = 0
            manifest["data_dir"] = "sketch"
            cls._commit_manifest(path, manifest)
        return store

    @staticmethod
    def _commit_manifest(path: str, manifest: dict) -> None:
        """Commit = write the immutable per-snapshot metadata file
        (``manifest_s<seq>.json`` — the Iceberg metadata-log analogue,
        one file per committed snapshot, never rewritten) then repoint
        the current-pointer file ``manifest.json`` (the
        version-hint/catalog analogue)."""
        seq = int(manifest.get("snapshot_seq", 0))
        with open(f"{path}/manifest_s{seq}.json", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)

    @classmethod
    def snapshots(cls, path: str) -> list[dict]:
        """Committed-snapshot history, oldest first — the time-travel
        catalog (Iceberg ``table.snapshots()``). Each entry is the full
        manifest committed at that seq; data dirs of old snapshots stay
        readable, so any entry can be opened with ``load(at_seq=...)``.
        Falls back to the single current manifest for stores written
        before per-snapshot metadata existed."""
        import re
        try:
            names = os.listdir(path)
        except OSError:
            return []
        seqs = sorted(int(m.group(1)) for nm in names
                      if (m := re.fullmatch(r"manifest_s(\d+)\.json", nm)))
        out = []
        for s in seqs:
            with open(f"{path}/manifest_s{s}.json") as f:
                out.append(json.load(f))
        if not out and "manifest.json" in names:    # legacy layout
            with open(f"{path}/manifest.json") as f:
                out.append(json.load(f))
        return out

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             cfg: SketchConfig, kind: str,
             at_seq: int | None = None) -> "SketchStore":
        """Open the current snapshot, or — time travel — the snapshot
        committed at ``at_seq`` (Iceberg snapshot-id read). A
        time-travelled store is a fully-usable read view; committing
        from it is rejected by merge_events' optimistic-concurrency
        check unless it IS the current snapshot."""
        if at_seq is None:
            with open(f"{path}/manifest.json") as f:
                manifest = json.load(f)
        else:
            try:
                with open(f"{path}/manifest_s{int(at_seq)}.json") as f:
                    manifest = json.load(f)
            except OSError as e:
                have = [m.get("snapshot_seq", 0)
                        for m in cls.snapshots(path)]
                raise ValueError(
                    f"no snapshot seq {at_seq} at {path}; committed "
                    f"seqs: {have}") from e
        # data_dir defaults to 'sketch' (initial build); merge_events
        # snapshots write sketch_s<seq> and repoint the manifest —
        # Iceberg-snapshot semantics: old data dirs stay readable
        df = spark.read.parquet(
            f"{path}/{manifest.get('data_dir', 'sketch')}")
        return cls(spark, df, cfg, kind, manifest["min_level"], manifest,
                   path)

    @staticmethod
    def fingerprint_events(events: DataFrame) -> dict:
        """Partitioning-invariant input identity: row count, ts range,
        and an order-invariant SUM of per-row xxhash64 (accumulated in
        decimal(38,0) so it never overflows, then reduced mod 2^64).
        Sum, not XOR: XOR of per-row hashes cancels pairwise, so two
        inputs differing only in which rows are duplicated would
        collide — sum is multiplicity-sensitive. Recorded in the
        manifest and compared on resume so a stale snapshot built from
        *different data* is never silently served."""
        fp = events.agg(
            F.count("*").alias("n"), F.min("ts").alias("tmin"),
            F.max("ts").alias("tmax"),
            F.sum(F.xxhash64("ts", "item", "x", "y", "value")
                  .cast("decimal(38,0)")).alias("sh")).collect()[0]
        return {"n_events": int(fp["n"]),
                "min_ts": int(fp["tmin"]) if fp["tmin"] is not None else None,
                "max_ts": int(fp["tmax"]) if fp["tmax"] is not None else None,
                "sum_hash": int(fp["sh"]) % (1 << 64)
                if fp["sh"] is not None else None}

    @staticmethod
    def _combine_fingerprints(fa: dict, fb: dict) -> dict:
        """Fingerprint of A ∪ B from the fingerprints of A and B — every
        component is a commutative monoid (count sum, ts min/max, hash
        sum mod 2^64), so an incremental snapshot can record the union
        identity without rescanning the base input."""
        def _mm(f, a, b):
            vals = [v for v in (a, b) if v is not None]
            return f(vals) if vals else None
        for f in (fa, fb):
            if "sum_hash" not in f:
                # pre-sum_hash manifests carried xor_hash, which is not
                # union-combinable (XOR cancels duplicate rows) — fail
                # with the remedy instead of a bare KeyError (ADVICE r3)
                raise ValueError(
                    "manifest predates sum_hash fingerprints (found "
                    f"keys {sorted(f)}); incremental merge needs a "
                    "multiplicity-sensitive fingerprint — rebuild the "
                    "snapshot (SketchStore.build) before merge_events")
        return {
            "n_events": fa["n_events"] + fb["n_events"],
            "min_ts": _mm(min, fa["min_ts"], fb["min_ts"]),
            "max_ts": _mm(max, fa["max_ts"], fb["max_ts"]),
            "sum_hash": ((fa["sum_hash"] or 0) + (fb["sum_hash"] or 0))
            % (1 << 64)
            if fa["sum_hash"] is not None or fb["sum_hash"] is not None
            else None,
        }

    def merge_events(self, new_events: DataFrame,
                     mode: str = "zorder") -> "SketchStore":
        """Incremental batch update — the table-level mirror of the
        reference's continuous ``Update()`` (SpatialSketch.cpp:535-599)
        and the MERGE INTO-style posture the Iceberg north rule names:
        build the sketch DELTA from ``new_events`` only, monoid-merge it
        into this snapshot's table, and write a NEW snapshot (data dir
        ``sketch_s<seq>``, manifest repointed, parent recorded — old
        snapshot dirs stay readable). Because every kernel's merge is a
        commutative monoid, ``build(A).merge_events(B)`` equals
        ``build(A ∪ B)`` bit-for-bit per kernel kind (asserted in
        tests/test_geo_pipeline.py); the union input fingerprint is
        combined arithmetically, so a later ``build_or_load`` over
        A ∪ B serves the merged snapshot without a rebuild."""
        if "input_fingerprint" not in self.manifest:
            raise ValueError(
                "merge_events needs a store whose manifest carries an "
                "input fingerprint to combine (SketchStore.build/"
                "build_or_load/load, a streaming as_store() view, or a "
                "compact()ed streaming snapshot)")
        t0 = time.time()
        spark = self.spark
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        delta = build_sketch_df(new_events, self.cfg, self.kind,
                                self.min_level, mode=mode)
        merged = (self.df.unionByName(delta)
                  .repartition(p, "grid_key", "cell")
                  .mapInPandas(_merge_partitions(self.cfg, self.kind),
                               schema=SKETCH_SCHEMA))
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        if self.path:
            # optimistic concurrency (Iceberg commit semantics): the
            # on-disk manifest must still be the snapshot this store
            # was opened at — a second merge_events from the same stale
            # base would otherwise recompute the same seq and OVERWRITE
            # the first merge's data dir while its store still reads it
            try:
                with open(f"{self.path}/manifest.json") as f:
                    disk = json.load(f)
            except OSError:
                disk = {}
            if (disk.get("snapshot_seq", 0)
                    != self.manifest.get("snapshot_seq", 0)):
                raise ValueError(
                    f"concurrent snapshot commit detected at {self.path}:"
                    f" on-disk seq {disk.get('snapshot_seq', 0)} != this "
                    f"store's seq {self.manifest.get('snapshot_seq', 0)} "
                    "— reload the store and re-apply the delta")
            data_dir = f"sketch_s{seq}"
            merged.write.mode("overwrite").partitionBy("grid_key") \
                  .parquet(f"{self.path}/{data_dir}")
            merged = spark.read.parquet(f"{self.path}/{data_dir}")
        else:
            data_dir = None
            merged = merged.cache()
            merged.count()
        delta_fp = self.fingerprint_events(new_events)
        delta_lineage = [
            {"partition": int(r["pid"]), "events": int(r["cnt"]),
             "snapshot_seq": seq}
            for r in new_events.groupBy(
                F.spark_partition_id().alias("pid")).count()
            .withColumnRenamed("count", "cnt").collect()
        ]
        stats = merged.agg(
            F.count("*").alias("cells"),
            F.sum("n_events").alias("merged_events")).collect()[0]
        manifest = dict(self.manifest)
        manifest["input_fingerprint"] = self._combine_fingerprints(
            self.manifest["input_fingerprint"], delta_fp)
        manifest["snapshot_seq"] = seq
        manifest["parent_data_dir"] = self.manifest.get(
            "data_dir", "sketch" if self.path else None)
        manifest["lineage"] = (self.manifest.get("lineage", [])
                               + sorted(delta_lineage,
                                        key=lambda r: r["partition"]))
        manifest["metrics"] = dict(self.manifest.get("metrics", {}))
        manifest["metrics"].update({
            "sketch_cells": int(stats["cells"]),
            "merged_events": int(stats["merged_events"]),
            "input_events": (self.manifest.get("metrics", {})
                             .get("input_events", 0)
                             + delta_fp["n_events"]),
            f"merge_s{seq}_wall_s": round(time.time() - t0, 3),
            f"merge_s{seq}_delta_events": delta_fp["n_events"],
        })
        store = SketchStore(spark, merged, self.cfg, self.kind,
                            self.min_level, manifest, self.path)
        store._record_serve_index()
        if self.path:
            manifest["data_dir"] = data_dir
            self._commit_manifest(self.path, manifest)
        return store

    def rollback(self, to_seq: int) -> "SketchStore":
        """Iceberg rollback: make snapshot ``to_seq`` current again by
        committing a NEW snapshot (next seq) that points at the old
        snapshot's data dir and restores its input fingerprint/lineage.
        History is preserved — the rolled-back-over commits stay
        readable via time travel until expired — and later
        merge_events calls layer on top of the restored state. Only
        valid on the current snapshot (optimistic concurrency, same as
        merge_events)."""
        if not self.path:
            raise ValueError("rollback needs a path-backed store")
        try:
            with open(f"{self.path}/manifest.json") as f:
                disk = json.load(f)
        except OSError:
            disk = {}
        if (disk.get("snapshot_seq", 0)
                != self.manifest.get("snapshot_seq", 0)):
            raise ValueError(
                f"concurrent snapshot commit detected at {self.path}: "
                "reload the store before rolling back")
        try:
            with open(f"{self.path}/manifest_s{int(to_seq)}.json") as f:
                target = json.load(f)
        except OSError as e:
            have = [m.get("snapshot_seq", 0)
                    for m in self.snapshots(self.path)]
            raise ValueError(f"no snapshot seq {to_seq} at {self.path};"
                             f" committed seqs: {have}") from e
        seq = int(self.manifest.get("snapshot_seq", 0)) + 1
        manifest = dict(target)
        manifest["snapshot_seq"] = seq
        manifest["rolled_back_from"] = int(
            self.manifest.get("snapshot_seq", 0))
        manifest["rolled_back_to"] = int(to_seq)
        self._commit_manifest(self.path, manifest)
        df = self.spark.read.parquet(
            f"{self.path}/{manifest.get('data_dir', 'sketch')}")
        return SketchStore(self.spark, df, self.cfg, self.kind,
                           manifest["min_level"], manifest, self.path)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg expire-snapshots maintenance: drop committed
        snapshots older than the newest ``keep_last``, deleting their
        immutable manifest files and any data dir no retained snapshot
        still references. The current snapshot is always retained
        (keep_last >= 1 enforced). Time-travel reads to an expired seq
        fail with the committed-seqs error afterwards — the same
        contract as Iceberg's expire_snapshots. Returns expired seqs."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current "
                             "snapshot cannot be expired)")
        if not self.path:
            return []
        hist = self.snapshots(self.path)
        expired, retained = hist[:-keep_last], hist[-keep_last:]
        keep_dirs = {m.get("data_dir") for m in retained}
        out = []
        for m in expired:
            seq = int(m.get("snapshot_seq", 0))
            dd = m.get("data_dir")
            if dd and dd not in keep_dirs:
                shutil.rmtree(f"{self.path}/{dd}", ignore_errors=True)
            try:
                os.remove(f"{self.path}/manifest_s{seq}.json")
            except OSError:
                pass
            out.append(seq)
        return out

    @classmethod
    def build_or_load(cls, spark: SparkSession, events: DataFrame,
                      cfg: SketchConfig, kind: str, min_level: int,
                      path: str) -> "SketchStore":
        try:
            st = cls.load(spark, path, cfg, kind)
            m = st.manifest
            mc = m.get("cfg", {})
            # pin EVERY parameter that changes payload layout or hash
            # coefficients — a snapshot built at different eps/delta has
            # differently-shaped CM counters, and the raw-buffer codec
            # would reshape them silently instead of failing loudly
            if (m.get("kind") == kind and m.get("min_level") == min_level
                    and mc.get("n") == cfg.n
                    and mc.get("exact") == cfg.exact
                    and mc.get("seed") == cfg.seed
                    and mc.get("eps") == cfg.eps
                    and mc.get("delta") == cfg.delta
                    and mc.get("item_domain") == cfg.item_domain
                    and sorted(map(tuple, mc.get("dropped_grids", [])))
                    == sorted(cfg.dropped_grids)
                    and m.get("input_fingerprint")
                    == cls.fingerprint_events(events)):
                return st
        except (OSError, ValueError, KeyError):
            pass
        return cls.build(spark, events, cfg, kind, min_level, path)
