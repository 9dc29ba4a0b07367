"""Driver-side serving index (``geo.build.ServeIndex``): count and CM
freq answers from prefix sums over the finest live grid must equal the
Spark path bit for bit — the pid-granular estimator (reached by setting
the driver budget to 0) and the DataFrame ``query()`` surface — on
every way a store comes to exist."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from spatialsketch_spark.config import SketchConfig
from spatialsketch_spark.gate import POLYGONS
from spatialsketch_spark.geo.build import SketchStore
from spatialsketch_spark.geo.events import ITEM_DOMAIN, derive_geo_events
from spatialsketch_spark.geo.query import QuerySpec, SpatialSketchEngine

from conftest import SF_ORACLE

N = 4096
MIN_LEVEL = 4
CM_CFG = SketchConfig.realistic(n=N, eps=0.1, delta=0.05,
                                item_domain=ITEM_DOMAIN)


@pytest.fixture(scope="module")
def events(spark):
    return derive_geo_events(spark, SF_ORACLE, N).cache()


@pytest.fixture(scope="module")
def cm_store(spark, events):
    return SketchStore.build(spark, events.where(F.col("ts") % 4 != 0),
                             CM_CFG, "cm", MIN_LEVEL)


def batch(with_freq=True):
    """count (+ freq) pairs over off-lattice rects (fractional coverage
    at the 16-cell floor), a single-cell rect, an empty placement and
    the fixture polygons moved off the lattice (POLY_HOLED has two
    rings)."""
    rects = [[(3, 5, 2050, 1500)], [(1000, 7, 1010, 4095)],
             [(17, 33, 17, 33)], [(0, 0, 4095, 4095)],
             [(100, 100, 1000, 900), (2001, 2001, 2500, 3333)], []]
    rects += [QuerySpec.from_shape(0, p, x_off=5, y_off=-3).ranges
              for p in POLYGONS]
    qs = []
    for i, r in enumerate(rects):
        qs.append(QuerySpec(len(qs), r, "count"))
        if with_freq:
            qs.append(QuerySpec(len(qs), r, "freq", item=(7 * i) % 256))
    return qs


def spark_twin(store):
    """The same table and manifest as ``store``, but a fresh memo."""
    return SketchStore(store.spark, store.df, store.cfg, store.kind,
                       store.min_level, store.manifest, store.path)


def assert_paths_agree(store, qs, monkeypatch):
    assert store.serve_index() is not None
    got = SpatialSketchEngine(store).query_values(qs)
    want = {int(r["qid"]): int(r["est"])
            for r in SpatialSketchEngine(store).query(qs).collect()}
    with monkeypatch.context() as m:
        m.setattr(SketchStore, "SERVE_INDEX_BYTES", 0)
        twin = spark_twin(store)
        assert twin.serve_index() is None
        fallback = SpatialSketchEngine(twin).query_values(qs)
    assert got == want == fallback
    assert len(got) == len(qs)
    return got


def test_cm_index_matches_spark_path(cm_store, monkeypatch):
    idx = cm_store.serve_index()
    assert idx.cm is not None
    assert idx.cm.shape == (N // 16 + 1, N // 16 + 1, CM_CFG.cm_depth,
                            CM_CFG.cm_width)
    m = cm_store.manifest["metrics"]
    assert m["serve_index_bytes"] == idx.nbytes > 0
    assert m["serve_index_s"] >= 0
    got = assert_paths_agree(cm_store, batch(), monkeypatch)
    assert sum(got.values()) > 0


def test_dense_cm_index_fractional_coverage(spark, monkeypatch):
    """A store dense enough that fractional-coverage cells carry
    non-zero CM estimates (~40 events per finest cell), so trunc per
    cell is exercised on freq as well as count; off-lattice rects and a
    two-ring polygon."""
    from spatialsketch_spark.core.partitioner import Shape
    n = 64
    cfg = dataclasses.replace(CM_CFG, n=n)
    st = SketchStore.build(spark, derive_geo_events(spark, SF_ORACLE, n),
                           cfg, "cm", 2)
    holed = Shape(rings=[[(0.5, 1.5), (60.5, 1.5), (60.5, 57.5),
                          (0.5, 57.5)],
                         [(20.5, 21.5), (41.5, 21.5), (41.5, 38.5),
                          (20.5, 38.5)]], grid_size=n)
    regions = [[(1, 2, 45, 30)], [(5, 5, 6, 62)], [(0, 0, 63, 63)],
               [(3, 3, 9, 9), (33, 10, 50, 61)],
               QuerySpec.from_shape(0, holed).ranges]
    qs = []
    for i, r in enumerate(regions):
        qs.append(QuerySpec(len(qs), r, "count"))
        for item in (3, 17, 42):
            qs.append(QuerySpec(len(qs), r, "freq", item=item + i))
    got = assert_paths_agree(st, qs, monkeypatch)
    assert min(got.values()) > 0


def test_cm_index_keeps_cm_guards(cm_store):
    eng = SpatialSketchEngine(cm_store)
    r = [(0, 0, 100, 100)]
    with pytest.raises(ValueError, match="point frequencies only"):
        eng.query_values([QuerySpec(0, r, "freq", item=3, item_end=9)])
    with pytest.raises(ValueError, match="no time dimension"):
        eng.query_values([QuerySpec(0, r, "freq", item=3, t0=5)])
    with pytest.raises(ValueError, match="not answerable"):
        eng.query_values([QuerySpec(0, r, "window", item=3, t0=5)])


def test_exact_store_with_dropped_grids(spark, events, monkeypatch):
    """DynSketch-style store: counts come from the index through the
    effective_cover rewrite; exact-mode freq stays on the Spark path in
    the same batch."""
    L = N.bit_length() - 1
    dropped = frozenset((kx, ky) for kx in range(MIN_LEVEL, L + 1)
                        for ky in range(MIN_LEVEL, L + 1)
                        if (kx + ky) % 2 == 1)
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N,
                                  dropped_grids=dropped)
    st = SketchStore.build(spark, events.limit(3000), cfg, "exact",
                           MIN_LEVEL)
    assert st.serve_index().cm is None
    assert_paths_agree(st, batch(), monkeypatch)


def test_index_after_merge_events(spark, events, cm_store, monkeypatch):
    merged = cm_store.merge_events(events.where(F.col("ts") % 4 == 0))
    assert merged.manifest["metrics"]["serve_index_bytes"] > 0
    got = assert_paths_agree(merged, batch(), monkeypatch)
    full = SketchStore.build(spark, events, CM_CFG, "cm", MIN_LEVEL)
    assert SpatialSketchEngine(full).query_values(batch()) == got


def test_index_after_load_and_rollback(spark, events, tmp_path,
                                       monkeypatch):
    path = str(tmp_path / "store")
    st = SketchStore.build(spark, events.limit(3000), CM_CFG, "cm",
                           MIN_LEVEL, path=path)
    st.merge_events(events.limit(500))
    loaded = SketchStore.load(spark, path, CM_CFG, "cm")
    assert loaded._serve is None              # built lazily, on first use
    assert_paths_agree(loaded, batch(), monkeypatch)
    back = loaded.rollback(0)
    assert (SpatialSketchEngine(back).query_values(batch())
            == SpatialSketchEngine(st).query_values(batch()))


def test_reassigned_df_rebuilds_index(spark, events, monkeypatch):
    st = SketchStore.build(spark, events.limit(2000), CM_CFG, "cm",
                           MIN_LEVEL)
    other = SketchStore.build(spark, events.where(F.col("ts") % 3 == 0),
                              CM_CFG, "cm", MIN_LEVEL)
    before = SpatialSketchEngine(st).query_values(batch())
    old = st.serve_index()
    st.df = other.df
    got = assert_paths_agree(st, batch(), monkeypatch)
    assert st.serve_index() is not old
    assert got == SpatialSketchEngine(other).query_values(batch())
    assert got != before


def test_index_batch_starts_no_spark_job(spark, cm_store, monkeypatch):
    """A count+freq batch on an in-budget CM store is answered on the
    driver; the same batch through the Spark path does start jobs
    (the control that shows the probe can see them)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    qs = batch()

    def jobs(group, store):
        sc.setJobGroup(group, group)
        try:
            SpatialSketchEngine(store).query_values(qs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    assert cm_store.serve_index() is not None
    assert jobs("serve-index-probe", cm_store) == []
    monkeypatch.setattr(SketchStore, "SERVE_INDEX_BYTES", 0)
    assert jobs("serve-spark-probe", spark_twin(cm_store)) != []


def test_over_budget_store_keeps_spark_path(spark, events, monkeypatch):
    monkeypatch.setattr(SketchStore, "SERVE_INDEX_BYTES", 1 << 20)
    st = SketchStore.build(spark, events.limit(1000), CM_CFG, "cm",
                           MIN_LEVEL)
    assert st.manifest["metrics"]["serve_index_bytes"] == 0
    assert st.serve_index() is None
    want = {int(r["qid"]): int(r["est"])
            for r in SpatialSketchEngine(st).query(batch()).collect()}
    assert SpatialSketchEngine(st).query_values(batch()) == want


def test_streaming_view_with_partials_keeps_spark_path(spark, tmp_path):
    """An uncompacted streaming view holds one partial row per batch
    per cell; the Spark path estimates each partial separately, so the
    view gets no index until compact() merges them."""
    from spatialsketch_spark.streaming.sketch_stream import StreamingSketch
    n = 64
    ev = derive_geo_events(spark, SF_ORACLE, n) \
        .where(F.col("ts") % 5 == 0).cache()
    cfg = dataclasses.replace(CM_CFG, n=n)
    ss = StreamingSketch(spark, cfg, "cm", 0, str(tmp_path / "sk"))
    ss._process_batch(ev.where(F.col("ts") % 2 == 0), 0)
    one = ss.as_store()
    assert not one.cell_partials and one.serve_index() is not None
    ss._process_batch(ev.where(F.col("ts") % 2 == 1), 1)
    view = ss.as_store()
    assert view.cell_partials and view.serve_index() is None
    qs = [QuerySpec(0, [(0, 0, 63, 63)], "count"),
          QuerySpec(1, [(0, 0, 63, 63)], "freq", item=3)]
    want = {int(r["qid"]): int(r["est"])
            for r in SpatialSketchEngine(view).query(qs).collect()}
    assert SpatialSketchEngine(view).query_values(qs) == want
    compacted = ss.compact()
    assert compacted.serve_index() is not None
    assert SpatialSketchEngine(compacted).query_values(qs)[0] == ev.count()
