"""Similarity search over embedding columns (array<float>).

Cross-engine determinism trick: components are quantized to integers
(round(v * 10^6)) so dot products and squared norms are *exact int64*
in both Spark and DuckDB; the final cosine ordering divides exact
integers in IEEE double (identical in both engines). Output columns are
integers only.

- ``cosine_topk``: brute-force exact top-k (the baseline / verifier).
  Broadcast the query side; candidate generation is a broadcast
  nested-loop join; ranking is one window per qid (parallel across
  qids, no global sort).
- ``lsh_topk``: the scale path — random-hyperplane (SimHash) bucketing
  computed as ONE numpy matmul per Arrow batch against a seeded ±1
  plane matrix regenerated on every executor (deterministic; no driver
  action, no per-dimension Catalyst expressions — at dim=768 the
  expression-tree form would be ~12k Column nodes per projection);
  exact re-ranking within multi-probe buckets reuses the byte-identical
  quantized arithmetic of ``cosine_topk``.
- ``lsh_dup_pairs``: bucketed near-duplicate pairs — LSH candidates
  (pairs colliding in any table, within ``probe_bits`` of each other)
  followed by the exact integer-cosine >= tau recheck. Replaces the
  all-pairs join as the gated/scale path; ``cosine_dup_pairs`` remains
  the brute-force verifier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

QUANT = 1_000_000
N_TABLES = 4          # independent hyperplane tables (band OR-construction)
PLANES_PER_TABLE = 4  # bits per bucket key (AND-construction)
PLANE_SEED = 7


def quantize(col):
    return F.transform(col, lambda v: F.round(v * QUANT, 0).cast("bigint"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _norm2(a):
    return _dot(a, a)


def with_quantized(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", quantize(F.col("embedding")).alias("qv")) \
              .withColumn("n2", _norm2(F.col("qv")))


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 5
                ) -> DataFrame:
    """Exact cosine top-k (self excluded). -> (qid, rank, vec_id)."""
    q = with_quantized(emb).where(F.col("vec_id").isin(query_ids)) \
        .select(F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
                F.col("n2").alias("qn2"))
    c = with_quantized(emb)
    d = (c.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
         .withColumn("dot", _dot(F.col("qv"), F.col("qqv")))
         .withColumn("cos", F.col("dot") /
                     F.sqrt(F.col("n2").cast("double")
                            * F.col("qn2").cast("double"))))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (d.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").cast("bigint"),
                    F.col("rank").cast("bigint"),
                    F.col("vec_id").cast("bigint")))


def plane_matrix(dim: int, n_planes: int, seed: int = PLANE_SEED
                 ) -> np.ndarray:
    """Deterministic ±1 hyperplane matrix (dim, n_planes) — regenerated
    identically on every executor from the seed (shared with tests)."""
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(dim, n_planes),
                         dtype=np.int64) * 2 - 1)


def simhash_buckets(emb: DataFrame, n_tables: int = N_TABLES,
                    planes_per_table: int = PLANES_PER_TABLE,
                    seed: int = PLANE_SEED) -> DataFrame:
    """Random-hyperplane bucketing, one bucket id per table: bit p of
    table t = sign of the dot product with a ±1 hyperplane. Multiple
    independent tables (OR-construction) keep recall usable on
    weakly-correlated data.

    All projections for an Arrow batch are ONE numpy matmul
    (B x dim) @ (dim x n_planes) inside mapInPandas; dim is taken from
    the batch on the executor — no driver action, no data-dependent
    plan. The raw embedding is carried through so callers apply the
    same quantized re-rank arithmetic as the brute-force baseline.
    -> (vec_id, embedding, buckets: array<bigint>[n_tables])."""
    n_planes = n_tables * planes_per_table
    weights = (1 << np.arange(planes_per_table, dtype=np.int64))

    def fn(batches):
        planes = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            if planes is None:
                planes = plane_matrix(mat.shape[1], n_planes, seed)
            bits = (mat @ planes) > 0                    # (B, n_planes)
            buckets = bits.reshape(len(pdf), n_tables,
                                   planes_per_table) @ weights
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": pdf["embedding"],
                                "buckets": list(buckets)})

    return emb.select("vec_id", "embedding").mapInPandas(
        fn, schema="vec_id BIGINT, embedding ARRAY<FLOAT>, "
                   "buckets ARRAY<BIGINT>")


# keyed cache for the bucketed relation: it feeds BOTH sides of the
# lsh_topk / lsh_dup_pairs self-joins and is shared across gate runs over
# the same input — without it the mapInPandas bucketing executes once per
# consumer (VERDICT r2 item 2). Keyed by the ANALYZED plan's semantic
# hash + LSH params, bounded LRU, evicted entries unpersisted.
_BT_CACHE: dict = {}
_BT_CACHE_MAX = 4


def _semantic_key(df: DataFrame):
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:       # Spark Connect / API drift: don't share —
        return None         # id(df) could alias a recycled address


def _session_key(df: DataFrame):
    """Stable identity of the owning session for cache keys.

    ``id(session)`` of a stopped, garbage-collected session can be
    recycled by a new session object (ADVICE r3), which would serve the
    new session a cached DataFrame bound to a dead one.  The
    applicationId embeds the context start timestamp, so it is never
    reused across restarts; if it is unreachable (Connect), return None
    so the caller skips sharing entirely."""
    try:
        return df.sparkSession.sparkContext.applicationId
    except Exception:
        return None


def clear_lsh_cache() -> None:
    """Drop every cached bucketed relation. Call after re-writing an
    embeddings source IN PLACE: the cache is keyed by the analyzed plan
    (path/schema), so an overwritten path would otherwise serve buckets
    of the old data — the same staleness contract as Spark's own
    .cache() over rewritten files."""
    while _BT_CACHE:
        _, df = _BT_CACHE.popitem()
        try:
            df.unpersist()
        except Exception:
            pass            # owning session already stopped


def _bucketed_quantized(emb: DataFrame, n_tables: int, planes_per_table: int,
                        seed: int = PLANE_SEED) -> DataFrame:
    """(vec_id, qv, n2, table, bucket) — one row per hash table.
    Cached (see _BT_CACHE above; clear_lsh_cache after in-place source
    rewrites)."""
    sk = _semantic_key(emb)
    # session identity in the key: semantic hashes can collide across
    # sessions (same parquet path), and a cached DF bound to a stopped
    # session must never be served to a new one
    ak = _session_key(emb)
    key = (ak, sk, n_tables, planes_per_table, seed)
    if sk is None or ak is None:
        sk = None           # unkeyable: per-call cache only
    if sk is not None:
        hit = _BT_CACHE.pop(key, None)
        if hit is not None:
            _BT_CACHE[key] = hit        # refresh LRU position
            return hit
    b = simhash_buckets(emb, n_tables, planes_per_table, seed)
    bt = (b.withColumn("qv", quantize(F.col("embedding")))
          .withColumn("n2", _norm2(F.col("qv")))
          .select("vec_id", "qv", "n2",
                  F.posexplode("buckets").alias("table", "bucket"))
          .cache())
    if sk is None:
        return bt           # unkeyable plan: per-call cache only
    _BT_CACHE[key] = bt
    while len(_BT_CACHE) > _BT_CACHE_MAX:
        evicted = _BT_CACHE.pop(next(iter(_BT_CACHE)))
        try:
            evicted.unpersist()
        except Exception:
            pass            # owning session already stopped
    return bt


def _probe_starts(planes_per_table: int, probe_bits: int):
    """Bucket keys within hamming distance ``probe_bits`` (0, 1 or 2)."""
    probes = [F.col("qbucket")]
    if probe_bits >= 1:
        probes += [F.col("qbucket").bitwiseXOR(F.lit(1 << p))
                   for p in range(planes_per_table)]
    if probe_bits >= 2:
        probes += [F.col("qbucket").bitwiseXOR(F.lit((1 << p) | (1 << q)))
                   for p in range(planes_per_table)
                   for q in range(p + 1, planes_per_table)]
    return probes


def lsh_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_tables: int = N_TABLES,
             planes_per_table: int = PLANES_PER_TABLE,
             probe_bits: int = 1) -> DataFrame:
    """Approximate top-k: candidates share the query's bucket in ANY
    table, exactly or within hamming distance probe_bits (multi-probe);
    exact cosine re-rank on candidates. -> (qid, rank, vec_id)."""
    bt = _bucketed_quantized(emb, n_tables, planes_per_table)
    q = bt.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
        F.col("n2").alias("qn2"), F.col("table").alias("qtable"),
        F.col("bucket").alias("qbucket"))
    q = q.withColumn("probe", F.explode(F.array(
        *_probe_starts(planes_per_table, probe_bits))))
    cand = bt.join(F.broadcast(q),
                   (F.col("table") == F.col("qtable"))
                   & (F.col("bucket") == F.col("probe"))
                   & (F.col("vec_id") != F.col("qid"))).dropDuplicates(
        ["qid", "vec_id"])
    d = (cand.withColumn("dot", _dot(F.col("qv"), F.col("qqv")))
         .withColumn("cos", F.col("dot") /
                     F.sqrt(F.col("n2").cast("double")
                            * F.col("qn2").cast("double"))))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (d.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").cast("bigint"),
                    F.col("rank").cast("bigint"),
                    F.col("vec_id").cast("bigint")))


def cosine_dup_pairs(emb: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Brute-force embedding-cosine near-duplicate pairs: all (a < b)
    with cos(a, b) >= threshold. VERIFIER ONLY — the all-pairs join is
    O(n^2); the gated/scale path is ``lsh_dup_pairs`` (equal output at
    a recall-complete config, asserted in tests). Exact integer dot
    products; the double division/threshold compare is bit-identical
    cross-engine. -> (vec_a, vec_b)."""
    q = with_quantized(emb)
    a = q.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"),
                 F.col("n2").alias("na2"))
    b = q.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"),
                 F.col("n2").alias("nb2"))
    d = (a.join(b, F.col("vec_a") < F.col("vec_b"))
         .withColumn("cos", _dot(F.col("qa"), F.col("qb")) /
                     F.sqrt(F.col("na2").cast("double")
                            * F.col("nb2").cast("double"))))
    return (d.where(F.col("cos") >= threshold)
            .select(F.col("vec_a").cast("bigint"),
                    F.col("vec_b").cast("bigint")))


def lsh_dup_pairs(emb: DataFrame, threshold: float = 0.3,
                  n_tables: int = N_TABLES,
                  planes_per_table: int = PLANES_PER_TABLE,
                  probe_bits: int = 1) -> DataFrame:
    """Bucketed embedding near-duplicate pairs — the 100 TB path the
    all-pairs ``cosine_dup_pairs`` join lacks: candidates are pairs
    whose bucket keys collide in ANY table within hamming distance
    ``probe_bits`` (an equi-join on (table, bucket) — pair blowup is
    bounded by bucket collisions, never |n|^2), then the exact
    integer-quantized cosine >= threshold recheck, byte-identical to
    the brute-force verifier's arithmetic.

    Recall is a config property: P[miss] = P[keys differ by > probe_bits
    bits]^n_tables per pair. The gate runs a recall-complete config for
    the fixture's cosine range (see gate_pipeline.q_lsh_dups);
    tests assert candidates ⊇ brute-force pairs there.
    -> (vec_a, vec_b)."""
    # r8 (guide §8 "decide with small rows, move big rows once"): the
    # old form carried both quantized vectors through the candidate
    # join AND the dropDuplicates — with 2-plane tables the bucket
    # fan-in made ~24M candidate occurrences at sf0.1, shuffling ~1 KB
    # rows and computing a dot product PER OCCURRENCE (42 s cold).
    # Candidates now join and dedup as bare id pairs; the vectors
    # re-attach by two hash joins afterwards, so the exact cosine
    # recheck runs once per UNIQUE pair. Same pairs, same arithmetic.
    bt = _bucketed_quantized(emb, n_tables, planes_per_table)
    a = bt.select(F.col("vec_id").alias("vec_a"), "table",
                  F.col("bucket").alias("qbucket"))
    a = a.withColumn("probe", F.explode(F.array(
        *_probe_starts(planes_per_table, probe_bits)))).drop("qbucket")
    b = bt.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
    cand = (a.join(b, (a["table"] == b["table"])
                   & (F.col("probe") == F.col("bucket"))
                   & (F.col("vec_a") < F.col("vec_b")))
            .select("vec_a", "vec_b")
            .dropDuplicates(["vec_a", "vec_b"]))
    qt = (bt.select("vec_id", "qv", "n2")
          .dropDuplicates(["vec_id"]))
    d = (cand
         .join(qt.select(F.col("vec_id").alias("vec_a"),
                         F.col("qv").alias("qa"),
                         F.col("n2").alias("na2")), "vec_a")
         .join(qt.select(F.col("vec_id").alias("vec_b"),
                         F.col("qv").alias("qb"),
                         F.col("n2").alias("nb2")), "vec_b")
         .withColumn("cos", _dot(F.col("qa"), F.col("qb")) /
                     F.sqrt(F.col("na2").cast("double")
                            * F.col("nb2").cast("double"))))
    return (d.where(F.col("cos") >= threshold)
            .select(F.col("vec_a").cast("bigint"),
                    F.col("vec_b").cast("bigint")))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to LSH
# ---------------------------------------------------------------------------
#
# LSH prunes by random-hyperplane buckets (data-independent); IVF prunes
# by LEARNED partitions: spherical k-means centroids, every vector
# assigned to its nearest centroid's inverted list, queries probing only
# the ``nprobe`` nearest lists. On clustered embeddings (the realistic
# case) the candidate set is ~nprobe/n_centroids of the data regardless
# of how tightly cosines concentrate — the regime where hyperplane
# buckets degenerate. Everything is deterministic: centroid updates are
# EXACT int64 per-dimension sums of quantized unit vectors (no
# float-sum partition-order sensitivity), ties in nearest-centroid
# argmax break to the lowest centroid id, and the final re-rank reuses
# the byte-identical quantized-cosine arithmetic of ``cosine_topk``.

IVF_SEED = 11


def _ivf_batches(it, centroids):
    """Yield (pdf, X, cid) per Arrow batch: embeddings as float64 rows
    and their nearest-centroid assignment (cosine == dot with unit
    centroids on unit-normalized rows; ties -> lowest cid)."""
    for pdf in it:
        if not len(pdf):
            continue
        X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        yield pdf, Xn, np.argmax(Xn @ centroids.T, axis=1)


def train_ivf_centroids(emb: DataFrame, n_centroids: int = 8,
                        n_iters: int = 4, seed: int = IVF_SEED,
                        train_fraction: float = 1.0) -> np.ndarray:
    """Spherical k-means. Init = the ``n_centroids`` vectors with the
    smallest xxhash64(vec_id, seed) (a deterministic distributed
    sample); each Lloyd iteration is ONE pass: per-partition partial
    stats (count + per-dimension int64 sums of round(unit_vec * QUANT))
    — a few KB per partition — combined on the driver in sorted order,
    so the update is exact integer arithmetic with no partition-order
    float drift. ``train_fraction`` sub-samples training input by the
    same hash (the 100 TB posture: train on a sample, assign
    everything). Returns (n_centroids, dim) float64 unit rows."""
    base = emb.select("vec_id", "embedding")
    if train_fraction < 1.0:
        base = base.where(
            F.pmod(F.xxhash64("vec_id", F.lit(seed)), 1_000_000)
            < int(train_fraction * 1_000_000))
    init = (base.withColumn("h", F.xxhash64("vec_id", F.lit(seed)))
            .orderBy("h", "vec_id").limit(n_centroids).collect())
    C = np.asarray([r["embedding"] for r in init], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1), 1e-12)[:, None]
    dim = C.shape[1]

    for _ in range(n_iters):
        cents = C

        def stats(it):
            for pdf, Xn, cid in _ivf_batches(it, cents):
                q = np.rint(Xn * QUANT).astype(np.int64)
                rows = []
                for c in np.unique(cid):
                    sel = q[cid == c]
                    rows.append({"cid": int(c), "cnt": int(len(sel)),
                                 "sums": sel.sum(axis=0,
                                                 dtype=np.int64).tolist()})
                yield pd.DataFrame(rows)

        partials = base.mapInPandas(
            stats, schema="cid INT, cnt BIGINT, sums ARRAY<BIGINT>"
        ).collect()
        sums = np.zeros((len(C), dim), dtype=np.int64)
        cnts = np.zeros(len(C), dtype=np.int64)
        for r in sorted(partials, key=lambda r: r["cid"]):
            sums[r["cid"]] += np.asarray(r["sums"], dtype=np.int64)
            cnts[r["cid"]] += r["cnt"]
        nxt = C.copy()                       # empty cluster: keep old
        nz = cnts > 0
        nxt[nz] = sums[nz] / (cnts[nz, None] * float(QUANT))
        nxt /= np.maximum(np.linalg.norm(nxt, axis=1), 1e-12)[:, None]
        C = nxt
    return C


_IVF_CACHE: dict = {}
_IVF_CACHE_MAX = 4


def _ivf_index(emb: DataFrame, n_centroids: int, n_iters: int,
               seed: int, train_fraction: float = 1.0):
    """(centroids, radii, assigned) where assigned = (vec_id, qv, n2,
    cid) cached hash-partitioned on cid — the inverted lists — and
    radii[i] = the list's angular radius max_x angle(x, c_i) (the
    pruning bound's per-list metadata, collected once at index build:
    n_centroids doubles). Same keyed LRU discipline as the LSH bucketed
    relation."""
    sk = _semantic_key(emb)
    ak = _session_key(emb)
    key = (ak, sk, "ivf", n_centroids, n_iters, seed, train_fraction)
    if sk is None or ak is None:
        sk = None           # unkeyable: per-call cache only
    if sk is not None and key in _IVF_CACHE:
        hit = _IVF_CACHE.pop(key)
        _IVF_CACHE[key] = hit
        return hit
    C = train_ivf_centroids(emb, n_centroids, n_iters, seed,
                            train_fraction)

    def assign(it):
        for pdf, Xn, cid in _ivf_batches(it, C):
            best = np.clip((Xn @ C.T)[np.arange(len(cid)), cid], -1.0, 1.0)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": pdf["embedding"],
                                "cid": cid.astype(np.int64),
                                "ang": np.arccos(best)})

    assigned = (emb.select("vec_id", "embedding")
                .mapInPandas(assign, schema=("vec_id BIGINT, embedding "
                                             "ARRAY<FLOAT>, cid BIGINT, "
                                             "ang DOUBLE"))
                .withColumn("qv", quantize(F.col("embedding")))
                .withColumn("n2", _norm2(F.col("qv")))
                .select("vec_id", "qv", "n2", "cid", "ang")
                .repartition(int(emb.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions")), "cid")
                .cache())
    radii = np.zeros(len(C))
    stats = assigned.groupBy("cid").agg(
        F.max("ang").alias("r"), F.min("n2").alias("mn2")).collect()
    min_n2 = min((int(r["mn2"]) for r in stats), default=0)
    for r in stats:
        radii[int(r["cid"])] = float(r["r"])
    eps = _ivf_eps(C.shape[1], min_n2)
    out = (C, radii, assigned, eps)
    if sk is None:
        return out
    _IVF_CACHE[key] = out
    while len(_IVF_CACHE) > _IVF_CACHE_MAX:
        _, _, evicted, _ = _IVF_CACHE.pop(next(iter(_IVF_CACHE)))
        try:
            evicted.unpersist()
        except Exception:
            pass
    return out


def _ivf_eps(dim: int, min_n2: int) -> float:
    """Slack for the adaptive prune: the float-space bound must never
    cut a quantized-space tie (ADVICE r3: the old fixed 1e-4 silently
    assumed unit-ish norms).

    qv = round(QUANT·v) perturbs each component by ≤ 0.5, so the
    relative vector error is ≤ 0.5·√dim / m with m = min quantized norm
    (√min_n2 ≈ QUANT·min‖v‖), and the cosine of any pair drifts by at
    most ~2·(ε_q + ε_x) ≤ 2·√dim/m between quantized and float space.
    We keep a 2× safety factor → eps = 4·√dim/m.  Degenerate inputs
    (near-zero norms, m < 10·√dim) disable pruning entirely (eps = 2
    ⇒ every list probed): the adaptive mode degrades to exhaustive,
    never to wrong."""
    rt = float(np.sqrt(dim))
    m = float(np.sqrt(min_n2))
    if m < 10.0 * rt:
        return 2.0
    return max(4.0 * rt / m, 1e-9)


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int = 8, nprobe: int | None = None,
             n_iters: int = 4, seed: int = IVF_SEED,
             train_fraction: float = 1.0) -> DataFrame:
    """IVF top-k over the inverted lists. Two probing modes:

    - ``nprobe=None`` (default) — ADAPTIVE, PROVABLY EXACT: phase 1
      ranks each query against its OWN list, giving a lower bound τ_q
      on the true kth-best cosine (τ_q = -1 if the list holds < k
      others). Phase 2 probes list i only when its best-case score
      cos(max(θ_qi − r_i, 0)) ≥ τ_q − ε, where θ_qi is the query-to-
      centroid angle and r_i the list's angular radius: for any x in
      list i, angle(q,x) ≥ θ_qi − r_i (triangle inequality on the
      sphere), so a pruned list cannot contain a top-k member. Exact
      output with data-dependent pruning — tight clusters prune hard,
      uniform data degrades to exhaustive, never to wrong answers.
    - ``nprobe=p`` — FIXED: probe the p nearest lists per query
      (classic approximate IVF; recall is data/config-dependent).

    Candidates are an equi-join on cid against the cached,
    cid-partitioned lists — per-query work is the probed fraction of
    the table, never O(n^2) — and each candidate appears exactly once
    (a vector lives in ONE list — no dropDuplicates, unlike
    multi-table LSH). Exact quantized-cosine re-rank, byte-identical
    to ``cosine_topk``. -> (qid, rank, vec_id)."""
    C, radii, assigned, eps = _ivf_index(emb, n_centroids, n_iters, seed,
                                         train_fraction)
    adaptive = nprobe is None
    np_ = n_centroids if adaptive else min(nprobe, n_centroids)

    def probes(it):
        for pdf, Xn, cid in _ivf_batches(it, C):
            scores = Xn @ C.T
            if adaptive:
                # every list, with its best-case (bound) score
                theta = np.arccos(np.clip(scores, -1.0, 1.0))
                bound = np.cos(np.maximum(theta - radii[None, :], 0.0))
                nq, nc = bound.shape
                yield pd.DataFrame({
                    "qid": np.repeat(pdf["vec_id"].to_numpy(), nc),
                    "qcid": np.repeat(cid.astype(np.int64), nc),
                    "pcid": np.tile(np.arange(nc, dtype=np.int64), nq),
                    "bound": bound.reshape(-1)})
            else:
                top = np.argsort(-scores, axis=1,
                                 kind="stable")[:, :np_]
                yield pd.DataFrame({
                    "qid": np.repeat(pdf["vec_id"].to_numpy(), np_),
                    "qcid": np.repeat(cid.astype(np.int64), np_),
                    "pcid": top.reshape(-1).astype(np.int64),
                    "bound": np.full(len(top) * np_, 2.0)})

    qrows = (emb.select("vec_id", "embedding")
             .where(F.col("vec_id").isin(query_ids))
             .mapInPandas(probes, schema=("qid BIGINT, qcid BIGINT, "
                                          "pcid BIGINT, bound DOUBLE")))
    qside = qrows.join(
        assigned.select(F.col("vec_id").alias("qid"),
                        F.col("qv").alias("qqv"),
                        F.col("n2").alias("qn2")), "qid")

    def _score(df):
        return (df.withColumn("dot", _dot(F.col("qv"), F.col("qqv")))
                .withColumn("cos", F.col("dot") /
                            F.sqrt(F.col("n2").cast("double")
                                   * F.col("qn2").cast("double"))))

    if adaptive:
        # phase 1: τ_q = kth-best quantized cosine within the query's
        # own list (a tiny equi-join — one list per query)
        own = _score(assigned.join(
            F.broadcast(qside.where(F.col("pcid") == F.col("qcid"))
                        .dropDuplicates(["qid"])
                        .select("qid", "qcid", "qqv", "qn2")),
            (F.col("cid") == F.col("qcid"))
            & (F.col("vec_id") != F.col("qid"))))
        wq = Window.partitionBy("qid").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
        tau = (own.withColumn("rk", F.row_number().over(wq))
               .where(F.col("rk") == k)
               .select("qid", F.col("cos").alias("tau")))
        qrows = (qrows.join(F.broadcast(tau), "qid", "left")
                 .where((F.col("bound")
                         >= F.coalesce(F.col("tau"), F.lit(-1.0))
                         - F.lit(eps))
                        | (F.col("pcid") == F.col("qcid"))))
        qside = qrows.join(
            assigned.select(F.col("vec_id").alias("qid"),
                            F.col("qv").alias("qqv"),
                            F.col("n2").alias("qn2")), "qid")

    cand = assigned.join(F.broadcast(qside),
                         (F.col("cid") == F.col("pcid"))
                         & (F.col("vec_id") != F.col("qid")))
    d = _score(cand)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (d.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").cast("bigint"),
                    F.col("rank").cast("bigint"),
                    F.col("vec_id").cast("bigint")))


# ---------------------------------------------------------------------------
# DuckDB oracle (brute-force cosine only; LSH is rows-only checked)
# ---------------------------------------------------------------------------


def oracle_cosine_dup_pairs(threshold: float = 0.3) -> str:
    return f"""
WITH qe AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
         CAST(ROUND(unnest(embedding) * {QUANT}) AS BIGINT) AS q
  FROM embeddings
),
norms AS (SELECT vec_id, SUM(q * q) AS n2 FROM qe GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.q * b.q) AS dot
  FROM qe a JOIN qe b ON a.idx = b.idx AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT CAST(d.vec_a AS BIGINT) AS vec_a, CAST(d.vec_b AS BIGINT) AS vec_b
FROM dots d JOIN norms na ON na.vec_id = d.vec_a
            JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dot / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
      >= {threshold}
ORDER BY vec_a, vec_b
"""

def oracle_cosine_topk(query_ids: list[int], k: int = 5) -> str:
    ids = ",".join(str(i) for i in query_ids)
    return f"""
WITH qe AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
         CAST(ROUND(unnest(embedding) * {QUANT}) AS BIGINT) AS q
  FROM embeddings
),
norms AS (SELECT vec_id, SUM(q * q) AS n2 FROM qe GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS qid, b.vec_id AS vec_id, SUM(a.q * b.q) AS dot
  FROM qe a JOIN qe b ON a.idx = b.idx AND a.vec_id IN ({ids})
            AND b.vec_id <> a.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.qid, d.vec_id,
         d.dot / SQRT(CAST(nq.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) AS cos
  FROM dots d JOIN norms nq ON nq.vec_id = d.qid
              JOIN norms nc ON nc.vec_id = d.vec_id
),
ranked AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id
FROM ranked WHERE rank <= {k} ORDER BY qid, rank
"""


def knn_label(emb: DataFrame, query_ids: list[int], k: int = 5
              ) -> DataFrame:
    """kNN majority-vote classification over the embedding space — the
    standard label-propagation/eval shape: each query point takes the
    modal label of its k exact-cosine neighbours (ties broken by the
    smaller label, fully deterministic).

    Builds on :func:`cosine_topk` (broadcast brute baseline — swap in
    `ivf_topk` candidates for the 100 TB path, same vote finisher).
    -> (qid, pred_label, n_votes).
    """
    top = cosine_topk(emb, query_ids, k)
    lab = emb.select("vec_id", F.col("label").cast("bigint")
                     .alias("pred_label"))
    votes = (top.join(lab, "vec_id")
             .groupBy("qid", "pred_label")
             .agg(F.count("*").cast("bigint").alias("n_votes")))
    w = Window.partitionBy("qid").orderBy(F.desc("n_votes"),
                                          F.asc("pred_label"))
    return (votes.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(F.col("qid").cast("bigint"), "pred_label",
                    "n_votes"))


def oracle_knn_label(query_ids: list[int], k: int = 5) -> str:
    inner = oracle_cosine_topk(query_ids, k)
    return f"""
WITH topk AS (SELECT * FROM ({inner})),
votes AS (
  SELECT t.qid, CAST(e.label AS BIGINT) AS pred_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.vec_id
  GROUP BY t.qid, e.label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY n_votes DESC, pred_label ASC) AS r
  FROM votes
)
SELECT CAST(qid AS BIGINT) AS qid, pred_label, n_votes
FROM ranked WHERE r = 1 ORDER BY qid
"""


# ---------------------------------------------------------------------------
# int8 vector quantization (r5)
# ---------------------------------------------------------------------------

def quantize_int8(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/serving
    compression step an embedding pipeline runs before ANN indexing
    (4x smaller, SIMD-friendly): ``q_i = floor(x_i * 127 / scale)``
    with ``scale = max|x_i|``, zero-vectors quantizing to zeros.

    Cross-engine exactness (the gate compares the full quantized
    vector bit-for-bit via q_csv): scale is a float32 so
    ``x*127`` is EXACT in double (24+7 mantissa bits < 53); the single
    division is correctly rounded IEEE in both Spark and DuckDB, and
    ``floor`` (unlike round-half) only disagrees at exact integers,
    which the quotient hits only at x = ±scale where the result is the
    exact integer ±127 in both engines. Pure codegen projection — no
    shuffle, no UDF; at 100 TB this is a map-only pass.

    -> (vec_id, n_dim, scale_micro, q_sum, q_min, q_max, q_csv)."""
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    df = emb.select(F.col("vec_id").cast("bigint"), x.alias("_x"))
    df = df.withColumn("_s", F.array_max(F.transform(F.col("_x"), F.abs)))
    q = F.transform(
        F.col("_x"),
        lambda v: F.when(F.col("_s") == 0.0, F.lit(0))
                   .otherwise(F.floor(v * F.lit(127.0) / F.col("_s")))
                   .cast("bigint"))
    return (df.withColumn("_q", q)
            .select("vec_id",
                    F.size("_q").cast("bigint").alias("n_dim"),
                    F.floor(F.col("_s") * 1e6).cast("bigint")
                    .alias("scale_micro"),
                    F.aggregate("_q", F.lit(0).cast("bigint"),
                                lambda a, v: a + v).alias("q_sum"),
                    F.array_min("_q").cast("bigint").alias("q_min"),
                    F.array_max("_q").cast("bigint").alias("q_max"),
                    F.array_join(F.transform(
                        F.col("_q"), lambda v: v.cast("string")), ",")
                    .alias("q_csv")))


def oracle_quantize_int8(src: str = "embeddings") -> str:
    return f"""
WITH b AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
         list_max(list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))) AS s
  FROM {src}
), qq AS (
  SELECT vec_id, s,
         list_transform(x, v -> CAST(
           CASE WHEN s = 0 THEN 0 ELSE floor(v * 127 / s) END
           AS BIGINT)) AS q
  FROM b
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(len(q) AS BIGINT) AS n_dim,
       CAST(floor(s * 1e6) AS BIGINT) AS scale_micro,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_min(q) AS BIGINT) AS q_min,
       CAST(list_max(q) AS BIGINT) AS q_max,
       array_to_string(q, ',') AS q_csv
FROM qq ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# fixed-point k-means (one Lloyd iteration, deterministic) (r5)
# ---------------------------------------------------------------------------

KMEANS_K = 8


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, xq) with xq = per-component floor(v * 1e6) as BIGINT —
    the fixed-point embedding every distance below is EXACT integer
    arithmetic over (float32 -> double -> *1e6 -> floor is the same
    correctly-rounded sequence in Spark and DuckDB)."""
    xq = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * 1e6).cast("bigint"))
    return emb.select(F.col("vec_id").cast("bigint"), xq.alias("xq"))


def kmeans_assign(emb: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Nearest-centroid assignment, the inner step of Lloyd's k-means,
    with fixed seed centroids = the vectors with vec_id < k (k-means'
    init is a sampling choice; the ITERATION is what a pipeline runs at
    scale). Squared-L2 in exact int64 fixed point, ties to the smaller
    centroid id — fully deterministic across engines, partitionings and
    retries (float k-means is famously not).

    Plan: the k-row centroid side joins via broadcast (no shuffle of
    the big side), distance is a codegen zip_with/aggregate fold, and
    the per-vector argmin is a k-row min of (d2, cid) structs inside
    one aggregation — at 100 TB this is one map-side pass over the
    embedding table. -> (vec_id, cid, d2)."""
    q = _quantized(emb)
    c = (q.where(F.col("vec_id") < k)
         .select(F.col("vec_id").alias("cid"), F.col("xq").alias("cq")))
    d2 = F.aggregate(
        F.zip_with("xq", "cq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    best = F.min(F.struct(F.col("_d2"), F.col("cid"))).alias("_best")
    return (q.join(F.broadcast(c))
            .withColumn("_d2", d2)
            .groupBy("vec_id").agg(best)
            .select("vec_id",
                    F.col("_best.cid").cast("bigint").alias("cid"),
                    F.col("_best._d2").cast("bigint").alias("d2")))


def kmeans_update(emb: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Centroid-update half of the Lloyd iteration: per (cid, dim) the
    member count and exact integer component sum (new centroid =
    s_micro / n in fixed point — kept as the raw sums so the gate
    compares pure integers). posexplode keeps the shuffle key
    (cid, dim) perfectly uniform; rows = k * dim, KB-sized at any
    corpus scale. -> (cid, dim, n_assigned, s_micro)."""
    a = kmeans_assign(emb, k)
    q = _quantized(emb)
    return (a.join(q, "vec_id")
            .select("cid", F.posexplode("xq").alias("dim0", "v"))
            .groupBy("cid", (F.col("dim0") + 1).alias("dim"))
            .agg(F.count("*").cast("bigint").alias("n_assigned"),
                 F.sum("v").cast("bigint").alias("s_micro"))
            .select(F.col("cid").cast("bigint"),
                    F.col("dim").cast("bigint"), "n_assigned", "s_micro"))


_KM_Q_SQL = """
q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xq
  FROM {src}
),
c AS (SELECT vec_id AS cid, xq AS cq FROM q WHERE vec_id < {k}),
dist AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(range(1, len(q.xq) + 1),
                  i -> (q.xq[i] - c.cq[i]) * (q.xq[i] - c.cq[i]))) AS d2
  FROM q CROSS JOIN c
),
assign AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dist) WHERE rn = 1
)"""


def oracle_kmeans_assign(k: int = KMEANS_K,
                         src: str = "embeddings") -> str:
    return f"""
WITH {_KM_Q_SQL.format(src=src, k=k)}
SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(d2 AS BIGINT) AS d2
FROM assign ORDER BY vec_id
"""


def oracle_kmeans_update(k: int = KMEANS_K,
                         src: str = "embeddings") -> str:
    return f"""
WITH {_KM_Q_SQL.format(src=src, k=k)}
SELECT CAST(a.cid AS BIGINT) AS cid, CAST(u.i AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(q.xq[u.i]) AS BIGINT) AS s_micro
FROM assign a JOIN q USING (vec_id),
     LATERAL UNNEST(range(1, len(q.xq) + 1)) AS u(i)
GROUP BY 1, 2 ORDER BY cid, dim
"""


# ---------------------------------------------------------------------------
# product quantization (PQ) — the memory-bound ANN scale path: each base
# vector compresses to M one-byte codes; queries probe via an asymmetric
# distance table (ADC) of only K*M entries. Same exact int64 fixed-point
# arithmetic as the k-means gates, so the DuckDB oracle replays encode +
# ADC bit-for-bit (no float drift, no RNG).
# ---------------------------------------------------------------------------

PQ_M = 4        # subspaces (dim 64 -> 16 components each)
PQ_K = 16       # centroids per subspace; codebook = subvectors of the
                # first PQ_K vectors (deterministic init, same convention
                # as kmeans_assign — the ITERATION/ENCODE is the scale op)


def _pq_subvectors(emb: DataFrame, m: int = PQ_M) -> DataFrame:
    """(vec_id, m, sv): the quantized vector split into m equal slices.
    Dimensions must divide evenly — a ragged tail slice would silently
    skew the last subspace's distances, so reject it up front (checked
    on the one-row schema sample, not a full scan)."""
    q = _quantized(emb)
    dim = len(emb.select("embedding").head()["embedding"])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    d = F.size("xq")
    w = (d / m).cast("int")
    ms = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m")
    return (q.select("vec_id", "xq", ms)
            .select("vec_id", "m",
                    F.slice("xq", F.col("m") * w + 1, w).alias("sv")))


def _sub_d2(a: str, b: str):
    """Exact int64 squared-L2 between two subvector columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _pq_codebook(sub: DataFrame, k: int) -> DataFrame:
    """(cid, cm, cv): codebook = subvectors of the first k vectors."""
    return (sub.where(F.col("vec_id") < k)
            .select(F.col("vec_id").alias("cid"), F.col("m").alias("cm"),
                    F.col("sv").alias("cv")))


def _adc_table(sub: DataFrame, query_ids: list, k: int) -> DataFrame:
    """(qid, m, code, qd2): exact query->centroid distance table — the
    KB-sized broadcast side of every ADC probe."""
    qsub = (sub.where(F.col("vec_id").isin([int(q) for q in query_ids]))
            .select(F.col("vec_id").alias("qid"), F.col("m").alias("qm"),
                    F.col("sv").alias("qv")))
    return (qsub.join(F.broadcast(_pq_codebook(sub, k)),
                      F.col("qm") == F.col("cm"))
            .select("qid", F.col("qm").alias("m"),
                    F.col("cid").alias("code"),
                    _sub_d2("qv", "cv").alias("qd2")))


def pq_encode(emb: DataFrame, m: int = PQ_M, k: int = PQ_K) -> DataFrame:
    """PQ encoding: per (vector, subspace) the nearest codebook entry in
    exact integer squared-L2, ties to the smaller centroid id.

    Plan: the codebook (k*m rows, KB-sized) broadcasts; distances are a
    codegen zip_with fold; the per-(vec,subspace) argmin is a min of
    (d2, cid) structs — ONE map-side pass over the base table + one
    shuffle on vec_id whose payload is m small rows per vector.

    -> (vec_id, m, code, d2)."""
    sub = _pq_subvectors(emb, m)
    best = F.min(F.struct(F.col("_d2"), F.col("cid"))).alias("_best")
    return (sub.join(F.broadcast(_pq_codebook(sub, k)),
                     F.col("m") == F.col("cm"))
            .withColumn("_d2", _sub_d2("sv", "cv"))
            .groupBy("vec_id", "m").agg(best)
            .select("vec_id", F.col("m").cast("int"),
                    F.col("_best.cid").cast("bigint").alias("code"),
                    F.col("_best._d2").cast("bigint").alias("d2")))


def pq_topk(emb: DataFrame, query_ids: list, topk: int = 5,
            m: int = PQ_M, k: int = PQ_K) -> DataFrame:
    """ADC top-k: asymmetric PQ search — the query keeps its RAW
    (quantized) subvectors, each base vector is represented only by its
    codes, and distance(query, base) = Σ_m table[m][code_m] where the
    table holds exact query→centroid distances.

    Plan: the ADC table (|queries|·k·m rows) broadcasts against the
    code table, partial-sums map-side into (qid, vec_id) groups, and
    the final top-k is a per-qid window over candidate rows — the big
    side is touched once and never re-read per query. The query row
    itself is excluded (same convention as the other ANN gates).

    -> (qid, vec_id, adist, rank)."""
    sub = _pq_subvectors(emb, m)
    codes = pq_encode(emb, m, k).select("vec_id", "m", "code")
    adc = _adc_table(sub, query_ids, k)
    cand = (codes.join(F.broadcast(adc), ["m", "code"])
            .groupBy("qid", "vec_id")
            .agg(F.sum("qd2").cast("bigint").alias("adist"))
            .where(F.col("qid") != F.col("vec_id")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("qid").orderBy("adist", "vec_id")
    return (cand.withColumn("rank",
                            F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= topk)
            .select(F.col("qid").cast("bigint"), "vec_id", "adist",
                    "rank"))


_PQ_SQL = """
q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xq
  FROM {src}
),
sub AS (
  SELECT vec_id, CAST(u.m AS INT) AS m,
         xq[u.m * (len(xq) // {m}) + 1 :
            (u.m + 1) * (len(xq) // {m})] AS sv
  FROM q, LATERAL UNNEST(range({m})) AS u(m)
),
cb AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {k}),
dist AS (
  SELECT sub.vec_id, sub.m, cb.cid,
         list_sum(list_transform(range(1, len(sub.sv) + 1),
                  i -> (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])))
             AS d2
  FROM sub JOIN cb USING (m)
),
enc AS (
  SELECT vec_id, m, cid AS code, d2 FROM (
    SELECT vec_id, m, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, cid) AS rn
    FROM dist) WHERE rn = 1
)"""


def oracle_pq_topk(query_ids: list, topk: int = 5, m: int = PQ_M,
                   k: int = PQ_K, src: str = "embeddings") -> str:
    ids = ",".join(str(int(q)) for q in query_ids)
    return f"""
WITH {_PQ_SQL.format(src=src, m=m, k=k)},
adc AS (
  SELECT sub.vec_id AS qid, sub.m, cb.cid,
         list_sum(list_transform(range(1, len(sub.sv) + 1),
                  i -> (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])))
             AS qd2
  FROM sub JOIN cb USING (m)
  WHERE sub.vec_id IN ({ids})
),
cand AS (
  SELECT adc.qid, enc.vec_id, CAST(SUM(adc.qd2) AS BIGINT) AS adist
  FROM enc JOIN adc ON enc.m = adc.m AND enc.code = adc.cid
  GROUP BY 1, 2
  HAVING adc.qid <> enc.vec_id
)
SELECT CAST(qid AS BIGINT) AS qid, vec_id, adist,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY adist, vec_id) AS BIGINT) AS rank
FROM cand QUALIFY rank <= {topk}
ORDER BY qid, rank
"""


def ivfpq_topk(emb: DataFrame, query_ids: list, topk: int = 5,
               nprobe: int = 2, refine: int = 4,
               nlist: int = KMEANS_K, m: int = PQ_M,
               kc: int = PQ_K) -> DataFrame:
    """IVF-PQ composed search — the production ANN shape at corpus
    scale (FAISS IVFPQ): coarse inverted lists from the fixed-point
    k-means assignment partition the base table; candidates come from
    PQ ADC ranking *within the nprobe nearest lists only*; the top
    ``topk*refine`` ADC candidates are re-ranked by EXACT integer
    squared-L2. All arithmetic is the same int64 fixed point as the
    k-means/PQ gates — fully deterministic, and with ``nprobe=nlist``
    + a refine pool covering the survivors the result provably equals
    exhaustive exact top-k (pinned in pytest).

    Plan: coarse assignment and PQ codes are each one pass over the
    base table; the probe set (|queries|·nprobe rows) and ADC table
    broadcast, so candidate generation is a map-side filter+lookup on
    the code table; only |queries|·topk·refine candidate rows reach
    the exact re-rank join. The base table is never re-read per query
    and no full-corpus distance is ever computed.

    -> (qid, vec_id, d2, rank)."""
    from pyspark.sql.window import Window
    ids = [int(x) for x in query_ids]
    lists = kmeans_assign(emb, nlist).select("vec_id", "cid")
    q = _quantized(emb)
    qv = (q.where(F.col("vec_id").isin(ids))
          .select(F.col("vec_id").alias("qid"), F.col("xq").alias("qx")))
    cents = (q.where(F.col("vec_id") < nlist)
             .select(F.col("vec_id").alias("ccid"),
                     F.col("xq").alias("cx")))
    cd2 = F.aggregate(
        F.zip_with("qx", "cx", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    wp = Window.partitionBy("qid").orderBy("cd2", "ccid")
    probed = (qv.join(F.broadcast(cents))
              .withColumn("cd2", cd2)
              .withColumn("prn", F.row_number().over(wp))
              .where(F.col("prn") <= nprobe)
              .select("qid", F.col("ccid").alias("cid")))
    adc = _adc_table(_pq_subvectors(emb, m), ids, kc)
    codes = pq_encode(emb, m, kc).select("vec_id", "m", "code") \
        .join(lists, "vec_id")
    wa = Window.partitionBy("qid").orderBy("adist", "vec_id")
    cand = (codes.join(F.broadcast(probed), "cid")
            .join(F.broadcast(adc), ["qid", "m", "code"])
            .where(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg(F.sum("qd2").cast("bigint").alias("adist"))
            .withColumn("arn", F.row_number().over(wa))
            .where(F.col("arn") <= topk * refine)
            .select("qid", "vec_id"))
    # exact integer-L2 re-rank of the small candidate set
    ed2 = F.aggregate(
        F.zip_with("qx", "xq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    we = Window.partitionBy("qid").orderBy("d2", "vec_id")
    return (cand.join(q, "vec_id").join(F.broadcast(qv), "qid")
            .withColumn("d2", ed2)
            .withColumn("rank", F.row_number().over(we).cast("bigint"))
            .where(F.col("rank") <= topk)
            .select(F.col("qid").cast("bigint"),
                    F.col("vec_id").cast("bigint"),
                    F.col("d2").cast("bigint"), "rank"))


def oracle_ivfpq_topk(query_ids: list, topk: int = 5, nprobe: int = 2,
                      refine: int = 4, nlist: int = KMEANS_K,
                      m: int = PQ_M, kc: int = PQ_K,
                      src: str = "embeddings") -> str:
    """Full DuckDB replay of :func:`ivfpq_topk` — coarse k-means
    assignment, PQ encode, ADC candidate ranking within the probed
    lists, and the exact integer-L2 re-rank of the topk*refine pool.
    Every stage is the same int64 fixed-point arithmetic with the same
    (distance, id) tie-breaks, so the PRUNED search (not just the
    provably-exact full-probe configuration) is verified bit-for-bit."""
    ids = ",".join(str(int(x)) for x in query_ids)
    return f"""
WITH {_PQ_SQL.format(src=src, m=m, k=kc)},
kc2 AS (SELECT vec_id AS ccid, xq AS cx FROM q WHERE vec_id < {nlist}),
kd AS (
  SELECT q.vec_id, kc2.ccid,
         list_sum(list_transform(range(1, len(q.xq) + 1),
                  i -> (q.xq[i] - kc2.cx[i]) * (q.xq[i] - kc2.cx[i])))
             AS d2
  FROM q CROSS JOIN kc2
),
lists AS (
  SELECT vec_id, ccid AS cid FROM (
    SELECT vec_id, ccid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ccid)
               AS rn
    FROM kd) WHERE rn = 1
),
probed AS (
  SELECT vec_id AS qid, ccid AS cid FROM (
    SELECT vec_id, ccid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ccid)
               AS rn
    FROM kd WHERE vec_id IN ({ids})) WHERE rn <= {nprobe}
),
adc AS (
  SELECT sub.vec_id AS qid, sub.m, cb.cid AS code,
         list_sum(list_transform(range(1, len(sub.sv) + 1),
                  i -> (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])))
             AS qd2
  FROM sub JOIN cb USING (m)
  WHERE sub.vec_id IN ({ids})
),
cand AS (
  SELECT p.qid, enc.vec_id, CAST(SUM(a.qd2) AS BIGINT) AS adist
  FROM enc
  JOIN lists l ON l.vec_id = enc.vec_id
  JOIN probed p ON p.cid = l.cid
  JOIN adc a ON a.qid = p.qid AND a.m = enc.m AND a.code = enc.code
  WHERE enc.vec_id <> p.qid
  GROUP BY 1, 2
),
pool AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id)
               AS rn
    FROM cand) WHERE rn <= {topk * refine}
),
exact AS (
  SELECT pool.qid, pool.vec_id,
         list_sum(list_transform(range(1, len(qv.xq) + 1),
                  i -> (qv.xq[i] - bv.xq[i]) * (qv.xq[i] - bv.xq[i])))
             AS d2
  FROM pool JOIN q qv ON qv.vec_id = pool.qid
       JOIN q bv ON bv.vec_id = pool.vec_id
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(d2 AS BIGINT) AS d2,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id)
            AS BIGINT) AS rank
FROM exact QUALIFY rank <= {topk}
ORDER BY qid, rank
"""


def _residual_subvectors(emb: DataFrame, nlist: int,
                         m: int) -> DataFrame:
    """(vec_id, cid, m, sv): each vector's RESIDUAL against its coarse
    centroid (fixed-point int subtraction — exact), split into m
    subvector slices. The residual table is one broadcast-join pass
    over the base table (centroids are nlist rows)."""
    q = _quantized(emb)
    dim = len(emb.select("embedding").head()["embedding"])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    lists = kmeans_assign(emb, nlist).select("vec_id", "cid")
    cents = (q.where(F.col("vec_id") < nlist)
             .select(F.col("vec_id").alias("cid"),
                     F.col("xq").alias("cx")))
    rx = F.zip_with("xq", "cx", lambda a, b: a - b)
    res = (q.join(lists, "vec_id").join(F.broadcast(cents), "cid")
           .select("vec_id", "cid", rx.alias("rx")))
    w = F.lit(dim // m)
    ms = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m")
    return (res.select("vec_id", "cid", "rx", ms)
            .select("vec_id", "cid", "m",
                    F.slice("rx", F.col("m") * w + 1, w).alias("sv")))


def ivfpq_residual_topk(emb: DataFrame, query_ids: list, topk: int = 5,
                        nprobe: int = 2, refine: int = 4,
                        nlist: int = KMEANS_K, m: int = PQ_M,
                        kc: int = PQ_K) -> DataFrame:
    """IVF-PQ with RESIDUAL quantization — the production FAISS
    `IVFPQ` default and the standard recall upgrade over
    :func:`ivfpq_topk`: PQ codes quantize the residual
    ``x − centroid(list(x))`` instead of the raw vector, so the
    codebook only has to cover the (much tighter) within-list spread;
    the ADC table becomes per-(query, probed list) because the query's
    residual differs per list. Same int64 fixed-point arithmetic as
    every ANN gate — deterministic, and the DuckDB oracle replays the
    PRUNED search end-to-end (coarse assign → residual encode →
    per-list ADC → exact re-rank).

    Plan: residual encode is one broadcast-join pass over the base
    table (codebook kc·m rows); the ADC side is |queries|·nprobe·m·kc
    rows — KB-sized, broadcast; candidates = map-side filter+lookup on
    the code table; only topk·refine rows per query reach the exact
    re-rank. -> (qid, vec_id, d2, rank)."""
    from pyspark.sql.window import Window
    ids = [int(x) for x in query_ids]
    q = _quantized(emb)
    cents = (q.where(F.col("vec_id") < nlist)
             .select(F.col("vec_id").alias("cid"),
                     F.col("xq").alias("cx")))
    rsub = _residual_subvectors(emb, nlist, m)
    rcb = (rsub.where(F.col("vec_id") < kc)
           .select(F.col("vec_id").alias("code"),
                   F.col("m").alias("cm"), F.col("sv").alias("cv")))
    # residual PQ encode: argmin over the kc-entry codebook per subspace
    best = F.min(F.struct(F.col("_d2"), F.col("code"))).alias("_best")
    enc = (rsub.join(F.broadcast(rcb), F.col("m") == F.col("cm"))
           .withColumn("_d2", _sub_d2("sv", "cv"))
           .groupBy("vec_id", "cid", "m").agg(best)
           .select("vec_id", "cid", "m",
                   F.col("_best.code").alias("code")))
    # probe set: nprobe nearest lists per query (exact int L2)
    qv = (q.where(F.col("vec_id").isin(ids))
          .select(F.col("vec_id").alias("qid"), F.col("xq").alias("qx")))
    cd2 = F.aggregate(
        F.zip_with("qx", "cx", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    wp = Window.partitionBy("qid").orderBy("cd2", "cid")
    probed = (qv.join(F.broadcast(cents))
              .withColumn("cd2", cd2)
              .withColumn("prn", F.row_number().over(wp))
              .where(F.col("prn") <= nprobe)
              .select("qid", "cid", "qx", "cx"))
    # per-(query, list) residual ADC table
    dim = len(emb.select("embedding").head()["embedding"])
    w = F.lit(dim // m)
    ms = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m")
    qrx = F.zip_with("qx", "cx", lambda a, b: a - b)
    qsub = (probed.select("qid", "cid", qrx.alias("qrx"), ms)
            .select("qid", "cid", "m",
                    F.slice("qrx", F.col("m") * w + 1, w).alias("qsv")))
    adc = (qsub.join(F.broadcast(rcb), F.col("m") == F.col("cm"))
           .select("qid", "cid", "m", "code",
                   _sub_d2("qsv", "cv").alias("qd2")))
    wa = Window.partitionBy("qid").orderBy("adist", "vec_id")
    cand = (enc.join(F.broadcast(adc), ["cid", "m", "code"])
            .where(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg(F.sum("qd2").cast("bigint").alias("adist"))
            .withColumn("arn", F.row_number().over(wa))
            .where(F.col("arn") <= topk * refine)
            .select("qid", "vec_id"))
    # exact integer-L2 re-rank of the small candidate set
    ed2 = F.aggregate(
        F.zip_with("qx", "xq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    we = Window.partitionBy("qid").orderBy("d2", "vec_id")
    return (cand.join(q, "vec_id")
            .join(F.broadcast(qv.select("qid", "qx")), "qid")
            .withColumn("d2", ed2)
            .withColumn("rank", F.row_number().over(we).cast("bigint"))
            .where(F.col("rank") <= topk)
            .select(F.col("qid").cast("bigint"),
                    F.col("vec_id").cast("bigint"),
                    F.col("d2").cast("bigint"), "rank"))


def oracle_ivfpq_residual_topk(query_ids: list, topk: int = 5,
                               nprobe: int = 2, refine: int = 4,
                               nlist: int = KMEANS_K, m: int = PQ_M,
                               kc: int = PQ_K,
                               src: str = "embeddings") -> str:
    """Full DuckDB replay of :func:`ivfpq_residual_topk` — including
    the per-(query, list) residual ADC, so the residual trick itself
    is bit-verified at the PRUNED config."""
    ids = ",".join(str(int(x)) for x in query_ids)
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xq
  FROM {src}
),
dimt AS (SELECT len(xq) AS dim FROM q LIMIT 1),
c AS (SELECT vec_id AS cid, xq AS cx FROM q WHERE vec_id < {nlist}),
kd AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(range(1, len(q.xq) + 1),
                  i -> (q.xq[i] - c.cx[i]) * (q.xq[i] - c.cx[i]))) AS d2
  FROM q CROSS JOIN c
),
lists AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM kd) WHERE rn = 1
),
res AS (
  SELECT q.vec_id, l.cid,
         list_transform(range(1, len(q.xq) + 1),
                        i -> q.xq[i] - c.cx[i]) AS rx
  FROM q JOIN lists l ON l.vec_id = q.vec_id JOIN c ON c.cid = l.cid
),
rsub AS (
  SELECT res.vec_id, res.cid, u.m,
         list_transform(range(u.m * (dim // {m}) + 1,
                              (u.m + 1) * (dim // {m}) + 1),
                        i -> rx[i]) AS sv
  FROM res CROSS JOIN dimt,
       LATERAL UNNEST(range(0, {m})) AS u(m)
),
rcb AS (SELECT vec_id AS code, m, sv AS cv FROM rsub
        WHERE vec_id < {kc}),
enc AS (
  SELECT vec_id, cid, m, code FROM (
    SELECT rsub.vec_id, rsub.cid, rsub.m, rcb.code,
           ROW_NUMBER() OVER (PARTITION BY rsub.vec_id, rsub.m
                              ORDER BY list_sum(list_transform(
                                range(1, len(rsub.sv) + 1),
                                i -> (rsub.sv[i] - rcb.cv[i])
                                     * (rsub.sv[i] - rcb.cv[i]))),
                              rcb.code) AS rn
    FROM rsub JOIN rcb USING (m)) WHERE rn = 1
),
probed AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM kd WHERE vec_id IN ({ids})) WHERE rn <= {nprobe}
),
qres AS (
  SELECT p.qid, p.cid,
         list_transform(range(1, len(q.xq) + 1),
                        i -> q.xq[i] - c.cx[i]) AS rx
  FROM probed p JOIN q ON q.vec_id = p.qid JOIN c ON c.cid = p.cid
),
qsub AS (
  SELECT qres.qid, qres.cid, u.m,
         list_transform(range(u.m * (dim // {m}) + 1,
                              (u.m + 1) * (dim // {m}) + 1),
                        i -> rx[i]) AS qsv
  FROM qres CROSS JOIN dimt,
       LATERAL UNNEST(range(0, {m})) AS u(m)
),
adc AS (
  SELECT qsub.qid, qsub.cid, qsub.m, rcb.code,
         list_sum(list_transform(range(1, len(qsub.qsv) + 1),
                  i -> (qsub.qsv[i] - rcb.cv[i])
                       * (qsub.qsv[i] - rcb.cv[i]))) AS qd2
  FROM qsub JOIN rcb USING (m)
),
cand AS (
  SELECT a.qid, enc.vec_id, CAST(SUM(a.qd2) AS BIGINT) AS adist
  FROM enc
  JOIN adc a ON a.cid = enc.cid AND a.m = enc.m AND a.code = enc.code
  WHERE enc.vec_id <> a.qid
  GROUP BY 1, 2
),
pool AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id)
               AS rn
    FROM cand) WHERE rn <= {topk * refine}
),
exact AS (
  SELECT pool.qid, pool.vec_id,
         list_sum(list_transform(range(1, len(qv.xq) + 1),
                  i -> (qv.xq[i] - bv.xq[i]) * (qv.xq[i] - bv.xq[i])))
             AS d2
  FROM pool JOIN q qv ON qv.vec_id = pool.qid
       JOIN q bv ON bv.vec_id = pool.vec_id
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(d2 AS BIGINT) AS d2,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id)
            AS BIGINT) AS rank
FROM exact QUALIFY rank <= {topk}
ORDER BY qid, rank
"""


def kmeans_train(emb: DataFrame, k: int = KMEANS_K,
                 iters: int = 2, return_centroids: bool = False
                 ) -> DataFrame:
    """FULL Lloyd training loop in exact int64 fixed point — the
    missing third of the k-means surface (assign + update are gated
    separately; this CHAINS them): ``iters`` rounds of
    assign → per-(cid, dim) mean, centroid components updated as true
    FLOOR division computed via the nonneg-remainder identity
    ``(s - ((s % n + n) % n)) div n`` — exact and engine-identical
    even for negative sums (Spark `div` and DuckDB `//` both truncate,
    which differs from floor on negatives; the identity makes the
    numerator exactly divisible so truncation == floor). Clusters that
    lose all members keep their previous centroid. Deterministic for a
    fixed iteration count across engines, partitionings and retries —
    the property float k-means famously lacks.

    Plan per iteration: broadcast k centroids, one map-side assign
    pass, one (cid, dim) shuffle of k·dim tiny rows. -> long form
    (cid, dim, c_val, n_assigned) of the FINAL centroids."""
    from pyspark.sql.window import Window
    q = _quantized(emb).cache()
    cents = (q.where(F.col("vec_id") < k)
             .select(F.col("vec_id").alias("cid"),
                     F.col("xq").alias("cx")))
    last = None
    for _ in range(int(iters)):
        d2 = F.aggregate(
            F.zip_with("xq", "cx", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        best = F.min(F.struct(F.col("_d2"), F.col("cid"))).alias("_b")
        assign = (q.join(F.broadcast(cents))
                  .withColumn("_d2", d2)
                  .groupBy("vec_id").agg(best)
                  .select("vec_id", F.col("_b.cid").alias("cid")))
        sums = (assign.join(q, "vec_id")
                .select("cid", F.posexplode("xq").alias("dim0", "v"))
                .groupBy("cid", (F.col("dim0") + 1).alias("dim"))
                .agg(F.count("*").cast("bigint").alias("n_assigned"),
                     F.sum("v").cast("bigint").alias("s")))
        upd = sums.withColumn(
            "c_val",
            F.expr("(s - ((s % n_assigned + n_assigned) % n_assigned))"
                   " div n_assigned").cast("bigint"))
        last = upd
        new_c = (upd.groupBy("cid")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("dim", "c_val"))),
                     lambda st: st.c_val).alias("cx_new")))
        cents = (cents.join(new_c, "cid", "left")
                 .select("cid", F.coalesce("cx_new", "cx").alias("cx")))
        # materialize the k·dim-int codebook each round (r8, guide §5:
        # the lazy chain re-evaluated the ENTIRE training subtree at
        # every downstream reference — three times in ivf_trained_topk
        # — and doubled plan depth per iteration; collecting
        # centroid-sized state to the driver is the repo's established
        # bounded-collect posture). Exact int64, so values unchanged.
        cents = emb.sparkSession.createDataFrame(
            [(int(r["cid"]), [int(v) for v in r["cx"]])
             for r in cents.collect()],
            "cid bigint, cx array<bigint>")
    if return_centroids:
        # the FINAL codebook including empty-cluster carryovers —
        # the array form downstream index builds consume
        return cents
    return (last.select(F.col("cid").cast("bigint"),
                        F.col("dim").cast("bigint"),
                        F.col("c_val").cast("bigint"),
                        "n_assigned"))


def oracle_kmeans_train(k: int = KMEANS_K, iters: int = 2,
                        src: str = "embeddings") -> str:
    """Unrolled-iteration DuckDB replay of :func:`kmeans_train` (the
    pagerank pattern): per round an assign CTE + a floor-division
    update CTE + a list re-assembly CTE; empty clusters COALESCE to
    the previous round's centroid."""
    parts = _kmeans_train_parts(k, iters, src)
    return f"""
WITH {",".join(parts)}
SELECT CAST(cid AS BIGINT) AS cid, CAST(dim AS BIGINT) AS dim,
       CAST(c_val AS BIGINT) AS c_val,
       CAST(n_assigned AS BIGINT) AS n_assigned
FROM f{int(iters) - 1} ORDER BY cid, dim
"""


def _kmeans_train_parts(k: int, iters: int, src: str) -> list[str]:
    """WITH-clause parts of the Lloyd replay, shared between the
    training oracle and downstream consumers (trained-IVF search);
    the final codebook is CTE ``c{iters}``."""
    parts = [f"""q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xq
  FROM {src}
),
c0 AS (SELECT vec_id AS cid, xq AS cq FROM q WHERE vec_id < {k})"""]
    for t in range(int(iters)):
        parts.append(f"""a{t} AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(range(1, len(q.xq) + 1),
                      i -> (q.xq[i] - c.cq[i]) * (q.xq[i] - c.cq[i]))),
             c.cid) AS rn
    FROM q CROSS JOIN c{t} c) WHERE rn = 1
),
u{t} AS (
  SELECT a.cid, u.i AS dim,
         CAST(COUNT(*) AS BIGINT) AS n_assigned,
         CAST(SUM(q.xq[u.i]) AS BIGINT) AS s
  FROM a{t} a JOIN q USING (vec_id),
       LATERAL UNNEST(range(1, len(q.xq) + 1)) AS u(i)
  GROUP BY 1, 2
),
f{t} AS (
  SELECT cid, dim, n_assigned,
         (s - ((s % n_assigned + n_assigned) % n_assigned))
           // n_assigned AS c_val
  FROM u{t}
),
c{t + 1} AS (
  SELECT p.cid, COALESCE(n.cq, p.cq) AS cq
  FROM c{t} p LEFT JOIN
       (SELECT cid, list(c_val ORDER BY dim) AS cq
        FROM f{t} GROUP BY cid) n ON n.cid = p.cid
)""")
    return parts


def ivf_trained_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                     nprobe: int = 2, kc: int = KMEANS_K,
                     iters: int = 2) -> DataFrame:
    """IVF search over a TRAINED codebook — the production composition
    the separately-gated pieces build toward: Lloyd-train ``kc``
    centroids (:func:`kmeans_train`, exact int64 fixed point), assign
    every vector to its nearest trained centroid (the inverted lists),
    then per query probe the ``nprobe`` nearest lists and exact-re-rank
    candidates by integer squared L2. Unlike :func:`ivf_topk` (float
    numpy centroids, cosine re-rank, brute-force oracle), EVERY stage
    here is integer arithmetic with deterministic tie-breaks (d2 then
    cid/vec_id), so the oracle replays training → lists → probe →
    re-rank END-TO-END — the approximation itself is verified, not
    just its agreement with brute force.

    Plan: training as in kmeans_train (broadcast codebook per round),
    then one map-side assign pass (codebook broadcast, kc·dim ints),
    probe fan-out = |queries|·nprobe rows broadcast against the
    cid-keyed lists — the scan cost is the probed fraction of the
    table, never O(n²). -> (qid, rank, vec_id, d2), ordered."""
    q = _quantized(emb)
    cents = kmeans_train(emb, kc, iters, return_centroids=True)

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    best = F.min(F.struct(F.col("_d2"), F.col("cid"))).alias("_b")
    assign = (q.join(F.broadcast(cents))
              .withColumn("_d2", d2("xq", "cx"))
              .groupBy("vec_id").agg(best)
              .select("vec_id", F.col("_b.cid").alias("cid")))
    lists = assign.join(q, "vec_id")

    wq = Window.partitionBy("qid").orderBy("_d2", "cid")
    probes = (q.where(F.col("vec_id").isin(query_ids))
              .select(F.col("vec_id").alias("qid"),
                      F.col("xq").alias("qx"))
              .join(F.broadcast(cents))
              .withColumn("_d2", d2("qx", "cx"))
              .withColumn("pr", F.row_number().over(wq))
              .where(F.col("pr") <= nprobe)
              .select("qid", "qx", F.col("cid").alias("pcid")))

    wr = Window.partitionBy("qid").orderBy("d2", "vec_id")
    return (lists.join(F.broadcast(probes),
                       (F.col("cid") == F.col("pcid"))
                       & (F.col("vec_id") != F.col("qid")))
            .withColumn("d2", d2("xq", "qx"))
            .withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= k)
            .select(F.col("qid").cast("bigint"),
                    F.col("rank").cast("bigint"),
                    F.col("vec_id").cast("bigint"),
                    F.col("d2").cast("bigint"))
            .orderBy("qid", "rank"))


def oracle_ivf_trained_topk(query_ids: list[int], k: int = 5,
                            nprobe: int = 2, kc: int = KMEANS_K,
                            iters: int = 2,
                            src: str = "embeddings") -> str:
    ids = ",".join(str(i) for i in query_ids)
    parts = _kmeans_train_parts(kc, iters, src)
    parts.append(f"""lists AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(range(1, len(q.xq) + 1),
                      i -> (q.xq[i] - c.cq[i]) * (q.xq[i] - c.cq[i]))),
             c.cid) AS rn
    FROM q CROSS JOIN c{int(iters)} c) WHERE rn = 1
)""")
    parts.append(f"""probes AS (
  SELECT qid, cid AS pcid FROM (
    SELECT q.vec_id AS qid, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(range(1, len(q.xq) + 1),
                      i -> (q.xq[i] - c.cq[i]) * (q.xq[i] - c.cq[i]))),
             c.cid) AS rn
    FROM q CROSS JOIN c{int(iters)} c
    WHERE q.vec_id IN ({ids})) WHERE rn <= {nprobe}
)""")
    return f"""
WITH {",".join(parts)},
cand AS (
  SELECT p.qid, l.vec_id,
         list_sum(list_transform(range(1, len(x.xq) + 1),
                  i -> (x.xq[i] - y.xq[i]) * (x.xq[i] - y.xq[i])))
             AS d2
  FROM probes p JOIN lists l ON l.cid = p.pcid
                               AND l.vec_id <> p.qid
       JOIN q x ON x.vec_id = l.vec_id
       JOIN q y ON y.vec_id = p.qid
)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id)
            AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, CAST(d2 AS BIGINT) AS d2
FROM cand QUALIFY rank <= {k}
ORDER BY qid, rank
"""


EMB_RANGE_R2 = 1_450_000_000_000   # ~p1 of the quantized-L2 pair
                                   # distances -> a few dozen matches/query


def range_search(emb: DataFrame, query_ids: list[int],
                 r2: int = EMB_RANGE_R2, kc: int = KMEANS_K,
                 iters: int = 2) -> DataFrame:
    """RADIUS search — all vectors within integer L2 distance² r2 of
    each query (the retrieval mode top-k can't express: 'everything
    this similar', used for near-dup sweeps with a semantic
    threshold). EXACT with IVF list pruning: per trained list keep an
    integer upper bound on its radius (floor(sqrt(max d²))+1) and
    probe list c only unless floor(sqrt(d²(q,c))) > R + r_c (with R an
    integer upper bound on r) — by the triangle inequality a pruned
    list cannot contain a match, so pruning trades scan cost, never
    results. All COMPARED quantities are exact integers (the sqrt
    floors only loosen the one-sided pruning bound); the oracle is
    INDEPENDENT brute force over all pairs, so the compare proves the
    pruning lossless end-to-end.
    -> (qid, vec_id, d2) for matches, self excluded, ordered."""
    q = _quantized(emb)
    cents = kmeans_train(emb, kc, iters, return_centroids=True)

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)

    best = F.min(F.struct(F.col("_d2"), F.col("cid"))).alias("_b")
    assign = (q.join(F.broadcast(cents))
              .withColumn("_d2", d2("xq", "cx"))
              .groupBy("vec_id").agg(best)
              .select("vec_id", F.col("_b.cid").alias("cid"),
                      F.col("_b._d2").alias("dc2")))
    lists = assign.join(q, "vec_id")
    radii = (assign.groupBy("cid")
             .agg((F.floor(F.sqrt(F.max("dc2"))) + 1).alias("rc")))
    R = F.floor(F.sqrt(F.lit(r2).cast("double"))) + 1
    probes = (q.where(F.col("vec_id").isin(query_ids))
              .select(F.col("vec_id").alias("qid"),
                      F.col("xq").alias("qx"))
              .join(F.broadcast(cents))
              .withColumn("_dqc2", d2("qx", "cx"))
              .join(F.broadcast(radii), "cid")
              .where(F.floor(F.sqrt("_dqc2"))
                     <= R + F.col("rc"))
              .select("qid", "qx", "cid"))
    return (lists.join(probes, "cid")
            .where(F.col("vec_id") != F.col("qid"))
            .withColumn("d2", d2("xq", "qx"))
            .where(F.col("d2") <= r2)
            .select(F.col("qid").cast("bigint"),
                    F.col("vec_id").cast("bigint"),
                    F.col("d2").cast("bigint"))
            .orderBy("qid", "vec_id"))


def oracle_range_search(query_ids: list[int],
                        r2: int = EMB_RANGE_R2) -> str:
    """Brute force over ALL pairs — no lists, no pruning: independent
    semantics proving the Spark side's pruning is lossless."""
    ids = ",".join(str(i) for i in query_ids)
    return f"""
WITH qe AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6)
              AS BIGINT) AS q
  FROM embeddings
),
d AS (
  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         SUM((a.q - b.q) * (a.q - b.q)) AS d2
  FROM qe a JOIN qe b ON a.idx = b.idx AND a.vec_id IN ({ids})
            AND b.vec_id <> a.vec_id
  GROUP BY 1, 2
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(d2 AS BIGINT) AS d2
FROM d WHERE d2 <= {r2} ORDER BY qid, vec_id
"""
