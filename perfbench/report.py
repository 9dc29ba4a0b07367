"""Turn a finished run into the metrics of its result line.

End-to-end metrics come from the untraced run. Per-layer metrics come
from a traced run: span durations and self times from ``trace``, Spark
task metrics per span from the event log (``eventlog``), counts the
layer functions recorded, and the driver-side kernel probe.
"""

from __future__ import annotations

from . import eventlog
from .layers import median


def end_to_end(ctx) -> dict:
    m = {"setup_s": (ctx.setup_s, "s"),
         "op_p25_ms": (ctx.e2e["op_p25_ms"], "ms"),
         "work_per_s": (ctx.e2e["work_per_s"], "1/s")}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _pair_dyadic(spans):
    """(query span, dyadic span) pairs: ``layers.query`` opens the dyadic
    replay right after the query span it belongs to."""
    last, out = None, []
    for s in spans:
        if s.name in ("query", "query.bulk"):
            last = s
        elif s.name == "dyadic" and last is not None:
            out.append((last, s))
            last = None
    return out


def per_layer(ctx, log_dir: str) -> dict:
    t = ctx.tracer
    stats = eventlog.read(eventlog.log_file(log_dir))
    empty = eventlog.GroupStats()

    def spark(s):
        return stats.get(s.group, empty) if s.group else empty

    def durs(name):
        return [s.dur for s in t.by_name(name)]

    def spark_med(name, fn):
        return median([fn(spark(s)) for s in t.by_name(name)])

    c = ctx.counters
    m = {}
    m["config.session_s"] = (durs("session")[0], "s")
    m["events.derive_s"] = (median(durs("events.derive")), "s")
    m["events.rows"] = (len(ctx.stream[0]), "count")

    m["partitioner.us_per_query"] = (
        sum(durs("partitioner")) / c["partitioner.queries"] * 1e6, "us")
    m["partitioner.rects_per_query"] = (
        c["partitioner.rects"] / c["partitioner.queries"], "count")
    m["dyadic.us_per_query"] = (
        sum(durs("dyadic")) / c["dyadic.queries"] * 1e6, "us")
    m["dyadic.cells_per_query"] = (
        c["dyadic.cells"] / c["dyadic.queries"], "count")

    pairs = [(q, d) for q, d in _pair_dyadic(t.spans) if q.name == "query"]
    qs = [q for q, _ in pairs]
    m["query.batch_s"] = (median([q.dur for q in qs]), "s")
    m["query.self_s"] = (median([q.dur - d.dur for q, d in pairs]), "s")
    m["query.jobs_per_batch"] = (median([spark(q).jobs for q in qs]),
                                 "count")
    m["query.stages_per_batch"] = (median([spark(q).stages for q in qs]),
                                   "count")
    m["query.tasks_per_batch"] = (median([spark(q).tasks for q in qs]),
                                  "count")
    m["query.task_run_s"] = (median([spark(q).run_ms / 1e3 for q in qs]),
                             "s")
    m["query.shuffle_bytes"] = (median([
        spark(q).shuffle_read_bytes + spark(q).shuffle_write_bytes
        for q in qs]), "bytes")
    m["query.freq_err_n"] = (c["query.freq_err"] / c["query.freq_n"],
                             "ratio")

    for k, v in ctx.kernel_metrics.items():
        unit = "bytes" if k.endswith("bytes_per_cell") else "us"
        m[k] = (v, unit)

    b = ctx.builds
    m["build.core_s"] = (median([x["build_core_wall_s"] for x in b]), "s")
    m["build.bookkeeping_s"] = (median(
        [x["build_wall_s"] - x["build_core_wall_s"] for x in b]), "s")
    m["build.sketch_cells"] = (median([x["sketch_cells"] for x in b]),
                               "count")
    m["build.shuffle_write_bytes"] = (
        spark_med("build", lambda g: g.shuffle_write_bytes), "bytes")
    m["build.task_run_s"] = (spark_med("build", lambda g: g.run_ms / 1e3),
                             "s")
    m["build.gc_s"] = (spark_med("build", lambda g: g.gc_ms / 1e3), "s")
    m["build.spill_bytes"] = (spark_med("build", lambda g: g.spill_bytes),
                              "bytes")
    m["build.task_skew"] = (spark_med("build", lambda g: g.skew), "ratio")

    mg = ctx.merges
    m["merge.wall_s"] = (median(durs("merge")), "s")
    m["merge.expire_s"] = (median(durs("merge.expire")), "s")
    m["merge.cells_rewritten_per_delta_event"] = (median(
        [x["cells"] / x["delta_events"] for x in mg]), "ratio")
    m["merge.bytes_written"] = (median([x["bytes"] for x in mg]), "bytes")
    m["merge.store_mb"] = (ctx.live_store_bytes / 2 ** 20, "MB")

    joins = t.by_name("joins.pip") + t.by_name("joins.knn")
    m["joins.pip_s"] = (median(durs("joins.pip")), "s")
    m["joins.knn_s"] = (median(durs("joins.knn")), "s")
    m["joins.shuffle_bytes"] = (median([
        spark(s).shuffle_read_bytes + spark(s).shuffle_write_bytes
        for s in joins]), "bytes")
    m["joins.task_skew"] = (median([spark(s).skew for s in joins]),
                            "ratio")

    # pipeline: the first span of each operator is its cold run, the
    # rest are warm runs grouped into rounds by operation id
    first, rounds = {}, {}
    for s in t.spans:
        if not s.name.startswith("ops."):
            continue
        if s.name not in first:
            first[s.name] = s
        else:
            rounds.setdefault(s.op, []).append(s)
    m["pipeline.cold_s"] = (sum(s.dur for s in first.values()), "s")
    m["pipeline.run_s"] = (median([sum(s.dur for s in r)
                                   for r in rounds.values()]), "s")
    m["pipeline.shuffle_bytes"] = (median([
        sum(spark(s).shuffle_read_bytes + spark(s).shuffle_write_bytes
            for s in r) for r in rounds.values()]), "bytes")
    m["pipeline.task_skew"] = (median([spark(s).skew for r in
                                       rounds.values() for s in r]),
                               "ratio")

    w0, w1 = ctx.window
    selfs = t.self_times()
    inside = [s for s in t.spans if s.start >= w0 and s.end <= w1]
    m["trace.op_p25_ms"] = (ctx.e2e["op_p25_ms"], "ms")
    m["trace.accounted_pct"] = (
        sum(selfs[s.id] for s in inside) / (w1 - w0) * 100, "%")
    m["trace.spans_per_op"] = (len(inside) / max(1, len(ctx.op_s)),
                               "count")
    m["trace.span_overhead_us"] = (ctx.span_overhead_us, "us")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
