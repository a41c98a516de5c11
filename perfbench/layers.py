"""Per-layer measurement for traced runs, all from outside the package.

Two sources:

- ``Tracer`` records spans (name, start, end, parent, counts) around
  each traced job, its query calls and sinks, and the engine's eager
  entry points they reach (fused areadist, pair-rectangle layers), by
  swapping the module attributes for timing wrappers and restoring them
  afterwards. Spans stay in memory and are written out at the end.
- ``probe_layers`` runs each engine layer on its own over the
  workload's inputs after the timed window, and reads the executed
  plan's SQL metrics. Every layer is probed on every workload, so each
  metric is measured everywhere; a layer that a workload's jobs do not
  use is expected to stay flat there.
"""

from __future__ import annotations

import itertools
import json
import pickle
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open
    span (the query functions' own worker threads) are parented to the
    innermost span of the thread that installed the tracer."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **counts):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.current_thread().name,
               "start": time.perf_counter(), "end": None, "counts": dict(counts)}
        stack.append(sid)
        try:
            yield rec["counts"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, module, attr: str, name: str, counter=None) -> None:
        orig = getattr(module, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name) as counts:
                before = counter() if counter else None
                out = orig(*a, **kw)
                if counter:
                    counts["cache_miss"] = int(counter() != before)
                return out

        self._saved.append((module, attr, orig))
        setattr(module, attr, traced)

    def install(self) -> None:
        """Wrap the eager entry points whose calls do layer work during a
        job: the fused areadist (index build or cache hit, then the lazy
        apply) and the pair-rectangle layer reader. The lazy DataFrame
        builders are not wrapped; their calls only build plans."""
        from extract_sf_r_parallel_spark.operators import areadist_fused
        from extract_sf_r_parallel_spark.plans import spatial_queries

        def builds():
            return frozenset(id(v) for v in areadist_fused._IDX_CACHE.values())

        self._wrap(spatial_queries, "_pair_rect_polys", "scan.pair_rect_polys")
        self._wrap(areadist_fused, "areadist_fused", "index.areadist_fused", builds)

    def uninstall(self) -> None:
        while self._saved:
            module, attr, orig = self._saved.pop()
            setattr(module, attr, orig)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = sorted(self.spans, key=lambda s: s["start"])
        for s in spans:
            s["start"] = round(s["start"] - t0, 6)
            s["end"] = round(s["end"] - t0, 6)
        with open(path, "w") as f:
            json.dump({"spans": spans}, f, indent=1)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (parallel builds overlap)."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def window_metrics(tracer: Tracer) -> dict[str, float]:
    """Index builds and their share of job time from the traced jobs'
    spans. Every job starts with a cleared cache, so each fused call
    builds; there are no cache hits to count."""
    fused = [s for s in tracer.spans if s["name"] == "index.areadist_fused"]
    jobs = [s for s in tracer.spans if s["name"] == "job"]
    miss = [(s["start"], s["end"]) for s in fused if s["counts"].get("cache_miss")]
    job_time = sum(s["end"] - s["start"] for s in jobs)
    return {
        "index.cache_misses": len(miss),
        "index.build_share": _covered(miss) / job_time if job_time else 0.0,
    }


# --- executed-plan metrics --------------------------------------------------

def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _final(plan):
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return plan.executedPlan()
    return plan


def _walk(node):
    """Yield every executed node of a final (AQE) plan once: query
    stages and cached relations are entered, reused exchanges are not
    (they do not run)."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    if cls == "InMemoryTableScanExec":
        yield from _walk(_final(node.relation().cacheBuilder().cachedPlan()))
        return
    if cls == "ReusedExchangeExec":
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk(it.next())


def _scans_orders(scan) -> bool:
    """Whether a file scan reads the orders table, judged by its root
    paths (the plan string shortens long paths)."""
    it = scan.relation().location().rootPaths().iterator()
    while it.hasNext():
        if it.next().getName() == "orders.parquet":
            return True
    return False


def materialize(df):
    """Execute `df` through its own QueryExecution (so the SQL metrics
    land on the plan read below) and return (seconds, rows, stats)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    rows = int(qe.toRdd().count())
    dt = time.perf_counter() - t0
    root = _final(qe.executedPlan())
    st = dict.fromkeys(("exchanges", "orders_scans", "shuffle_bytes",
                        "spill_bytes", "broadcast_bytes", "python_rows",
                        "python_bytes"), 0)
    for node in _walk(root):
        cls = node.getClass().getSimpleName()
        m = _metrics(node)
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            st["exchanges"] += 1
        if cls == "FileSourceScanExec" and _scans_orders(node):
            st["orders_scans"] += 1
        st["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        st["spill_bytes"] += m.get("spillSize", 0)
        if cls == "BroadcastExchangeExec":
            st["broadcast_bytes"] += m.get("dataSize", 0)
        if "pythonNumRowsReceived" in m:
            st["python_rows"] += m["pythonNumRowsReceived"]
            st["python_bytes"] += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
    return dt, rows, st


# --- layer probes -------------------------------------------------------------

def _layer_frames(spark, path: str, kind: str):
    """(points, polys, areadist kwargs) of one fused layer set, built the
    way the registered queries build them."""
    from pyspark.sql import functions as F

    from extract_sf_r_parallel_spark.plans import spatial_queries as SQ

    pts = SQ._keyed_points(spark, path)
    if kind == "foot14":
        return pts, SQ._pair_rect_polys(spark, path, foot14=True), \
            {"validity_filter": False}
    if kind == "wet5":
        return pts, SQ._pair_rect_polys(spark, path, layer_col="CWCS_Class",
                                        with_class=True), \
            {"temporal": False, "age": False, "layer_col": "CWCS_Class",
             "validity_filter": False}
    polys = SQ.rects_df(spark, path).select(
        F.col("fid").alias("feature_id"), F.lit("rects").alias("layer"),
        F.col("ryear").alias("YEAR"), "geom")
    return pts, polys, {"validity_filter": False, "dissolve": "sum"}


def _kernel_rate(idx, seed: int, n: int = 20_000, reps: int = 5) -> float:
    """Pairs per second of one driver-side ``packed_pair_metrics`` call
    on a fixed candidate sample: points within ±600 m of the centres of
    seeded random features of a built index."""
    from extract_sf_r_parallel_spark.geo import kernels as K

    rng = np.random.default_rng(seed)
    fi = rng.integers(0, len(idx.bbox), n)
    bb = idx.bbox[fi]
    px = (bb[:, 0] + bb[:, 2]) / 2 + rng.uniform(-600, 600, n)
    py = (bb[:, 1] + bb[:, 3]) / 2 + rng.uniform(-600, 600, n)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        K.packed_pair_metrics(px, py, fi, idx.packed, (150.0, 565.0))
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def probe_layers(spark, wl, inp, tracer: Tracer, seed: int, sink_dir: str) -> dict:
    """Every per-layer metric except the window's index counts, measured
    on the workload's own inputs. Runs right after the timed window, so
    the job queries first run with the window's index cache still in
    place."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from extract_sf_r_parallel_spark.geo import index as I
    from extract_sf_r_parallel_spark.operators import areadist, areadist_fused, range_join
    from extract_sf_r_parallel_spark.plans import registry
    from extract_sf_r_parallel_spark.plans import spatial_queries as SQ

    d, m = inp.path, {}

    # executed plans of the job queries
    with tracer.span("probe.plan") as c:
        st_all = dict.fromkeys(("exchanges", "orders_scans", "shuffle_bytes",
                                "spill_bytes", "broadcast_bytes"), 0)
        for q in wl.queries:
            _, _, st = materialize(registry.QUERIES[q.name](spark, d))
            for k in st_all:
                st_all[k] += st[k]
        for k, v in st_all.items():
            m[f"plan.{k}"] = v
        c.update(**st_all)

    with tracer.span("probe.scan") as c:
        m["scan.points_s"], m["scan.points_rows"], _ = materialize(SQ.points_df(spark, d))
        m["scan.features_s"] = m["scan.features_rows"] = 0
        for kind in wl.layer_sets:
            dt, n, _ = materialize(_layer_frames(spark, d, kind)[1])
            m["scan.features_s"] += dt
            m["scan.features_rows"] += n
        c.update(points=m["scan.points_rows"], features=m["scan.features_rows"])

    with tracer.span("probe.range_join") as c:
        code = I.code_for_radius(SQ.MAXDIST / 4.0)
        cover = range_join.explode_bbox_cells(
            SQ.rects_df(spark, d).drop("geom"), SQ.MAXDIST, code)
        m["range_join.cover_s"], m["range_join.cover_rows"], _ = materialize(cover)
        m["range_join.cells_per_feature"] = m["range_join.cover_rows"] / inp.n_parts
        # the pair stream consumed by one aggregate, as the queries
        # consume it inside their codegen stage
        agg = SQ.rect_pairs(spark, d).agg(
            F.count(F.lit(1)).alias("pairs"), F.sum("dist").alias("dsum"),
            F.count(F.when(F.col("dist") < SQ.MAXDIST, 1)).alias("useful"))
        t0 = time.perf_counter()
        row = agg.collect()[0]
        m["range_join.pairs_s"] = time.perf_counter() - t0
        m["range_join.pairs"] = int(row["pairs"])
        m["range_join.pairs_per_point"] = row["pairs"] / inp.n_orders
        m["range_join.useful_ratio"] = row["useful"] / max(row["pairs"], 1)
        c.update(cover_rows=m["range_join.cover_rows"], pairs=m["range_join.pairs"],
                 useful=int(row["useful"]))

    # the per-point reduction alone: each query runs over a cached pair
    # stream, so its time is the filter, the aggregate or window and the
    # LEFT-default join, without the cover explode and the cell join
    pairs = SQ.rect_pairs(spark, d).persist(StorageLevel.MEMORY_ONLY)
    try:
        pairs.count()
        with tracer.span("probe.reduce"), _patched(SQ, "rect_pairs", lambda *a: pairs):
            for q in ("range_near", "areadist_square", "knn3"):
                m[f"reduce.{q}_s"] = statistics.median(
                    materialize(registry.QUERIES[q](spark, d))[0] for _ in range(3))
    finally:
        pairs.unpersist()

    areadist_fused.clear_index_cache()
    built = {}
    m.update({"index.build_s": 0.0, "index.corrections_s": 0.0,
              "index.corrections": 0, "index.features": 0, "index.bytes": 0})
    with tracer.span("probe.index") as c:
        for kind in wl.layer_sets:
            pts, polys, kw = _layer_frames(spark, d, kind)
            if kw.get("dissolve", "auto") == "auto":
                lc = kw.get("layer_col", "layer")
                pl = polys.select("feature_id", F.col(lc).alias("layer"),
                                  F.col("YEAR").alias("poly_year"), "geom")
                t0 = time.perf_counter()
                n_corr = len(areadist.dissolve_corrections_df(pl).toPandas())
                m["index.corrections_s"] += time.perf_counter() - t0
                m["index.corrections"] += n_corr
            before = set(areadist_fused._IDX_CACHE)
            t0 = time.perf_counter()
            areadist_fused.areadist_fused(pts, polys, **kw)
            m["index.build_s"] += time.perf_counter() - t0
            (key,) = set(areadist_fused._IDX_CACHE) - before
            idx = areadist_fused._IDX_CACHE[key][0]
            built[kind] = idx
            m["index.features"] += len(idx.bbox)
            m["index.bytes"] += len(pickle.dumps(idx, protocol=pickle.HIGHEST_PROTOCOL))
        c.update(features=m["index.features"], corrections=m["index.corrections"])

    # fused apply with the warm index, materialized into the cache the
    # merge probe then reads, so the pivot and join are timed alone
    keys = ["PKEY", "SS", "YEAR"]
    cached = []
    m.update({"fused.apply_s": 0.0, "spark.python_rows": 0, "spark.python_bytes": 0,
              "merge.pivot_s": 0.0})
    try:
        with tracer.span("probe.fused") as c:
            results = []
            for kind in wl.layer_sets:
                pts, polys, kw = _layer_frames(spark, d, kind)
                res = areadist_fused.areadist_fused(pts, polys, **kw) \
                    .drop("x", "y").persist(StorageLevel.MEMORY_ONLY)
                cached.append(res)
                dt, _, st = materialize(res)
                m["fused.apply_s"] += dt
                m["spark.python_rows"] += st["python_rows"]
                m["spark.python_bytes"] += st["python_bytes"]
                results.append((kind, res))
            m["kernels.pairs_per_s"] = _kernel_rate(built[wl.layer_sets[0]], seed)
            c.update(python_rows=m["spark.python_rows"])
        with tracer.span("probe.merge") as c:
            pivots = []
            for kind, res in results:
                piv = areadist.areadist_wide(res, values=tuple(built[kind].layers)) \
                    .persist(StorageLevel.MEMORY_ONLY)
                cached.append(piv)
                t0 = time.perf_counter()
                piv.count()
                m["merge.pivot_s"] += time.perf_counter() - t0
                pivots.append(piv)
            merged = pivots[0]
            for p in pivots[1:]:
                merged = merged.join(p, keys, "inner")
            merged = merged.persist(StorageLevel.MEMORY_ONLY)
            cached.append(merged)
            t0 = time.perf_counter()
            n = merged.count()
            m["merge.join_s"] = time.perf_counter() - t0
            c.update(rows=n)
        with tracer.span("probe.sink") as c:
            t0 = time.perf_counter()
            merged.write.mode("overwrite").parquet(sink_dir)
            m["sink.write_s"] = time.perf_counter() - t0
            m["sink.bytes"] = _dir_bytes(sink_dir)
            c.update(bytes=m["sink.bytes"])
    finally:
        for df in cached:
            df.unpersist()
    return m


@contextmanager
def _patched(module, attr: str, value):
    orig = getattr(module, attr)
    setattr(module, attr, value)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def _dir_bytes(path: str) -> int:
    import os
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
