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
loop. Every point gets every layer with the reference's LEFT-default
semantics (AREA=0, PROP=0, MEANAGE=null, NEAR_DIST=maxdist) built in,
so no outer join is needed afterwards. The output is either long, one
row per (point, layer), or — with `wide` — one row per point carrying a
<layer>_<METRIC> block per layer, the reference's suffix-renamed merge
(C_…R:1194-1208) without a pivot or a key join. The temporal theta and
MEANAGE are chosen per layer, so one index over several layer groups
(14 footprints with both, 5 wetland classes with neither) answers them
all in one pass.

Results are identical to the join kernel's (asserted row-for-row in
tests/test_areadist_fused.py), also on a layer whose exact union needs
the raster fallback: the index keeps its rings, and the same pass
supersamples its union over the same candidates.
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
from .areadist import (PI_LITERAL, _check_dissolve, _feature_side,
                       _union_area_raster)

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


def _has_flag(flag, layer: str) -> bool:
    """`flag` (areadist_fused's `temporal` / `age`) is a bool for every
    layer or the collection of the layer names that carry it."""
    return flag if isinstance(flag, bool) else layer in flag


def _flag_key(flag):
    return flag if isinstance(flag, bool) else tuple(sorted(flag))


class _FeatureIndex:
    """Driver-built, broadcast-shipped: packed rings + bboxes + years +
    layer codes + CSR (cell id → candidate feature indices) over the
    features of areadist._feature_side, plus a `temporal`, an `age`
    and a `raster` flag per layer code. Its dissolve="auto" corrections
    (`corr_pdf`) are appended as weighted pseudo-features — weight ±1,
    is_real False — so the exact union rides the same CSR lookup with
    zero extra per-point machinery. The `raster` layers (no exact
    union) keep their features' parts for the supersampled union."""

    def __init__(self, pdf: pd.DataFrame, radius: float, code: int,
                 corr_pdf: pd.DataFrame | None = None,
                 temporal=True, age=True, raster=()):
        if pdf["feature_id"].duplicated().any():  # would count twice
            raise ValueError("_FeatureIndex: duplicate feature_id values "
                             "in the feature side")
        for fid, g in zip(pdf["feature_id"], pdf["geom"]):
            # no bbox: reduceat would hand it the next feature's vertex
            if g is None or not sum(len(p) for p in g):
                raise ValueError(f"_FeatureIndex: null or empty geom at "
                                 f"feature_id {fid}")
        rings = [K.feature_parts(g) for g in pdf["geom"]]
        years = pdf["poly_year"].to_numpy(np.int64)
        lcodes, lnames = pd.factorize(pdf["layer"])
        lcodes = lcodes.astype(np.int64)
        self.layers = [str(x) for x in lnames]
        self.temporal = np.array([_has_flag(temporal, n) for n in self.layers],
                                 dtype=bool)
        self.age = np.array([_has_flag(age, n) for n in self.layers],
                            dtype=bool)
        self.raster = np.array([n in raster for n in self.layers], dtype=bool)
        self.raster_parts = {int(i): rings[i]
                             for i in np.flatnonzero(self.raster[lcodes])}
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
        # per-feature bbox over the packed vertices (the dropped closing
        # vertex repeats the first, so the extremes are the raw ones)
        V, off = self.packed.V, self.packed.offsets
        self.bbox = np.stack([
            np.minimum.reduceat(V[:, 0], off), np.minimum.reduceat(V[:, 1], off),
            np.maximum.reduceat(V[:, 0], off), np.maximum.reduceat(V[:, 1], off),
        ], axis=1) if rings else np.zeros((0, 4))
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
    temporal=True,
    age=True,
    layer_col: str = "layer",
    validity_filter: bool = True,
    dissolve: str = "auto",
    wide: tuple[str, ...] | None = None,
) -> DataFrame:
    """The broadcast kernel behind operators.areadist.areadist, same
    output: points' columns + layer + NEAR_DIST + AREA<r>/PROP<r>
    [/MEANAGE_<r>] per radius. `temporal` / `age` are True/False for
    every layer or the collection of layer names that take the theta /
    MEANAGE (MEANAGE is null on the other layers' rows). `wide` (layer
    names) emits one row per point instead: the points' columns, then
    per named layer <layer>_NEAR_DIST, <layer>_AREA<r>, <layer>_PROP<r>
    [, <layer>_MEANAGE_<r> for age layers]; a named layer with no
    feature gets the empty-candidate defaults. `dissolve`: "auto" =
    exact union via correction pseudo-features (a supersampled union on
    a layer that is not exactly dissolvable), "sum" = Σ per-clip areas
    (disjoint layers)."""
    _check_dissolve("areadist_fused", dissolve)
    spark = points.sparkSession
    code = I.code_for_radius(max(maxdist / 4.0, I.RESOLUTIONS[0]))
    pk = _plan_key(polys)
    cache_key = None if pk is None else (
        spark.sparkContext.applicationId, pk, float(maxdist), code,
        layer_col, bool(validity_filter), dissolve,
        _flag_key(temporal), _flag_key(age))
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
        idx = _FeatureIndex(pl.toPandas(), maxdist, code, corr_pdf,
                            temporal=temporal, age=age, raster=fallback)
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
                        age=age, code=code, wide=wide)


def _fused_apply(points: DataFrame, idx: "_FeatureIndex", bc, *,
                 radii, maxdist, age, code, wide) -> DataFrame:
    """Lazy half of the fused plan: given a built (possibly cached)
    _FeatureIndex + its broadcast, declare the one-stage mapInPandas.
    No jobs run here — this is what makes the index cache pay: a
    cache hit skips straight to plan declaration."""
    radii = tuple(float(r) for r in radii)
    L = len(idx.layers)

    def metric_names(with_age: bool) -> list[str]:
        names = ["NEAR_DIST"]
        for r in radii:
            names += [f"AREA{int(r)}", f"PROP{int(r)}"]
            if with_age:
                names.append(f"MEANAGE_{int(r)}")
        return names

    with_age = bool(age)
    in_fields = list(points.schema.fields)
    in_cols = [f.name for f in in_fields]
    if wide is None:
        out_names = ["layer"] + metric_names(with_age)
    else:
        lcode = {name: li for li, name in enumerate(idx.layers)}
        blocks = [(name, lcode.get(name), metric_names(_has_flag(age, name)))
                  for name in wide]
        out_names = [f"{name}_{m}" for name, _, ms in blocks for m in ms]
    out_schema = T.StructType(in_fields + [
        T.StructField(n, T.StringType() if n == "layer" else T.DoubleType())
        for n in out_names])
    # a wide layer with no feature: the empty-candidate defaults
    defaults = {m: (float(maxdist) if m == "NEAR_DIST" else
                    np.nan if m.startswith("MEANAGE_") else 0.0)
                for m in metric_names(True)}

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

        if fx.temporal.any():
            # theta (C_…R:93-94), on the temporal layers' candidates
            keep = (~fx.temporal[fx.lcodes[ridx]]
                    | (fx.years[ridx] < pyear[ppi]))
            ppi, ridx = ppi[keep], ridx[keep]
        # bbox distance < maxdist (lossless: bbox dist ≤ true dist)
        bb = fx.bbox[ridx]
        dx = np.maximum(np.maximum(bb[:, 0] - px[ppi], px[ppi] - bb[:, 2]), 0.0)
        dy = np.maximum(np.maximum(bb[:, 1] - py[ppi], py[ppi] - bb[:, 3]), 0.0)
        keep = (dx * dx + dy * dy) < maxdist * maxdist
        ppi, ridx = ppi[keep], ridx[keep]
        m = K.packed_pair_metrics(px[ppi], py[ppi], ridx, fx.packed, radii)
        return ppi, ridx, m

    def _chunk_reduce(fx, nL, px, py, pyear) -> dict[str, np.ndarray]:
        """Per (point, layer) metrics of one chunk, B × nL row-major."""
        B = len(px)
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
        rgroups = []
        if fx.raster.any():
            # raster layers: the join kernel's union over its candidates
            # (theta, then dist < maxdist), grouped per (point, layer)
            rs = np.flatnonzero(fx.raster[lr] & (m["dist"] < maxdist))
            rs = rs[np.argsort(key[rs], kind="stable")]
            rk, rstart = np.unique(key[rs], return_index=True)
            rgroups = [(k, k // nL, [fx.raster_parts[j] for j in g])
                       for k, g in zip(rk, np.split(ridx[rs], rstart[1:]))]
        cols: dict[str, np.ndarray] = {"NEAR_DIST": near}
        for r in radii:
            a = m[f"a{int(r)}"][order] if len(key_s) else np.zeros(0)
            asum = np.zeros(nkeys, dtype=np.float64)
            if len(key_s):
                # dissolved union: Σ weight·area (weight is +1
                # for real features, ±1 for I-E corrections)
                asum[ukey] = np.add.reduceat(wgt * a, kstart)
            for k, p, feats in rgroups:
                asum[k] = _union_area_raster(px[p], py[p], r, feats)
            cols[f"AREA{int(r)}"] = asum
            cols[f"PROP{int(r)}"] = asum / (PI_LITERAL * r * r)
            if with_age:
                num = np.zeros(nkeys)
                den = np.zeros(nkeys)
                if len(key_s):
                    # YEAR=0 → layer's oldest real year (C_…R:150)
                    yy = fx.years[ridx][order].astype(np.float64)
                    old = fx.oldest[lr[order]].astype(np.float64)
                    yy = np.where(yy == 0, old, yy)
                    agev = pyear[ppi][order] - yy
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
                with np.errstate(divide="ignore", invalid="ignore"):
                    ma = np.where(den > 0, num / den, np.nan)
                if not fx.age.all():
                    ma.reshape(B, nL)[:, ~fx.age] = np.nan
                cols[f"MEANAGE_{int(r)}"] = ma
        return cols

    def _out_col(name: str, arr: np.ndarray):
        if name.startswith("MEANAGE_"):
            # emit SQL NULL (not NaN) for empty candidate sets —
            # identical to the join path's LEFT-join null
            # (pandas nullable Float64 → Arrow null)
            arr = np.ascontiguousarray(arr)
            return pd.arrays.FloatingArray(arr, np.isnan(arr))
        return arr

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fx = bc.value
        nL = max(L, 1)
        for pdf0 in batches:
            # kernels run over small cache-resident chunks, but the
            # output is assembled and yielded ONCE per Arrow batch —
            # per-chunk yields would send thousands of tiny record
            # batches through the Arrow stream (measured JVM-side cost)
            B0 = len(pdf0)
            if B0 == 0:
                continue
            px0 = pdf0["x"].to_numpy(np.float64)
            py0 = pdf0["y"].to_numpy(np.float64)
            pyear0 = pdf0["YEAR"].to_numpy(np.int64)
            acc = [_chunk_reduce(fx, nL, px0[lo:lo + _CHUNK_POINTS],
                                 py0[lo:lo + _CHUNK_POINTS],
                                 pyear0[lo:lo + _CHUNK_POINTS])
                   for lo in range(0, B0, _CHUNK_POINTS)]
            cols = {name: (np.concatenate([c[name] for c in acc])
                           if len(acc) > 1 else acc[0][name])
                    for name in acc[0]}
            if wide is None:
                # dense (B × L) output with LEFT defaults built in
                rep = pdf0.loc[pdf0.index.repeat(nL)].reset_index(drop=True)
                out = rep[in_cols].copy()
                out["layer"] = np.tile(np.array(fx.layers if L else ["<none>"]), B0)
                for name, arr in cols.items():
                    out[name] = _out_col(name, arr)
            else:
                # one row per point: layer li's column of each metric
                new = {}
                for name, li, ms in blocks:
                    for m in ms:
                        arr = (cols[m].reshape(B0, nL)[:, li] if li is not None
                               else np.full(B0, defaults[m]))
                        new[f"{name}_{m}"] = _out_col(m, arr)
                out = pd.concat([pdf0[in_cols].reset_index(drop=True),
                                 pd.DataFrame(new)], axis=1)
            yield out

    return points.mapInPandas(fused, out_schema)
