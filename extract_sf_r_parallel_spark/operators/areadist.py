"""The reference's core query, Spark-first: per-point footprint
extraction — dissolved footprint area / proportion / area-weighted mean
age within buffer radii, plus capped nearest-feature distance.

Reimplements (semantics, not code):
- ``areadist``      — /root/reference/1_scripts/C_…R:84-130
- ``areadist.age``  — C_…R:135-197 (adds MEANAGE via YEAR recode)
- ``areadist.wet``  — D_…R:20-66  (no temporal filter, grouped by class)

as ONE planner, :func:`areadist`, over one per-point body
(areadist_fused's `_answer`: candidate lookup, exact refinement and
per-point reduction against a cell-indexed _FeatureIndex) run two ways:

- ``areadist_fused.areadist_fused`` (broadcast): one index over the
  whole feature side ships to every executor once and one mapInPandas
  over the points answers them — no shuffle, no materialized pairs;
- :func:`areadist_join` (tiled): the reference's fishnet (C_…R:209-253)
  — points keyed by coarse tile, features and corrections replicated
  to every tile their maxdist-dilated bbox touches, and one cogroup per
  tile that builds the tile's index and runs the same body.

The planner counts the feature side and sends the call to the fused
kernel up to ``areadist_fused.MAX_BROADCAST_FEATURES`` features and to
the tiled kernel beyond it. Both answer every layer, including the
raster-fallback ones, and return the points' columns, then ``layer``,
then the metrics, with the empty-candidate defaults (AREA=0, PROP=0,
MEANAGE=null, NEAR_DIST=maxdist — C_…R:99,116-117,159).

Semantic parity notes (SURVEY.md §2.2 P7, §2.5 A4):
- PROP divisors use the literal π≈3.14 exactly as the reference does
  (C_…R:122-123): PROP150 = AREA150 / (3.14·150²);
- MEANAGE's numerator/denominator use the *per-clip* (non-dissolved)
  areas (C_…R:156-159) while AREA is the *dissolved* union area
  (C_…R:154), exact via inclusion–exclusion correction pseudo-features;
  layers too entangled for that take a deterministic supersampled
  union;
- YEAR=0 sentinel polygons are recoded to the layer's oldest real year
  min(YEAR[YEAR>0]) before age math (C_…R:150, 231).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import index as I
from ..geo import kernels as K
from .range_join import bbox_sql, is_valid_udf

__all__ = ["areadist", "areadist_join", "areadist_wide",
           "dissolve_corrections_df", "PI_LITERAL"]

PI_LITERAL = 3.14  # the reference's literal (C_…R:122-123), not math.pi

_CORR_MARK = "__dissolve_fallback__"

# coarse tile edge (m) of the correction build and the tiled kernel
_TILE_M = 5000.0


def _tile_explode(df: DataFrame, pad: float, op: str,
                  tile: float = _TILE_M) -> DataFrame:
    """`df` plus `_tx`, `_ty`: one row per `tile` coarse tile that the
    bbox of `geom` (range_join.bbox_sql, naming `op`), dilated by
    `pad`, touches — JVM sequence/explode, no Python."""
    t, p = f"{float(tile)!r}D", f"{float(pad)!r}D"
    x0, y0, x1, y1 = bbox_sql(op)
    d = df.selectExpr("*", f"floor(({x0} - {p}) / {t}) AS _tx0",
                      f"floor(({y0} - {p}) / {t}) AS _ty0",
                      f"floor(({x1} + {p}) / {t}) AS _tx1",
                      f"floor(({y1} + {p}) / {t}) AS _ty1")
    tiles = F.expr(
        "flatten(transform(sequence(_tx0, _tx1), "
        "tx -> transform(sequence(_ty0, _ty1), "
        "ty -> struct(tx as tx, ty as ty))))")
    return (d.select(*df.columns, F.explode(tiles).alias("_t"))
            .select(*df.columns, F.col("_t.tx").alias("_tx"),
                    F.col("_t.ty").alias("_ty")))


def dissolve_corrections_df(polys: DataFrame, layer_col: str = "layer",
                            tile_size: float = _TILE_M) -> DataFrame:
    """Inclusion–exclusion correction polygons per layer (st_union
    semantics, C_…R:99,154 — VERDICT r01 #8): a grouped pass over the
    feature table emits weighted pseudo-features (weight ±1, theta year
    = max of the subset) that ride the SAME cell-indexed join as real
    features, so dissolve costs nothing per point. Layers whose exact
    union needs a non-convex clip emit a marker row instead — the
    caller routes those layers to the raster fallback (and must drop
    every correction the layer's other tiles produced).

    Distributed build (VERDICT r02 missing-#2): features replicate to
    every `tile_size` coarse tile their bbox touches (JVM bbox +
    sequence/explode — no Python), and corrections are computed per
    (layer, tile) group, so one mega-layer spreads over
    (extent/tile_size)² groups, hashed over every core, instead of
    serializing through a single Python worker. Exactly-once across replicas: a subset's term is
    emitted only by the tile containing its owner corner — the exact
    (max minx, max miny) over member bboxes, pure maxima of input
    doubles, identical in every replica (kernels.overlap_corrections
    with_owner). All members of a subset overlap that corner's tile by
    construction, so the owning tile always sees the whole subset."""
    schema = T.StructType([
        T.StructField("feature_id", T.LongType()),
        T.StructField(layer_col, T.StringType()),
        T.StructField("poly_year", T.IntegerType()),
        T.StructField("geom", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("weight", T.DoubleType()),
    ])
    ts = float(tile_size)

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        layer = pdf[layer_col].iloc[0]
        tx, ty = int(pdf["_tx"].iloc[0]), int(pdf["_ty"].iloc[0])
        # synthetic negative ids: 42-bit (layer, tile) salt × 2^20 slot
        # space per tile. ADVICE r03: the old 20-bit salt hit birthday
        # collisions (~50% at ~1200 groups) on mega-layers; 42 bits put
        # 50% at ~2.5M (layer, tile) groups, and both kernels'
        # id-uniqueness checks catch the residue.
        base = -((int(pd.util.hash_pandas_object(
            pd.Series([f"{layer}|{tx}|{ty}"])).iloc[0]) % (1 << 42) + 1) << 20)
        rings = [K.feature_parts(g) for g in pdf["geom"]]
        years = pdf["poly_year"].to_numpy(np.int64)
        try:
            corrs = K.overlap_corrections(rings, years, with_owner=True)
        except K.DissolveFallback:
            return pd.DataFrame({
                "feature_id": [base], layer_col: [_CORR_MARK + layer],
                "poly_year": [0], "geom": [[[0.0] * 8]], "weight": [0.0],
            })
        rows = []
        i = 0
        for ring, y, w, (ox, oy) in corrs:
            if int(np.floor(ox / ts)) != tx or int(np.floor(oy / ts)) != ty:
                continue  # another replica owns this subset
            if i >= (1 << 20):  # would run into the next salt's id range
                raise ValueError(
                    f"dissolve_corrections_df: > 2^20 correction terms in "
                    f"tile ({layer!r}, {tx}, {ty}) — shrink tile_size")
            rows.append((base - 1 - i, layer, int(y),
                         [ring.ravel().tolist()], float(w)))
            i += 1
        return pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    d = _tile_explode(
        polys.select("feature_id", layer_col, "poly_year", "geom"), 0.0,
        "dissolve_corrections_df", ts)
    # a numbered repartition on the grouping keys: it satisfies the
    # groupBy's clustering (no second exchange), and AQE never
    # coalesces it — the groupBy's own small-byte shuffle was coalesced
    # into ONE task, which ran every (layer, tile) group in one worker
    n = polys.sparkSession.sparkContext.defaultParallelism
    return (d.repartition(n, layer_col, "_tx", "_ty")
            .groupBy(layer_col, "_tx", "_ty").applyInPandas(_fn, schema))


def _union_area_raster(px: float, py: float, radius: float,
                       features: list, grid: int = 512) -> float:
    """Supersampled area(circle ∩ ⋃ features); each feature is a ring
    array or a list of parts — inside = even-odd parity over the
    feature's closed rings (holes handled), union = OR across features.
    The grid² cell centres cover the circle's bbox ∩ the rings' bbox,
    so the sample cell does not grow with the radius."""
    feats = []  # each feature's closed rings
    for f in features:
        parts = ([f] if isinstance(f, np.ndarray) and f.ndim == 2
                 else [np.asarray(p, np.float64).reshape(-1, 2) for p in f])
        feats.append([r for r in parts if K.ring_is_closed(r)])
    rings = [r for f in feats for r in f]
    if not rings:
        return 0.0
    v = np.concatenate(rings)
    x0, y0 = np.maximum(v.min(axis=0), (px - radius, py - radius))
    x1, y1 = np.minimum(v.max(axis=0), (px + radius, py + radius))
    if x1 <= x0 or y1 <= y0:
        return 0.0
    dx, dy = (x1 - x0) / grid, (y1 - y0) / grid
    gx, gy = np.meshgrid(x0 + dx * (np.arange(grid) + 0.5),
                         y0 + dy * (np.arange(grid) + 0.5))
    inc = (gx - px) ** 2 + (gy - py) ** 2 <= radius * radius
    anyin = np.zeros_like(inc)
    for f in feats:
        par = np.zeros_like(inc)
        for r in f:
            par ^= K.point_in_ring(gx.ravel(), gy.ravel(), r).reshape(gx.shape)
        anyin |= par
    return float((inc & anyin).sum() * dx * dy)


def _feature_side(polys: DataFrame, *, layer_col: str,
                  validity_filter: bool, dissolve: str, collect: bool):
    """Both kernels' feature side: (features, corrections,
    fallback_layers). Features are (feature_id, layer, poly_year, geom),
    valid ones only under `validity_filter` (st_is_valid, C_…R:317).
    Corrections (dissolve="auto" only, else None) cover the exactly
    dissolvable layers — one tile's fallback sends the WHOLE layer to
    the raster union — as pandas when `collect`, else checkpointed."""
    pl = polys.select(
        F.col("feature_id"), F.col(layer_col).alias("layer"),
        F.col("YEAR").alias("poly_year"), F.col("geom"),
    )
    if validity_filter:
        # materialized once: the corrections, the id check, the layer
        # aggregate and the tiled kernel's plan read the validated side, and
        # the validity UDF would otherwise re-run in each of them
        pl = pl.filter(is_valid_udf()(F.col("geom"))).localCheckpoint(eager=True)
    if dissolve != "auto":
        return pl, None, []
    corr = dissolve_corrections_df(pl)
    if collect:
        # bounded (pairwise-overlap terms), so collecting it respects
        # the broadcast gate
        corr = corr.toPandas()
        marked = corr["layer"].str.startswith(_CORR_MARK)
        fallback = sorted({v[len(_CORR_MARK):] for v in corr.loc[marked, "layer"]})
        return pl, corr[~marked & ~corr["layer"].isin(fallback)], fallback
    # localCheckpoint, not persist: the marker collect, the id check
    # and the tiled kernel's feature side read one computation, and the
    # ContextCleaner frees the blocks with the plan (ADVICE r02 leak)
    corr = corr.localCheckpoint(eager=True)
    marked = F.col("layer").startswith(_CORR_MARK)
    fallback = sorted(r[0][len(_CORR_MARK):] for r in
                      corr.filter(marked).select("layer").distinct().collect())
    corr = corr.filter(~marked)
    if fallback:
        corr = corr.filter(~F.col("layer").isin(fallback))
    return pl, corr, fallback


def _check_dissolve(fn: str, dissolve: str) -> None:
    if dissolve not in ("auto", "sum"):
        raise ValueError(f"{fn}: dissolve must be one of ('auto', 'sum'), "
                         f"got {dissolve!r}")


def areadist(
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
    """One row per (point, layer): the points' columns, `layer`,
    NEAR_DIST, then AREA<r>, PROP<r> and (if `age`) MEANAGE_<r> per
    radius. `temporal`/`age` select the reference's areadist vs
    areadist.age vs areadist.wet variants: True/False for every layer,
    or the collection of the layer names that take the theta / MEANAGE.
    `wide` (layer names) emits one row per point instead, with a
    <layer>_<METRIC> block per named layer (see areadist_fused).

    `dissolve` (the st_union in C_…R:99,154):
    - "auto" (default): exact union via precomputed inclusion–exclusion
      correction pseudo-features (geo/kernels.overlap_corrections);
      layers whose exact union is not S-H-computable fall back to the
      supersampled raster union automatically;
    - "sum": Σ of per-clip areas (exact only for disjoint layers — the
      reference's superseded variant, C_…R:101).
    MEANAGE always uses the per-clip (non-dissolved) areas, the
    reference's dual-area-notion quirk (C_…R:154-159). The kernel is
    chosen here, not by the caller (VERDICT r01 wrong-#3)."""
    from . import areadist_fused as AF  # it imports this module
    _check_dissolve("areadist", dissolve)
    # AF.areadist_fused is looked up at call time, so a wrapper
    # installed on the module (perfbench tracing) sees the build
    small = AF.feature_count(polys) <= AF.MAX_BROADCAST_FEATURES
    return (AF.areadist_fused if small else areadist_join)(
        points, polys, radii=radii, maxdist=maxdist, temporal=temporal,
        age=age, layer_col=layer_col, validity_filter=validity_filter,
        dissolve=dissolve, wide=wide)


def areadist_join(
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
    """The tiled kernel behind :func:`areadist`, same options and output
    as areadist_fused, for feature sides past the broadcast gate: the
    reference's fishnet (C_…R:209-253). Points are keyed by their
    _TILE_M coarse tile; features and corrections replicate to every
    tile their maxdist-dilated bbox touches, so a tile holds every
    candidate of its points. One cogroup per tile builds that tile's
    _FeatureIndex and runs the fused kernel's body over its points. The
    layer list, each layer's oldest real year and the raster-fallback
    layers are whole-side facts, computed once and shared by every
    tile."""
    from . import areadist_fused as AF  # it imports this module
    _check_dissolve("areadist_join", dissolve)
    pl, corr, fallback = _feature_side(
        polys, layer_col=layer_col, validity_filter=validity_filter,
        dissolve=dissolve, collect=False)
    side = pl.withColumn("weight", F.lit(1.0)) \
             .withColumn("is_real", F.lit(True))
    if corr is not None:
        side = side.unionByName(corr.withColumn("is_real", F.lit(False)))
    # a tile's index rejects ids repeated inside the tile; this one
    # tiny agg catches the rest, or a repeated feature counts twice and
    # a salt collision refines the wrong correction ring (ADVICE r03)
    dup = (side.groupBy("feature_id").count()
           .filter(F.col("count") > 1).select("feature_id").first())
    if dup is not None:
        raise ValueError(
            f"areadist_join: duplicate feature_id {dup[0]} in the "
            f"feature side" if dup[0] >= 0  # correction ids are < 0
            else "dissolve_corrections_df: correction feature_id salt "
            "collision across (layer, tile) groups — rerun with a "
            "different tile_size")
    # oldest real construction year per layer (C_…R:231)
    old = dict(pl.groupBy("layer").agg(F.min(F.when(
        F.col("poly_year") > 0, F.col("poly_year")))).collect())
    layers = sorted(old)
    oldest = [-1 if old[n] is None else old[n] for n in layers]

    code = I.code_for_radius(max(maxdist / 4.0, I.RESOLUTIONS[0]))
    schema, blocks = AF._out_schema(points.schema.fields, layers,
                                    radii=radii, age=age, wide=wide)
    in_cols = points.columns

    def tile(pts: pd.DataFrame, feats: pd.DataFrame) -> pd.DataFrame:
        if pts.empty:
            return pd.DataFrame()
        feats = feats.assign(geom=[np.split(xy, np.cumsum(n)[:-1]) for xy, n
                                   in zip(feats["xy"], feats["sizes"])])
        real = feats["is_real"].to_numpy(bool)
        fx = AF._FeatureIndex(feats[real], maxdist, code, feats[~real],
                              temporal=temporal, age=age, raster=fallback,
                              layers=layers, oldest=oldest)
        return AF._answer(fx, pts, in_cols, blocks, radii=radii,
                          maxdist=maxdist, age=age, code=code)

    # numbered repartitions on the tile keys: they co-partition the two
    # sides for the cogroup (no further exchange), and AQE never
    # coalesces them into one task (see dissolve_corrections_df)
    n = points.sparkSession.sparkContext.defaultParallelism
    t = repr(_TILE_M)
    p = points.selectExpr("*", f"floor(x / {t}D) AS _tx",
                          f"floor(y / {t}D) AS _ty")
    # geometry travels flat, coordinates plus part sizes: a tile with
    # points and no feature sends an empty side, and an empty
    # array<array<double>> column crashes the Python worker
    # (segmentation fault in the cogroup's Arrow read)
    f = _tile_explode(side, maxdist, "areadist_join").selectExpr(
        "feature_id", "layer", "poly_year", "weight", "is_real", "_tx", "_ty",
        "flatten(geom) AS xy", "transform(geom, p -> size(p)) AS sizes")
    return (p.repartition(n, "_tx", "_ty").groupBy("_tx", "_ty")
            .cogroup(f.repartition(n, "_tx", "_ty").groupBy("_tx", "_ty"))
            .applyInPandas(tile, schema))


def areadist_wide(result: DataFrame, keys: tuple[str, ...] = ("PKEY", "SS", "YEAR"),
                  passthrough: tuple[str, ...] = (),
                  values: tuple[str, ...] | None = None) -> DataFrame:
    """The reference's 14-way suffix-rename + inner merge (C_…R:923-1208)
    collapsed into one pivot: metric columns become <METRIC>_<layer>.
    Pass `values` (the layer names) when known — pivot() otherwise runs
    an extra distinct-values job over the whole result first."""
    metric_cols = [c for c in result.columns
                   if c not in keys and c != "layer" and c not in passthrough]
    agg = [F.first(c).alias(c) for c in metric_cols]
    g = result.groupBy(*keys, *passthrough)
    p = g.pivot("layer", list(values)) if values else g.pivot("layer")
    return p.agg(*agg)
