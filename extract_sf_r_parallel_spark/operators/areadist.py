"""The reference's core query, Spark-first: per-point footprint
extraction — dissolved footprint area / proportion / area-weighted mean
age within buffer radii, plus capped nearest-feature distance.

Reimplements (semantics, not code):
- ``areadist``      — /root/reference/1_scripts/C_…R:84-130
- ``areadist.age``  — C_…R:135-197 (adds MEANAGE via YEAR recode)
- ``areadist.wet``  — D_…R:20-66  (no temporal filter, grouped by class)

as ONE planner, :func:`areadist`, over two result-identical kernels:

- ``areadist_fused.areadist_fused`` (broadcast): a CSR cell index +
  packed rings ship to every executor once and one mapInPandas over
  the points finds, refines and reduces each point's candidates — no
  shuffle, no materialized pairs;
- :func:`areadist_join` (shuffle): points ⟕ range_join_pairs(maxdist)
  → groupBy(point, layer).agg(...), where the reference's 10,000-cell
  driver loop (C_…R:232-253) is the shuffle on the hex cell id and its
  per-point R loop (C_…R:138-194) is the grouped aggregation.

The planner counts the feature side and sends the call to the fused
kernel up to ``areadist_fused.MAX_BROADCAST_FEATURES`` features, to the
join kernel beyond it, and to the join kernel's broadcast branch when
the fused kernel finds a layer whose union needs the raster fallback
(``K.DissolveFallback``). Both kernels return the points' columns, then
``layer``, then the metrics, with the empty-candidate defaults
(AREA=0, PROP=0, MEANAGE=null, NEAR_DIST=maxdist — C_…R:99,116-117,159).

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

from ..geo import kernels as K
from .range_join import is_valid_udf, range_join_pairs

__all__ = ["areadist", "areadist_join", "areadist_wide",
           "dissolve_corrections_df", "PI_LITERAL"]

PI_LITERAL = 3.14  # the reference's literal (C_…R:122-123), not math.pi

_CORR_MARK = "__dissolve_fallback__"


def dissolve_corrections_df(polys: DataFrame, layer_col: str = "layer",
                            tile_size: float = 5000.0) -> DataFrame:
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
        # 50% at ~2.5M (layer, tile) groups, and the join kernel's
        # id-uniqueness checks (both branches) catch the residue.
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

    xs = F.flatten(F.expr("transform(geom, p -> filter(p, (v, i) -> i % 2 = 0))"))
    ys = F.flatten(F.expr("transform(geom, p -> filter(p, (v, i) -> i % 2 = 1))"))
    d = (polys.select("feature_id", layer_col, F.col("poly_year"), "geom")
         .withColumn("_tx0", F.floor(F.array_min(xs) / ts))
         .withColumn("_tx1", F.floor(F.array_max(xs) / ts))
         .withColumn("_ty0", F.floor(F.array_min(ys) / ts))
         .withColumn("_ty1", F.floor(F.array_max(ys) / ts)))
    tiles = F.expr(
        "flatten(transform(sequence(_tx0, _tx1), "
        "tx -> transform(sequence(_ty0, _ty1), "
        "ty -> struct(tx as tx, ty as ty))))")
    d = (d.select("feature_id", layer_col, "poly_year", "geom",
                  F.explode(tiles).alias("_t"))
         .select("feature_id", layer_col, "poly_year", "geom",
                 F.col("_t.tx").alias("_tx"), F.col("_t.ty").alias("_ty")))
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
    feature's rings (holes handled), union = OR across features."""
    g = np.linspace(px - radius, px + radius, grid)
    h = np.linspace(py - radius, py + radius, grid)
    gx, gy = np.meshgrid(g, h)
    inc = (gx - px) ** 2 + (gy - py) ** 2 <= radius * radius
    anyin = np.zeros_like(inc)
    for f in features:
        parts = ([f] if isinstance(f, np.ndarray) and f.ndim == 2
                 else [np.asarray(p, np.float64).reshape(-1, 2) for p in f])
        par = np.zeros_like(inc)
        for r in parts:
            if K.ring_is_closed(r):
                par ^= K.point_in_ring(gx.ravel(), gy.ravel(), r).reshape(gx.shape)
        anyin |= par
    cell = (g[1] - g[0]) * (h[1] - h[0])
    return float((inc & anyin).sum() * cell)


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
        # materialized once: the corrections, the id check and every
        # branch of the join kernel's plan read the validated side, and
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
    # localCheckpoint, not persist: the marker collect, the join-side
    # union and a broadcast index build read one computation, and the
    # ContextCleaner frees the blocks with the plan (ADVICE r02 leak)
    corr = corr.localCheckpoint(eager=True)
    marked = F.col("layer").startswith(_CORR_MARK)
    fallback = sorted(r[0][len(_CORR_MARK):] for r in
                      corr.filter(marked).select("layer").distinct().collect())
    corr = corr.filter(~marked)
    if fallback:
        corr = corr.filter(~F.col("layer").isin(fallback))
    return pl, corr, fallback


def _check_dissolve(fn: str, dissolve: str, allowed: tuple) -> None:
    if dissolve not in allowed:
        raise ValueError(f"{fn}: dissolve must be one of {allowed}, "
                         f"got {dissolve!r}")


def areadist(
    points: DataFrame,
    polys: DataFrame,
    *,
    radii: tuple[float, ...] = (150.0, 565.0),
    maxdist: float = 1000.0,
    temporal: bool = True,
    age: bool = True,
    keys: tuple[str, ...] = ("PKEY", "SS", "YEAR"),
    layer_col: str = "layer",
    validity_filter: bool = True,
    dissolve: str = "auto",
) -> DataFrame:
    """One row per (point, layer): the points' columns, `layer`,
    NEAR_DIST, then AREA<r>, PROP<r> and (if `age`) MEANAGE_<r> per
    radius. `temporal`/`age` select the reference's areadist vs
    areadist.age vs areadist.wet variants.

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
    _check_dissolve("areadist", dissolve, ("auto", "sum"))
    kw = dict(radii=radii, maxdist=maxdist, temporal=temporal, age=age,
              layer_col=layer_col, validity_filter=validity_filter,
              dissolve=dissolve)
    broadcast = AF.feature_count(polys) <= AF.MAX_BROADCAST_FEATURES
    if broadcast:
        try:
            return AF.areadist_fused(points, polys, **kw)
        except K.DissolveFallback:
            pass
    return areadist_join(points, polys, keys=keys,
                         broadcast_polys=broadcast, **kw)


def areadist_join(
    points: DataFrame,
    polys: DataFrame,
    *,
    radii: tuple[float, ...] = (150.0, 565.0),
    maxdist: float = 1000.0,
    temporal: bool = True,
    age: bool = True,
    keys: tuple[str, ...] = ("PKEY", "SS", "YEAR"),
    layer_col: str = "layer",
    validity_filter: bool = True,
    broadcast_polys: bool = False,
    salt: int = 0,
    dissolve: str = "auto",
) -> DataFrame:
    """The join kernel behind :func:`areadist`, same output. It also
    takes dissolve="raster", the supersampled union for every layer;
    "auto" routes only the layers whose exact union raised
    DissolveFallback there."""
    _check_dissolve("areadist_join", dissolve, ("auto", "sum", "raster"))
    point_side = points.select(*keys, "x", "y")
    pl, corr, fallback_layers = _feature_side(
        polys, layer_col=layer_col, validity_filter=validity_filter,
        dissolve=dissolve, collect=False)
    join_side = pl.withColumn("weight", F.lit(1.0)) \
                  .withColumn("is_real", F.lit(True))
    if corr is not None:
        join_side = join_side.unionByName(
            corr.withColumn("is_real", F.lit(False)))
    if not broadcast_polys:
        # the broadcast geometry index rejects repeated ids; here one
        # tiny agg does, or a repeated feature counts twice and a salt
        # collision refines the wrong correction ring (ADVICE r03)
        dup = (join_side.groupBy("feature_id").count()
               .filter(F.col("count") > 1).select("feature_id").first())
        if dup is not None:
            raise ValueError(
                f"areadist_join: duplicate feature_id {dup[0]} in the "
                f"feature side" if dup[0] >= 0  # correction ids are < 0
                else "dissolve_corrections_df: correction feature_id salt "
                "collision across (layer, tile) groups — rerun with a "
                "different tile_size")

    need_geom = dissolve == "raster" or bool(fallback_layers)
    theta = F.col("poly_year") < F.col("YEAR") if temporal else None
    pairs = range_join_pairs(
        point_side, join_side, maxdist, radii,
        theta=theta, broadcast_polys=broadcast_polys, salt=salt,
        keep_geom=need_geom,
    )

    if age:
        # layer-level scalar: oldest real construction year (C_…R:231)
        oldest = (
            pl.filter(F.col("poly_year") > 0)
            .groupBy("layer").agg(F.min("poly_year").alias("oldestyear"))
        )
        pairs = pairs.join(F.broadcast(oldest), "layer", "left")
        recoded = F.when(F.col("poly_year") == 0, F.col("oldestyear")) \
                   .otherwise(F.col("poly_year"))  # C_…R:150
        pairs = pairs.withColumn("page", F.col("YEAR") - recoded)

    # distance and MEANAGE see only REAL features; dissolve correction
    # pseudo-features contribute weight·area to the union sums only
    aggs = [F.least(F.min(F.when(F.col("is_real"), F.col("dist"))),
                    F.lit(float(maxdist))).alias("NEAR_DIST")]
    for r in radii:
        a = f"a{int(r)}"
        aggs.append(F.sum(F.col("weight") * F.col(a)).alias(f"AREA{int(r)}"))
        aggs.append(
            (F.sum(F.col("weight") * F.col(a))
             / F.lit(PI_LITERAL * r * r)).alias(f"PROP{int(r)}")
        )
        if age:
            # Σ(age·clip_area)/Σ(clip_area) over candidates with a>0
            # (C_…R:156-159); null when nothing intersects the buffer.
            # Pairs with undefined age (YEAR=0 in a layer with no real
            # year → null oldestyear → null page) are excluded from
            # BOTH num and den (null-contribution semantics, ADVICE
            # r01 — same rule as oracle.py and the fused kernel).
            ok = (F.col(a) > 0) & F.col("page").isNotNull() & F.col("is_real")
            num = F.sum(F.when(ok, F.col("page") * F.col(a)))
            den = F.sum(F.when(ok, F.col(a)))
            aggs.append((num / den).alias(f"MEANAGE_{int(r)}"))

    got = pairs.groupBy(*keys, "layer").agg(*aggs)

    if need_geom:
        # raster-dissolved layers: union area via deterministic
        # supersampling (applyInPandas per point group — G5 fallback).
        # Under "auto" only the layers whose exact union raised
        # DissolveFallback take this path; under "raster", all do.
        kcols = (*keys, "layer")
        fields = [pairs.schema[k] for k in kcols] + [
            T.StructField(f"UAREA{int(r)}", T.DoubleType()) for r in radii
        ]
        rpairs = pairs.filter(F.col("is_real"))
        if dissolve == "auto":
            rpairs = rpairs.filter(F.col("layer").isin(fallback_layers))

        def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
            rings = [K.feature_parts(g) for g in pdf["geom"]]
            row = {k: [pdf[k].iloc[0]] for k in kcols}
            px, py = float(pdf["x"].iloc[0]), float(pdf["y"].iloc[0])
            for r in radii:
                row[f"UAREA{int(r)}"] = [_union_area_raster(px, py, r, rings)]
            return pd.DataFrame(row)

        uareas = rpairs.groupBy(*kcols).applyInPandas(_fn, T.StructType(fields))
        got = got.join(uareas, [*kcols], "left")
        for r in radii:
            patched = F.coalesce(F.col(f"UAREA{int(r)}"), F.col(f"AREA{int(r)}"))
            got = (
                got.withColumn(f"AREA{int(r)}", patched)
                .withColumn(f"PROP{int(r)}",
                            F.col(f"AREA{int(r)}") / F.lit(PI_LITERAL * r * r))
                .drop(f"UAREA{int(r)}")
            )

    # LEFT semantics: every point appears for every layer (J6;
    # row-count invariant C_…R:707-709), in the fused kernel's column
    # order so a fallback never changes the caller's schema
    layers = pl.select("layer").distinct()
    out = points.crossJoin(F.broadcast(layers)) \
        .join(got, [*keys, "layer"], "left")
    fills = {"NEAR_DIST": float(maxdist)}
    for r in radii:
        fills[f"AREA{int(r)}"] = fills[f"PROP{int(r)}"] = 0.0
    metrics = [c for c in got.columns if c not in (*keys, "layer")]
    return out.select(*points.columns, "layer", *[
        F.coalesce(F.col(c), F.lit(fills[c])).alias(c) if c in fills
        else F.col(c) for c in metrics])


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
