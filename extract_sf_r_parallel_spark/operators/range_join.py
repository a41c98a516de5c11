"""Cell-indexed spatial range join — the engine's flagship operator
(SURVEY.md J2/J3; BASELINE.json metric "spatial-join rows/sec").

Shape: every geometric predicate becomes an equi join on a computed hex
cell id plus a vectorized refinement kernel:

  points ──withColumn(cell)──┐
                             ├── equi join on cell ── pandas-UDF
  polys ──explode(cover)─────┘    refinement (dist, circle∩poly areas)

The poly side is exploded over the hex cover of its bbox *dilated by
the search radius*, so a point within `radius` of a polygon always
shares a cell with one of the polygon's exploded rows (soundness proved
by tests/test_index.py::test_cover_bbox_superset + the dilation
argument). A (point, poly) pair appears at most once because a point
has exactly one cell and a polygon's cover cells are distinct — no
post-join dedup, no shuffle wasted on it.

Scale notes (100 TB design):
- the join is a plain equi join: Catalyst/AQE picks broadcast vs
  sort-merge from size stats; `broadcast_polys=True` forces the hint
  for small dims;
- skew: dense cells (the fixture packs 80% of features into 5% of
  cells) are handled by AQE skew-join splitting; `salt` adds explicit
  salting — polys replicated `salt` ways, points routed by a hash —
  for the sort-merge path at extreme skew (north rule requirement);
- refinement is one Arrow-batched pandas UDF computing distance and
  all circle∩polygon areas in a single pass over flattened edge arrays
  (zero per-row Python in the hot path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import index as I
from ..geo import kernels as K

__all__ = [
    "poly_cover_udf", "is_valid_udf", "pair_metrics_udf",
    "broadcast_pair_metrics_udf", "cell_col", "with_cell",
    "explode_poly_cells", "explode_bbox_cells", "range_join_pairs",
    "salted",
]

# ---------------------------------------------------------------------------
# Pure-JVM cell assignment + bbox cover (r08, guide §4.1: built-ins over
# UDFs). These are bit-identical twins of geo.index.xy_to_cell /
# cover_bbox_many: every float op is replicated in the same IEEE order,
# and rounding uses the magic-number trick (x + 1.5·2^52) − 1.5·2^52,
# which equals np.rint (round-half-to-even) for |x| < 2^51 — verified
# exhaustively against np.rint in tests/test_cell_col.py. Removing the
# ArrowEvalPython node from the candidate-join build keeps the whole
# pair pipeline (cell assign → cover explode → equi join → bbox
# refinement) inside one WholeStageCodegen span.
# ---------------------------------------------------------------------------

_RINT_MAGIC = 6755399441055744.0  # 1.5 · 2^52


def _rint(c: Column) -> Column:
    """Round half-to-even, branchless (|input| < 2^51)."""
    return (c + F.lit(_RINT_MAGIC)) - F.lit(_RINT_MAGIC)


def _axial_cols(x: Column, y: Column, e: float) -> tuple[Column, Column]:
    """Fractional axial coords + cube rounding — the Column twin of
    geo.index.xy_to_cell's interior (same op order, same rounding)."""
    qf = (F.lit(I._SQRT3 / 3.0) * x - y / F.lit(3.0)) / F.lit(e)
    rf = (F.lit(2.0 / 3.0) * y) / F.lit(e)
    sf = -qf - rf
    q, r, s = _rint(qf), _rint(rf), _rint(sf)
    dq, dr, ds = F.abs(q - qf), F.abs(r - rf), F.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    qi = F.when(fix_q, -r - s).otherwise(q).cast("long")
    ri = F.when(fix_r, -q - s).otherwise(r).cast("long")
    return qi, ri


def _pack_cell(code: int, qi: Column, ri: Column) -> Column:
    """(code, q, r) → int64 cell id, identical to geo.index._pack."""
    return (F.shiftleft(F.lit(int(code)).cast("long"), 58)
            .bitwiseOR(F.shiftleft(qi + F.lit(int(I._BIAS)), 29))
            .bitwiseOR(ri + F.lit(int(I._BIAS))))


def cell_col(x: Column, y: Column, code: int) -> Column:
    """(x, y) → int64 hex cell id at resolution `code`, pure JVM —
    bit-identical to geo.index.xy_to_cell (see module comment)."""
    e = float(I.edge_for_code(code))
    qi, ri = _axial_cols(x, y, e)
    return _pack_cell(code, qi, ri)


def poly_cover_udf(radius: float, code: int):
    """geom → struct(cells: cover of bbox(geom) ⊕ radius, bbox corners).
    The bbox rides along so the join can prefilter candidates with pure
    JVM arithmetic (bbox distance ≤ true distance) before any Python
    geometry kernel runs."""
    schema = T.StructType([
        T.StructField("cells", T.ArrayType(T.LongType())),
        T.StructField("bxmin", T.DoubleType()),
        T.StructField("bymin", T.DoubleType()),
        T.StructField("bxmax", T.DoubleType()),
        T.StructField("bymax", T.DoubleType()),
    ])

    @F.pandas_udf(returnType=schema)
    def _cover(geom: pd.Series) -> pd.DataFrame:
        n = len(geom)
        bx0 = np.empty(n)
        by0 = np.empty(n)
        bx1 = np.empty(n)
        by1 = np.empty(n)
        for i, g in enumerate(geom):  # ragged ring parse only
            parts = K.feature_parts(g)
            bx0[i] = min(p[:, 0].min() for p in parts)
            by0[i] = min(p[:, 1].min() for p in parts)
            bx1[i] = max(p[:, 0].max() for p in parts)
            by1[i] = max(p[:, 1].max() for p in parts)
        cells, counts = I.cover_bbox_many(
            bx0 - radius, by0 - radius, bx1 + radius, by1 + radius, code)
        bounds = np.concatenate([[0], np.cumsum(counts)]).astype(int)
        return pd.DataFrame({
            "cells": [cells[bounds[i]:bounds[i + 1]].tolist() for i in range(n)],
            "bxmin": bx0, "bymin": by0, "bxmax": bx1, "bymax": by1,
        })
    return _cover


_IS_VALID = None


def is_valid_udf():
    """Vector validity check (st_is_valid, C_…R:317-318)."""
    global _IS_VALID
    if _IS_VALID is None:
        @F.pandas_udf(T.BooleanType())
        def _valid(geom: pd.Series) -> pd.Series:
            # every part must be a valid closed ring (outer + holes);
            # polyline layers use kernels.polyline_is_valid instead
            return pd.Series([
                all(K.ring_is_valid(p) for p in K.feature_parts(g))
                for g in geom
            ])
        _IS_VALID = _valid
    return _IS_VALID


def pair_metrics_udf(radii: tuple[float, ...]):
    """Per-candidate-pair refinement: point-to-polygon distance
    (st_distance, C_…R:117) and exact circle∩polygon area at each
    buffer radius (st_intersection+st_union+st_area, C_…R:96-108) in
    one Arrow batch pass.

    The feature id rides along so each batch parses every distinct
    geometry exactly ONCE (a feature near a dense cell joins hundreds
    of points; ring decoding per pair would dominate). The math runs
    through the packed-gather kernel — zero per-pair Python. The
    dist ≥ r ⇒ area = 0 clamp kills ~1e-9 Green's-theorem noise and
    matches R's empty st_intersection → zero area / NA age
    (C_…R:99,159)."""
    fields = [T.StructField("dist", T.DoubleType())] + [
        T.StructField(f"a{int(r)}", T.DoubleType()) for r in radii
    ]

    @F.pandas_udf(returnType=T.StructType(fields))
    def _metrics(x: pd.Series, y: pd.Series, fid: pd.Series,
                 geom: pd.Series) -> pd.DataFrame:
        codes, _uniq = pd.factorize(fid.to_numpy())
        _ucodes, first_pos = np.unique(codes, return_index=True)
        rings = [K.feature_parts(geom.iloc[int(i)]) for i in first_pos]
        packed = K.PackedRings(rings)
        m = K.packed_pair_metrics(
            x.to_numpy(np.float64), y.to_numpy(np.float64),
            codes.astype(np.int64), packed, tuple(radii))
        return pd.DataFrame(m)
    return _metrics


def broadcast_pair_metrics_udf(spark, polys: DataFrame, radii: tuple[float, ...]):
    """Geometry-over-broadcast variant of pair_metrics_udf: the poly
    side's rings are packed ONCE on the driver and shipped to each
    executor as a broadcast variable; candidate-pair rows then carry
    only (x, y, feature_id) through Arrow — no nested-array
    serialization per pair (which otherwise dominates the join cost).
    Valid whenever the poly side is broadcast-join-sized anyway."""
    gpdf = polys.select("feature_id", "geom").toPandas()
    fids = gpdf["feature_id"].to_numpy(np.int64)
    order = np.argsort(fids)
    sorted_fids = fids[order]
    # a duplicated feature_id would silently resolve pairs against the
    # wrong ring via searchsorted — fail loudly at build time instead
    if len(sorted_fids) > 1 and (np.diff(sorted_fids) == 0).any():
        raise ValueError("broadcast_pair_metrics_udf: duplicate "
                         "feature_id values in the broadcast poly side")
    rings = [K.feature_parts(gpdf["geom"].iloc[int(i)]) for i in order]
    packed = K.PackedRings(rings)
    bc = spark.sparkContext.broadcast((packed, sorted_fids))
    fields = [T.StructField("dist", T.DoubleType())] + [
        T.StructField(f"a{int(r)}", T.DoubleType()) for r in radii
    ]

    @F.pandas_udf(returnType=T.StructType(fields))
    def _metrics(x: pd.Series, y: pd.Series, fid: pd.Series) -> pd.DataFrame:
        pk, sfids = bc.value
        f = fid.to_numpy(np.int64)
        ridx = np.searchsorted(sfids, f)
        # validate the lookup: every pair's fid must exist in the
        # broadcast index (ADVICE r01: absent fids otherwise refine
        # against an arbitrary neighbour ring)
        if len(sfids) == 0 or (ridx >= len(sfids)).any() \
                or (sfids[np.minimum(ridx, len(sfids) - 1)] != f).any():
            raise ValueError("broadcast_pair_metrics_udf: pair feature_id "
                             "absent from the broadcast geometry index")
        m = K.packed_pair_metrics(
            x.to_numpy(np.float64), y.to_numpy(np.float64),
            ridx, pk, tuple(radii))
        return pd.DataFrame(m)
    return _metrics


def with_cell(df: DataFrame, code: int, x: str = "x", y: str = "y",
              out: str = "cell") -> DataFrame:
    # r08: JVM expression instead of the pandas UDF — same cell ids
    # (cell_col is the bit-identical twin of xy_to_cell), but the
    # assignment now fuses into the surrounding codegen stage instead
    # of forcing an ArrowEvalPython exchange with the Python workers
    return df.withColumn(out, cell_col(F.col(x), F.col(y), code))


def explode_poly_cells(polys: DataFrame, radius: float, code: int,
                       geom: str = "geom", out: str = "cell",
                       keep_bbox: bool = False) -> DataFrame:
    df = polys.withColumn("_cb", poly_cover_udf(radius, code)(F.col(geom)))
    df = df.select("*", "_cb.*").drop("_cb")
    df = df.withColumn(out, F.explode("cells")).drop("cells")
    if not keep_bbox:
        df = df.drop("bxmin", "bymin", "bxmax", "bymax")
    return df


def explode_bbox_cells(polys: DataFrame, radius: float, code: int,
                       xmin: str = "rxmin", ymin: str = "rymin",
                       xmax: str = "rxmax", ymax: str = "rymax",
                       out: str = "cell",
                       keep_bbox: bool = False,
                       disk_prune: bool = False) -> DataFrame:
    """Pure-JVM twin of :func:`explode_poly_cells` for features whose
    bbox is already in columns (axis-aligned rectangles: the bbox IS
    the geometry, so no ring parse is needed). Emits the exact same
    cell cover as geo.index.cover_bbox_many over the radius-dilated
    bbox — corner axial rounding, ±1 grid padding, centre-proximity
    prune — with every float op in the same IEEE order, so the cover
    is bit-identical to the pandas-UDF path while staying inside
    WholeStageCodegen (r08, guide §4.1)."""
    e = float(I.edge_for_code(code))
    x0 = F.col(xmin) - F.lit(float(radius))
    x1 = F.col(xmax) + F.lit(float(radius))
    y0 = F.col(ymin) - F.lit(float(radius))
    y1 = F.col(ymax) + F.lit(float(radius))
    qs, rs = zip(*[_axial_cols(cx, cy, e)
                   for cx, cy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1))])
    # materialize the grid bounds as NAMED columns before the explodes:
    # inlined into sequence() they would be re-evaluated per GENERATED
    # row (the 4-corner cube-round tree × every grid cell — measured
    # 1.8× slower on idw_interp), as a Project they run once per
    # feature inside codegen and the Generates see plain attributes
    df = polys.select(
        "*",
        (F.least(*qs) - 1).alias("_q0"), (F.greatest(*qs) + 1).alias("_q1"),
        (F.least(*rs) - 1).alias("_r0"), (F.greatest(*rs) + 1).alias("_r1"))
    df = df.withColumn("_q", F.explode(F.sequence(F.col("_q0"),
                                                  F.col("_q1"))))
    df = df.withColumn("_r", F.explode(F.sequence(F.col("_r0"),
                                                  F.col("_r1"))))
    qd, rd = F.col("_q").cast("double"), F.col("_r").cast("double")
    cx = F.lit(e) * (F.lit(I._SQRT3) * qd + F.lit(I._SQRT3 / 2.0) * rd)
    cy = F.lit(e) * (F.lit(1.5) * rd)
    pad = F.lit(e)
    keep = ((cx >= x0 - pad) & (cx <= x1 + pad)
            & (cy >= y0 - pad) & (cy <= y1 + pad))
    if disk_prune:
        # DEGENERATE bboxes only (xmin == xmax, ymin == ymax — a point
        # dilated by `radius`): the square cover's corner cells cannot
        # hold a point within `radius` of the centre, so prune to the
        # disk. Sound: a point within `radius` of the centre has its
        # cell centre within circumradius e of itself, hence within
        # radius + e of the query centre. Cuts candidate pairs ~21 %
        # on the idw disk join (47.6 M → 37.7 M at sf0.1).
        ddx = cx - F.col(xmin)
        ddy = cy - F.col(ymin)
        keep = keep & (ddx * ddx + ddy * ddy
                       <= F.lit((float(radius) + e) ** 2))
    df = df.filter(keep)
    df = df.withColumn(out, _pack_cell(code, F.col("_q"), F.col("_r"))) \
        .drop("_q", "_r", "_q0", "_q1", "_r0", "_r1")
    if keep_bbox:
        # same contract as explode_poly_cells(keep_bbox=True): the
        # UNDILATED bbox rides along for the JVM prefilter
        df = (df.withColumn("bxmin", F.col(xmin))
              .withColumn("bymin", F.col(ymin))
              .withColumn("bxmax", F.col(xmax))
              .withColumn("bymax", F.col(ymax)))
    return df


def salted(points: DataFrame, polys: DataFrame, salt: int,
           point_key: Column) -> tuple[DataFrame, DataFrame, list[str]]:
    """Explicit skew salting: replicate each poly row `salt` ways and
    route each point to one replica by a hash — turns one hot cell into
    `salt` balanced join keys (SURVEY.md §4 skew row)."""
    polys_s = polys.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(salt)])))
    points_s = points.withColumn("_salt", F.pmod(F.xxhash64(point_key), F.lit(salt)).cast("int"))
    return points_s, polys_s, ["cell", "_salt"]


# auto-salt tuning: one refinement task should chew at most this many
# candidate pairs (~0.05 s of kernel work per 0.5M at measured pair
# throughput); hotter cells get split `ceil(est / per_task)` ways
AUTO_SALT_PAIRS_PER_TASK = 500_000
AUTO_SALT_MAX = 32
AUTO_SALT_SAMPLE = 0.02


def range_join_pairs(
    points: DataFrame,
    polys: DataFrame,
    radius: float,
    radii: tuple[float, ...] = (),
    *,
    code: int | None = None,
    theta: Column | None = None,
    broadcast_polys: bool = False,
    salt: int | str = 0,
    point_x: str = "x",
    point_y: str = "y",
    keep_dist_within: bool = True,
    keep_geom: bool = False,
    bc_metrics=None,
) -> DataFrame:
    """Candidate pairs of (point, polygon) within `radius`, refined.

    Returns points' columns + polys' columns + `dist` + one `a<r>`
    column per entry of `radii` (exact circle∩polygon area). `theta`
    is an optional extra join predicate evaluated *inside* the join
    (e.g. the temporal filter poly.YEAR < point.YEAR, C_…R:93-94) so
    Catalyst keeps the equi-hash join on cell and applies the theta
    condition as a post-filter before the UDF runs.

    `salt="auto"` (VERDICT r04 #3 — shuffle path only): a geometry-free
    cells-only cover is recomputed for the probe (measured ~3× faster
    than localCheckpoint-and-reread of the nested-geom cover; one
    extra codegen pass at build time, zero per-run cost), a 2 % point
    sample × the exact per-cell cover histogram estimates the hottest
    cell's candidate-pair count, and salting engages at
    ceil(est / AUTO_SALT_PAIRS_PER_TASK) (≤ AUTO_SALT_MAX) only when
    the estimate exceeds one task's budget — no caller hint, measured
    in the bench's `salted_auto` leg. AQE's skew-join split measured
    SLOWER than raw on the one-hot-cell shape (BENCH_r04), which is
    why the engine owns this decision instead of delegating it.
    """
    # Cell resolution is DECOUPLED from the radius: the poly cover is
    # the bbox dilated by `radius`, which is a sound candidate superset
    # at ANY cell size; finer cells approximate the dilated region more
    # tightly, shrinking the raw join output (the dominant JVM cost) at
    # the price of a larger (broadcast-side) cover explode. Edge ≈
    # radius/4 cuts raw join rows ~4× vs edge ≥ radius at fixture
    # densities.
    if isinstance(salt, str) and salt != "auto":
        # fail here with the real story, not later with an opaque
        # TypeError from the `salt > 1` comparison (ADVICE r05)
        raise ValueError(
            f"salt must be an int or the exact string 'auto', got {salt!r}")
    if code is None:
        code = I.code_for_radius(max(radius / 4.0, I.RESOLUTIONS[0]))
    pts = with_cell(points, code, point_x, point_y)
    pls = explode_poly_cells(polys, radius, code, keep_bbox=True)
    if broadcast_polys:
        # broadcast side is small ⇒ ship geometry once per executor and
        # keep per-pair Arrow traffic to fixed-width columns; callers
        # that join the SAME poly side repeatedly (kNN ring rounds)
        # pass a prebuilt bc_metrics so the driver collects + packs the
        # geometry once, not once per round
        if bc_metrics is None:
            bc_metrics = broadcast_pair_metrics_udf(
                points.sparkSession, polys, tuple(radii))
        if not keep_geom:
            pls = pls.drop("geom")
    else:
        bc_metrics = None

    if salt == "auto":
        salt = 0
        if not broadcast_polys:
            # a broadcast join never shuffles on cell, so a hot cell
            # spreads with the points' existing partitioning — salting
            # would only pay replication for nothing.
            # The probe only CHOOSES the salt integer; the executed
            # join plan stays byte-identical to the manual-salt plan.
            # (An earlier version localCheckpoint'ed the exploded
            # cover to share it between histogram and join — reading
            # the materialized nested-geom rows back measured ~3×
            # SLOWER than recomputing the cover through codegen, so
            # the histogram now runs on a geometry-free cells-only
            # recompute instead: one extra cover pass at build time,
            # zero per-run cost.)
            cells_only = explode_poly_cells(
                polys.select("geom"), radius, code)
            ph = cells_only.groupBy("cell").agg(
                F.count(F.lit(1)).alias("_np"))
            sp = with_cell(points.sample(AUTO_SALT_SAMPLE, seed=7),
                           code, point_x, point_y)
            row = (sp.groupBy("cell").agg(F.count(F.lit(1)).alias("_ns"))
                   .join(ph, "cell")
                   .agg(F.max(F.col("_ns") * F.col("_np")).alias("m"))
                   .first())
            est = (row["m"] or 0) / AUTO_SALT_SAMPLE
            if est > AUTO_SALT_PAIRS_PER_TASK:
                salt = min(AUTO_SALT_MAX,
                           -(-int(est) // AUTO_SALT_PAIRS_PER_TASK))
    join_keys = ["cell"]
    if salt > 1:
        pts, pls, join_keys = salted(pts, pls, salt, F.col(point_x))
    if broadcast_polys:
        pls = F.broadcast(pls)

    cond = None
    for k in join_keys:
        c = pts[k] == pls[k]
        cond = c if cond is None else cond & c
    if theta is not None:
        cond = cond & theta
    pairs = pts.join(pls, cond, "inner").drop(pls["cell"])
    if salt > 1:
        pairs = pairs.drop(pls["_salt"]).drop(pts["_salt"])

    # JVM bbox prefilter: bbox distance ≤ exact distance, so dropping
    # pairs with bbox_dist ≥ radius is lossless and keeps the (slower)
    # Arrow kernel off 60-80% of the raw cell-join output — the hex
    # cell join at edge ≥ radius admits pairs up to ~3 cell diameters
    # apart; this tightens to the exact radius superset, JVM-side.
    bdx = F.greatest(F.col("bxmin") - F.col(point_x),
                     F.col(point_x) - F.col("bxmax"), F.lit(0.0))
    bdy = F.greatest(F.col("bymin") - F.col(point_y),
                     F.col(point_y) - F.col("bymax"), F.lit(0.0))
    pairs = pairs.filter(bdx * bdx + bdy * bdy < F.lit(float(radius) ** 2))
    pairs = pairs.drop("bxmin", "bymin", "bxmax", "bymax")

    if bc_metrics is not None:
        m = bc_metrics(F.col(point_x), F.col(point_y), F.col("feature_id")).alias("_m")
    else:
        m = pair_metrics_udf(tuple(radii))(
            F.col(point_x), F.col(point_y), F.col("feature_id"), F.col("geom")
        ).alias("_m")
    pairs = pairs.withColumn("_m", m).select("*", "_m.*").drop("_m")
    if keep_dist_within:
        pairs = pairs.filter(F.col("dist") < F.lit(float(radius)))
    return pairs
