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
    "is_valid_udf", "pair_metrics_udf", "broadcast_pair_metrics_udf",
    "cell_col", "with_cell", "bbox_sql", "explode_poly_cells",
    "explode_bbox_cells", "range_join_pairs", "salted",
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
#
# The twins are built as SQL TEXT and parsed by one F.expr per output
# column. The expression tree is the one a chain of Column operators
# would build, but each Column operator is a driver→JVM round trip and
# the cover's tree has thousands of nodes: built Column by Column it
# cost ~0.5 s of py4j calls per explode_bbox_cells at plan build. Every
# binary op is parenthesized (the parser would otherwise rebalance
# AND chains) and double literals carry the D suffix (a bare 0.577…
# parses as DECIMAL), so the parsed tree is the Column-built one.
# ---------------------------------------------------------------------------

_RINT_MAGIC = 6755399441055744.0  # 1.5 · 2^52


def _d(v: float) -> str:
    """A DOUBLE literal (repr round-trips the exact value)."""
    return f"{float(v)!r}D"


def _name(c: str) -> str:
    return f"`{c}`"


def _rint(c: str) -> str:
    """Round half-to-even, branchless (|input| < 2^51)."""
    m = _d(_RINT_MAGIC)
    return f"(({c} + {m}) - {m})"


def _axial_sql(x: str, y: str, e: float) -> tuple[str, str]:
    """Fractional axial coords + cube rounding — the SQL twin of
    geo.index.xy_to_cell's interior (same op order, same rounding)."""
    qf = f"((({_d(I._SQRT3 / 3.0)} * {x}) - ({y} / {_d(3.0)})) / {_d(e)})"
    rf = f"(({_d(2.0 / 3.0)} * {y}) / {_d(e)})"
    sf = f"((- {qf}) - {rf})"
    q, r, s = _rint(qf), _rint(rf), _rint(sf)
    dq, dr, ds = f"abs(({q} - {qf}))", f"abs(({r} - {rf}))", f"abs(({s} - {sf}))"
    fix_q = f"(({dq} > {dr}) AND ({dq} > {ds}))"
    fix_r = f"((NOT {fix_q}) AND ({dr} > {ds}))"
    qi = f"CAST(CASE WHEN {fix_q} THEN ((- {r}) - {s}) ELSE {q} END AS BIGINT)"
    ri = f"CAST(CASE WHEN {fix_r} THEN ((- {q}) - {s}) ELSE {r} END AS BIGINT)"
    return qi, ri


def _pack_sql(code: int, qi: str, ri: str) -> str:
    """(code, q, r) → int64 cell id, identical to geo.index._pack."""
    b = int(I._BIAS)
    return (f"((shiftleft(CAST({int(code)} AS BIGINT), 58) "
            f"| shiftleft(({qi} + {b}), 29)) | ({ri} + {b}))")


def cell_col(x: str, y: str, code: int) -> Column:
    """SQL expressions (x, y) → int64 hex cell id at resolution `code`,
    pure JVM — bit-identical to geo.index.xy_to_cell (see module
    comment)."""
    return F.expr(_pack_sql(code, *_axial_sql(x, y, float(I.edge_for_code(code)))))


_IS_VALID = None


def is_valid_udf():
    """Vector validity check (st_is_valid, C_…R:317-318)."""
    global _IS_VALID
    if _IS_VALID is None:
        @F.pandas_udf(T.BooleanType())
        def _valid(geom: pd.Series) -> pd.Series:
            # every part must be a valid closed ring (outer + holes);
            # polyline layers use kernels.polyline_is_valid instead.
            # A feature without vertices is no geometry to judge
            if any(g is None or not sum(len(p) for p in g) for g in geom):
                raise ValueError("is_valid_udf: null or empty geom")
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


def with_cell(df: DataFrame, code: int, x: str = "x",
              y: str = "y") -> DataFrame:
    # r08: JVM expression instead of the pandas UDF — same cell ids
    # (cell_col is the bit-identical twin of xy_to_cell), but the
    # assignment now fuses into the surrounding codegen stage instead
    # of forcing an ArrowEvalPython exchange with the Python workers
    return df.withColumn("cell", cell_col(_name(x), _name(y), code))


def bbox_sql(op: str) -> tuple[str, str, str, str]:
    """SQL text for (xmin, ymin, xmax, ymax) of the `geom` column: the
    extremes of its even and odd coordinates across all parts. A null
    or vertex-less geometry would give a null bbox and silently drop
    the feature, so it fails the query instead, naming `op`. The
    unreachable trailing 0.0D makes the column non-nullable, so
    Catalyst infers no isnotnull(bbox) filter that would evaluate the
    bbox a second time below its projection."""
    msg = f"{op}: null or empty geom"

    def ext(fn: str, odd: int) -> str:
        return (f"coalesce({fn}(flatten(transform(geom, p -> "
                f"filter(p, (v, i) -> i % 2 = {odd})))), "
                f"raise_error('{msg}'), 0.0D)")
    return (ext("array_min", 0), ext("array_min", 1),
            ext("array_max", 0), ext("array_max", 1))


def explode_poly_cells(polys: DataFrame, radius: float, code: int,
                       keep_bbox: bool = False) -> DataFrame:
    """One row per cell of the hex cover of each feature's bbox dilated
    by `radius`, pure JVM: the bbox from :func:`bbox_sql` (kept as
    bxmin/bymin/bxmax/bymax under `keep_bbox`), the cover from
    :func:`explode_bbox_cells`."""
    b = ("bxmin", "bymin", "bxmax", "bymax")
    bbox = bbox_sql("explode_poly_cells")
    df = polys.selectExpr("*", *[f"{e} AS {n}" for e, n in zip(bbox, b)])
    df = explode_bbox_cells(df, radius, code, *b)
    return df if keep_bbox else df.drop(*b)


def explode_bbox_cells(polys: DataFrame, radius: float, code: int,
                       xmin: str = "rxmin", ymin: str = "rymin",
                       xmax: str = "rxmax", ymax: str = "rymax",
                       disk_prune: bool = False) -> DataFrame:
    """The engine's one cell cover, over bbox columns (for axis-aligned
    rectangles the bbox IS the geometry; :func:`explode_poly_cells`
    derives it from `geom`). Emits the exact same cell cover as
    geo.index.cover_bbox_many over the radius-dilated bbox — corner
    axial rounding, ±1 grid padding, centre-proximity prune — with
    every float op in the same IEEE order, so the cover is
    bit-identical to the fused kernel's NumPy index while staying
    inside WholeStageCodegen (r08, guide §4.1)."""
    e = float(I.edge_for_code(code))
    rad = _d(radius)
    x0 = f"({_name(xmin)} - {rad})"
    x1 = f"({_name(xmax)} + {rad})"
    y0 = f"({_name(ymin)} - {rad})"
    y1 = f"({_name(ymax)} + {rad})"
    qs, rs = zip(*[_axial_sql(cx, cy, e)
                   for cx, cy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1))])
    # materialize the grid bounds as NAMED columns before the explodes:
    # inlined into sequence() they would be re-evaluated per GENERATED
    # row (the 4-corner cube-round tree × every grid cell — measured
    # 1.8× slower on idw_interp), as a Project they run once per
    # feature inside codegen and the Generates see plain attributes
    df = polys.select(
        "*",
        F.expr(f"(least({', '.join(qs)}) - 1)").alias("_q0"),
        F.expr(f"(greatest({', '.join(qs)}) + 1)").alias("_q1"),
        F.expr(f"(least({', '.join(rs)}) - 1)").alias("_r0"),
        F.expr(f"(greatest({', '.join(rs)}) + 1)").alias("_r1"))
    df = df.withColumn("_q", F.expr("explode(sequence(`_q0`, `_q1`))"))
    df = df.withColumn("_r", F.expr("explode(sequence(`_r0`, `_r1`))"))
    qd, rd = "CAST(`_q` AS DOUBLE)", "CAST(`_r` AS DOUBLE)"
    cx = (f"({_d(e)} * (({_d(I._SQRT3)} * {qd}) "
          f"+ ({_d(I._SQRT3 / 2.0)} * {rd})))")
    cy = f"({_d(e)} * ({_d(1.5)} * {rd}))"
    pad = _d(e)
    keep = (f"(((({cx} >= ({x0} - {pad})) AND ({cx} <= ({x1} + {pad}))) "
            f"AND ({cy} >= ({y0} - {pad}))) AND ({cy} <= ({y1} + {pad})))")
    if disk_prune:
        # DEGENERATE bboxes only (xmin == xmax, ymin == ymax — a point
        # dilated by `radius`): the square cover's corner cells cannot
        # hold a point within `radius` of the centre, so prune to the
        # disk. Sound: a point within `radius` of the centre has its
        # cell centre within circumradius e of itself, hence within
        # radius + e of the query centre. Cuts candidate pairs ~21 %
        # on the idw disk join (47.6 M → 37.7 M at sf0.1).
        ddx = f"({cx} - {_name(xmin)})"
        ddy = f"({cy} - {_name(ymin)})"
        keep = (f"({keep} AND ((({ddx} * {ddx}) + ({ddy} * {ddy})) "
                f"<= {_d((float(radius) + e) ** 2)}))")
    df = df.filter(F.expr(keep))
    return df.withColumn("cell", F.expr(_pack_sql(code, "`_q`", "`_r`"))) \
        .drop("_q", "_r", "_q0", "_q1", "_r0", "_r1")


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
    broadcast_polys: bool = False,
    salt: int | str = 0,
    bc_metrics=None,
) -> DataFrame:
    """Candidate pairs of (point, polygon) within `radius`, refined.

    Returns points' columns + polys' columns (less `geom` under
    `broadcast_polys`) + `dist` + one `a<r>` column per entry of
    `radii` (exact circle∩polygon area).

    `salt="auto"` (VERDICT r04 #3 — shuffle path only): the JVM cover
    is recomputed for the probe from the geometry alone (one extra
    codegen pass at build time, zero per-run cost), a 2 % point
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
    code = I.code_for_radius(max(radius / 4.0, I.RESOLUTIONS[0]))
    pts = with_cell(points, code)
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
            # The histogram recomputes the cover from `geom` alone: a
            # localCheckpoint of the exploded cover, shared with the
            # join, measured ~3× SLOWER to read back than the codegen
            # recompute.
            cells_only = explode_poly_cells(
                polys.select("geom"), radius, code)
            ph = cells_only.groupBy("cell").agg(
                F.count(F.lit(1)).alias("_np"))
            sp = with_cell(points.sample(AUTO_SALT_SAMPLE, seed=7), code)
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
        pts, pls, join_keys = salted(pts, pls, salt, F.col("x"))
    if broadcast_polys:
        pls = F.broadcast(pls)

    cond = None
    for k in join_keys:
        c = pts[k] == pls[k]
        cond = c if cond is None else cond & c
    pairs = pts.join(pls, cond, "inner").drop(pls["cell"])
    if salt > 1:
        pairs = pairs.drop(pls["_salt"]).drop(pts["_salt"])

    # JVM bbox prefilter: bbox distance ≤ exact distance, so dropping
    # pairs with bbox_dist ≥ radius is lossless and keeps the (slower)
    # Arrow kernel off 60-80% of the raw cell-join output — the hex
    # cell join at edge ≥ radius admits pairs up to ~3 cell diameters
    # apart; this tightens to the exact radius superset, JVM-side.
    bdx = F.greatest(F.col("bxmin") - F.col("x"),
                     F.col("x") - F.col("bxmax"), F.lit(0.0))
    bdy = F.greatest(F.col("bymin") - F.col("y"),
                     F.col("y") - F.col("bymax"), F.lit(0.0))
    pairs = pairs.filter(bdx * bdx + bdy * bdy < F.lit(float(radius) ** 2))
    pairs = pairs.drop("bxmin", "bymin", "bxmax", "bymax")

    if bc_metrics is not None:
        udf, args = bc_metrics, ("x", "y", "feature_id")
    else:
        udf = pair_metrics_udf(tuple(radii))
        args = ("x", "y", "feature_id", "geom")
    # nondeterministic, so the optimizer cannot push the dist filter
    # below this projection by copying the UDF into it: the kernel ran
    # twice per pair, once for the filter and once for the values
    m = udf.asNondeterministic()(*map(F.col, args)).alias("_m")
    pairs = pairs.withColumn("_m", m).select("*", "_m.*").drop("_m")
    return pairs.filter(F.col("dist") < F.lit(float(radius)))
