"""Spatial queries over deterministically geotagged testdata rows —
the driver-facing face of the spatial engine (SURVEY.md §2.3/2.4).

Points come from `orders` (o_orderkey → integer-valued metres via the
SQL-parity LCG in data/geotag.py), axis-aligned rectangle features from
`part`. The Spark side runs the REAL engine path — hex-cell candidate
join + refinement — while the DuckDB oracle brute-forces a cross join
from the same deterministic coordinates. A hash match therefore proves
the cell cover, explode, join, and left-default semantics are exact,
not just that two copies of the same formula agree.

All geometry here is integer-valued, so distances (sqrt of exact ints)
and overlap areas (exact int products) hash bit-identically across
engines with no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data import geotag as G
from ..geo import index as I
from ..operators.range_join import explode_bbox_cells, with_cell
from ..scratch import scratch_dir

ORACLE: dict[str, str] = {}

MAXDIST = 1000.0
TILE = 1250  # fishnet tile size (m) for the J1 tile-assignment query

_R = G.sql_rect("p_partkey")

_PTS_SQL = f"""
  SELECT o_orderkey AS pid,
         {G.sql_point_x('o_orderkey')} AS x,
         {G.sql_point_y('o_orderkey')} AS y,
         {G.sql_point_year('o_orderkey')} AS pyear
  FROM orders
"""

_RECTS_SQL = f"""
  SELECT p_partkey AS fid,
         {_R['rxmin']} AS rxmin, {_R['rymin']} AS rymin,
         {_R['rxmax']} AS rxmax, {_R['rymax']} AS rymax,
         {_R['ryear']} AS ryear
  FROM part
"""

_PAIRS_SQL = f"""
  SELECT pid, fid, x, y, pyear, ryear, rxmin, rymin, rxmax, rymax,
         SQRT(dx * dx + dy * dy) AS dist
  FROM (
    SELECT *,
           GREATEST(rxmin - x, x - rxmax, 0.0) AS dx,
           GREATEST(rymin - y, y - rymax, 0.0) AS dy
    FROM ({_PTS_SQL}) CROSS JOIN ({_RECTS_SQL})
  )
"""


def _key_scan(spark: SparkSession, sf_dir: str, table: str,
              key: str) -> DataFrame:
    """The one BIGINT key column of a geotag table. Every coordinate,
    extent and year derives from the key, so nothing else is read. The
    declared schema skips Spark's footer-inference job (one Spark job
    per unschema'd read, run at plan build); since a declared schema
    reads a missing column as NULLs, a null key fails the scan by name
    instead of yielding null rows. An INT32 key widens to BIGINT."""
    msg = f"{table}.parquet: null or missing {key}"
    return (spark.read.schema(f"{key} BIGINT")
            .parquet(f"{sf_dir}/{table}.parquet")
            .select(F.expr(f"coalesce(`{key}`, raise_error('{msg}'))")
                    .alias(key)))


def points_df(spark: SparkSession, sf_dir: str,
              spread: bool = True) -> DataFrame:
    o = _key_scan(spark, sf_dir, "orders", "o_orderkey")
    # The probe side is spread across the cluster so the per-point
    # joins and kernels parallelize: a testdata table is one small file,
    # hence one input split (a real scan arrives pre-split).
    # r08 (guide §2.4): HASH on the point key, not round-robin — the
    # keyless form pays a sort-before-repartition AND its partitioning
    # is useless downstream, while hashpartitioning(pid) is exactly
    # what every per-pid groupBy or window wants, so Catalyst elides
    # their exchanges (the one-scan aggregate of _per_point, knn3's
    # rank window: measured 3.5 → 1.9 s when its shuffle went away).
    # spread=False skips the exchange for consumers with NO per-point
    # kernel or per-pid operator (tile_counts: scan → map-side partial
    # agg → 256-group exchange is the 100 TB plan shape already; the
    # repartition only added a full round-trip of the point table)
    if spread:
        o = o.repartition(spark.sparkContext.defaultParallelism * 2,
                          F.col("o_orderkey"))
    return o.select(
        F.col("o_orderkey").alias("pid"),
        F.expr(G.sql_point_x("o_orderkey")).alias("x"),
        F.expr(G.sql_point_y("o_orderkey")).alias("y"),
        F.expr(G.sql_point_year("o_orderkey")).alias("pyear"),
    )


def rects_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _key_scan(spark, sf_dir, "part", "p_partkey")
    df = p.selectExpr("p_partkey AS fid", *[f"{v} AS {k}" for k, v in _R.items()])
    return df.withColumn("geom", F.expr(
        "array(array(rxmin, rymin, rxmax, rymin, rxmax, rymax, "
        "rxmin, rymax, rxmin, rymin))"))


# point-to-rectangle distance over a joined (point, rect) row: pure
# JVM and codegen'd (axis-aligned features need no pandas UDF)
_RECT_DIST_SQL = ("sqrt((greatest((rxmin - x), (x - rxmax), 0.0D) "
                  "* greatest((rxmin - x), (x - rxmax), 0.0D)) "
                  "+ (greatest((rymin - y), (y - rymax), 0.0D) "
                  "* greatest((rymin - y), (y - rymax), 0.0D)))")


def _rect_cover(rects: DataFrame) -> tuple[int, DataFrame]:
    """(cell code, maxdist cover of `rects`). Finer-than-radius cells →
    tighter dilation cover → fewer raw join rows (see
    range_join.range_join_pairs). Rects are axis-aligned, so the
    cover explodes straight from the bbox columns (explode_bbox_cells)
    with no ring parse; the broadcast build side is one codegen'd
    scan+explode."""
    code = I.code_for_radius(MAXDIST / 4.0)
    return code, explode_bbox_cells(rects.drop("geom"), MAXDIST, code)


def rect_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's candidate-pair join: points carry one hex cell id,
    rectangles explode over the hex cover of their maxdist-dilated
    bbox, equi join on cell, then the point-to-rectangle distance."""
    code, cover = _rect_cover(rects_df(spark, sf_dir))
    pts = with_cell(points_df(spark, sf_dir), code)
    return pts.join(F.broadcast(cover), "cell") \
        .withColumn("dist", F.expr(_RECT_DIST_SQL))


def _per_point(spark: SparkSession, sf_dir: str, *aggs,
               theta=None, rects: DataFrame | None = None) -> DataFrame:
    """One row per point — pid, x, y, pyear and `aggs` — from ONE scan
    of the points: the celled points LEFT-join the broadcast cover of
    `rects` (default rects_df) and aggregate per point. A point with no
    candidate keeps one row whose rectangle columns and `dist` are
    NULL, so `aggs` state their empty-candidate defaults themselves
    (when/coalesce) and no second points scan and LEFT join restore
    them. greatest/least skip NULLs, so a pair expression built from
    them must test `dist` to stay NULL on that row. `theta` is an extra
    predicate inside the join condition: a pair it rejects is not a
    candidate. The points arrive hash-partitioned on pid, so the
    aggregate needs no exchange."""
    code, cover = _rect_cover(rects if rects is not None
                              else rects_df(spark, sf_dir))
    pts = with_cell(points_df(spark, sf_dir), code)
    cond = pts["cell"] == cover["cell"]
    if theta is not None:
        cond = cond & theta
    return (pts.join(F.broadcast(cover), cond, "left")
            .withColumn("dist", F.when(cover["cell"].isNotNull(),
                                       F.expr(_RECT_DIST_SQL)))
            .groupBy("pid", "x", "y", "pyear").agg(*aggs))


# --- J1/G8: fishnet tile assignment + per-tile counts (the reference's
# points-in-cell join, C_…R:235, as pure column arithmetic)
def q_tile_counts(spark, sf_dir):
    # spread=False (r08): this is a pure map-side-combinable agg — the
    # scan partitioning is already the right input shape, and the
    # repartition cost ~10× the query (1.10 s vs 0.12 s at sf0.1)
    pts = points_df(spark, sf_dir, spread=False)
    return (
        pts.withColumn("tile_x", F.floor(F.col("x") / TILE).cast("int"))
        .withColumn("tile_y", F.floor(F.col("y") / TILE).cast("int"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


ORACLE["tile_counts"] = f"""
SELECT CAST(FLOOR(x / {TILE}) AS INT) AS tile_x,
       CAST(FLOOR(y / {TILE}) AS INT) AS tile_y,
       COUNT(*) AS n_points
FROM ({_PTS_SQL}) GROUP BY 1, 2
"""


# --- J2/J3/G7: range join + capped nearest distance (the flagship:
# st_distance + maxdist cap, C_…R:112-117) with LEFT defaults (J6)
def q_range_near(spark, sf_dir):
    near = F.col("dist") < MAXDIST
    return _per_point(
        spark, sf_dir,
        F.count(F.when(near, 1)).alias("n_cand"),
        F.coalesce(F.min(F.when(near, F.col("dist"))),
                   F.lit(MAXDIST)).alias("near_dist"),
    ).select("pid", "n_cand", "near_dist")


ORACLE["range_near"] = f"""
SELECT pid,
       COALESCE(n_cand, 0) AS n_cand,
       COALESCE(near_dist, {MAXDIST}) AS near_dist
FROM ({_PTS_SQL})
LEFT JOIN (
  SELECT pid AS jpid, COUNT(*) AS n_cand, MIN(dist) AS near_dist
  FROM ({_PAIRS_SQL}) WHERE dist < {MAXDIST} GROUP BY pid
) ON pid = jpid
"""


# --- the full areadist semantics with square windows (temporal theta
# filter, YEAR=0 recode to the oldest real year, area-weighted mean
# age, LEFT defaults — C_…R:135-197) in exact integer arithmetic
def q_areadist_square(spark, sf_dir):
    rects = rects_df(spark, sf_dir)
    oldest = rects.filter(F.col("ryear") > 0).agg(F.min("ryear").alias("oldestyear"))
    # SQL text, as the oracle states it: one parse per aggregate instead
    # of a py4j call per Column operator
    a150 = ("CASE WHEN dist IS NOT NULL THEN"
            " greatest(least(x + 150, rxmax) - greatest(x - 150, rxmin), 0.0D)"
            " * greatest(least(y + 150, rymax) - greatest(y - 150, rymin), 0.0D)"
            " END")
    age = "(pyear - CASE WHEN ryear = 0 THEN oldestyear ELSE ryear END)"
    return _per_point(
        spark, sf_dir,
        F.expr(f"coalesce(sum({a150}), 0.0D)").alias("area150"),
        F.expr(f"sum(CASE WHEN {a150} > 0 THEN {age} * {a150} END)"
               f" / sum(CASE WHEN {a150} > 0 THEN {a150} END)").alias("meanage150"),
        F.expr(f"coalesce(least(min(dist), {MAXDIST}D), {MAXDIST}D)").alias("near_dist"),
        theta=F.col("ryear") < F.col("pyear"),
        rects=rects.crossJoin(F.broadcast(oldest)),
    ).select("pid", "area150", "meanage150", "near_dist")


ORACLE["areadist_square"] = f"""
WITH pairs AS (
  SELECT *,
         GREATEST(LEAST(x + 150, rxmax) - GREATEST(x - 150, rxmin), 0.0)
       * GREATEST(LEAST(y + 150, rymax) - GREATEST(y - 150, rymin), 0.0) AS a150
  FROM ({_PAIRS_SQL}) WHERE ryear < pyear AND dist < {MAXDIST}
), oldest AS (
  SELECT MIN(ryear) AS oldestyear FROM ({_RECTS_SQL}) WHERE ryear > 0
), agg AS (
  SELECT pid AS jpid,
         SUM(a150) AS area150,
         SUM(CASE WHEN a150 > 0 THEN (pyear - CASE WHEN ryear = 0 THEN oldestyear ELSE ryear END) * a150 END)
           / SUM(CASE WHEN a150 > 0 THEN a150 END) AS meanage150,
         MIN(dist) AS near_dist
  FROM pairs CROSS JOIN oldest GROUP BY pid
)
SELECT pid,
       COALESCE(area150, 0.0) AS area150,
       meanage150,
       COALESCE(LEAST(near_dist, {MAXDIST}), {MAXDIST}) AS near_dist
FROM ({_PTS_SQL}) LEFT JOIN agg ON pid = jpid
"""


# --- kNN (k=3) per point within maxdist: the ranking generalization of
# NEAR.DIST (SURVEY.md §2.5 window note)
def q_knn3(spark, sf_dir):
    # prune to (pid, fid, dist) BEFORE the window so the rank shuffle
    # moves 3 columns, not the full pair row (bbox etc). Alternatives
    # measured at sf0.1/local[32] and rejected: collect_list+array_sort
    # partial agg 3× slower (object-hash agg on wide arrays); ring
    # expansion (250→1000) 2× slower (3 join rounds + semi/anti joins
    # dominate at this density). The 25M-row window after the broadcast
    # cell join is the honest cost; at 100× the same plan holds because
    # the shuffle is hash(pid) with bounded per-pid candidate counts.
    pairs = rect_pairs(spark, sf_dir).filter(F.col("dist") < MAXDIST) \
        .select("pid", "fid", "dist")
    w = W.partitionBy("pid").orderBy(F.col("dist"), F.col("fid"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("pid", "rk", "fid", "dist")
    )


ORACLE["knn3"] = f"""
SELECT pid, rk, fid, dist FROM (
  SELECT pid, fid, dist,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dist, fid) AS rk
  FROM ({_PAIRS_SQL}) WHERE dist < {MAXDIST}
) WHERE rk <= 3
"""


# --- closed-form circle ∩ axis-aligned-rectangle area, as DuckDB SQL.
# This is the flagship oracle (VERDICT r01 #1): the Spark side runs the
# REAL Green's-theorem Arrow kernel (geo/kernels.py:_edge_circle_contrib)
# while DuckDB evaluates the independent circular-segment closed form —
# a hash match proves the kernel, the cell cover, the join, and the
# LEFT-default semantics all at once. Derivation: translate the circle
# to the origin; area = F(x1,y1) − F(x0,y1) − F(x1,y0) + F(x0,y0) with
# F(X,Y) = sign(X)·sign(Y)·A0(min(|X|,r), min(|Y|,r)), where
# A0(w,h) = ∫₀ʷ min(h, √(r²−x²)) dx
#         = w·h                         if w ≤ c := √(r²−h²)
#         = c·h + G(w) − G(c)           otherwise,
# G(t) = (t·√(r²−t²) + r²·asin(t/r)) / 2 (antiderivative of √(r²−t²)).
# Agreement with the kernel measured ≤ 4e-9 absolute over 200k integer
# configs, so ROUND at 2-6 dp on both sides is deterministic.
def _sql_circle_rect_area(r: float) -> str:
    """SQL expression: area(circle((x,y),r) ∩ [rxmin,rxmax]×[rymin,rymax]).
    References columns x, y, rxmin, rymin, rxmax, rymax."""
    rr = float(r) * float(r)

    def G(t: str) -> str:
        return (f"(({t})*SQRT({rr} - ({t})*({t})) "
                f"+ {rr}*ASIN(({t})/{float(r)}))/2.0")

    def A0(w: str, h: str) -> str:
        c = f"SQRT({rr} - ({h})*({h}))"
        return (f"CASE WHEN ({w}) <= {c} THEN ({w})*({h}) "
                f"ELSE {c}*({h}) + {G(w)} - {G(c)} END")

    def B(X: str, Y: str) -> str:
        w = f"LEAST(ABS({X}), {float(r)})"
        h = f"LEAST(ABS({Y}), {float(r)})"
        s = (f"(CASE WHEN ({X}) < 0 THEN -1.0 WHEN ({X}) > 0 THEN 1.0 "
             f"ELSE 0.0 END * CASE WHEN ({Y}) < 0 THEN -1.0 "
             f"WHEN ({Y}) > 0 THEN 1.0 ELSE 0.0 END)")
        return f"({s} * ({A0(w, h)}))"

    tx0, tx1 = "(rxmin - x)", "(rxmax - x)"
    ty0, ty1 = "(rymin - y)", "(rymax - y)"
    return (f"({B(tx1, ty1)} - {B(tx0, ty1)} - {B(tx1, ty0)} "
            f"+ {B(tx0, ty0)})")


# Rounding contract shared by the Spark flagship queries
# (_flagship_select) and this oracle: both engines compute independently
# then ROUND at digits ≥3 orders above the measured cross-engine error.
FLAGSHIP_ROUND = {"NEAR_DIST": 4, "AREA": 2, "PROP": 6, "MEANAGE": 4}

_FLAGSHIP_SQL = f"""
WITH fpts AS (
  SELECT * FROM ({_PTS_SQL}) WHERE pid % 10 = 0
), frects AS ({_RECTS_SQL}),
oldest AS (SELECT MIN(ryear) AS oldestyear FROM frects WHERE ryear > 0),
fpairs AS (
  SELECT pid, pyear, ryear, dist,
         CASE WHEN dist < 150.0 THEN {_sql_circle_rect_area(150.0)}
              ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {_sql_circle_rect_area(565.0)}
              ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, p.pyear, r.*,
           SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0)) AS dist
    FROM fpts p CROSS JOIN frects r
    WHERE r.ryear < p.pyear
  )
), agg AS (
  SELECT pid AS jpid,
         MIN(dist) AS near,
         SUM(ca150) AS area150, SUM(ca565) AS area565,
         SUM(CASE WHEN ca150 > 0 THEN
               (pyear - CASE WHEN ryear = 0 THEN oldestyear ELSE ryear END)
               * ca150 ELSE 0 END) AS num150,
         SUM(CASE WHEN ca150 > 0 THEN ca150 END) AS den150,
         SUM(CASE WHEN ca565 > 0 THEN
               (pyear - CASE WHEN ryear = 0 THEN oldestyear ELSE ryear END)
               * ca565 ELSE 0 END) AS num565,
         SUM(CASE WHEN ca565 > 0 THEN ca565 END) AS den565
  FROM fpairs CROSS JOIN oldest
  GROUP BY pid
)
SELECT CAST(pid AS VARCHAR) AS PKEY,
       CAST(pid % 97 AS VARCHAR) AS SS,
       pyear AS YEAR,
       'rects' AS layer,
       ROUND(LEAST(COALESCE(near, {MAXDIST}), {MAXDIST}), 4) AS NEAR_DIST,
       ROUND(COALESCE(area150, 0.0), 2) AS AREA150,
       ROUND(COALESCE(area150, 0.0) / (3.14 * 150 * 150), 6) AS PROP150,
       CASE WHEN ROUND(COALESCE(area150, 0.0), 2) > 0
            THEN ROUND(num150 / den150, 4) END AS MEANAGE_150,
       ROUND(COALESCE(area565, 0.0), 2) AS AREA565,
       ROUND(COALESCE(area565, 0.0) / (3.14 * 565 * 565), 6) AS PROP565,
       CASE WHEN ROUND(COALESCE(area565, 0.0), 2) > 0
            THEN ROUND(num565 / den565, 4) END AS MEANAGE_565
FROM fpts LEFT JOIN agg ON pid = jpid
"""

# one oracle, two engine paths: the fused single-stage mapInPandas plan
# and the generic cell-explode equi-join plan must both match it
ORACLE["areadist_circle"] = _FLAGSHIP_SQL
ORACLE["areadist_circle_join"] = _FLAGSHIP_SQL


# --- kNN ring expansion oracle: brute-force cross join + ROW_NUMBER
# (VERDICT r01 #2), exactly like knn3 but over the pid%50 subset with
# no radius cap (the 20 km window's diameter < the 32 km expansion cap,
# so every point resolves all k=3 neighbours)
ORACLE["knn_ring"] = f"""
SELECT CAST(pid AS VARCHAR) AS PKEY, rk, fid AS feature_id,
       ROUND(dist, 6) AS dist
FROM (
  SELECT pid, fid, dist,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dist, fid) AS rk
  FROM ({_PAIRS_SQL})
  WHERE pid % 50 = 0
) WHERE rk <= 3
"""


# --- P3+J4 combined: temporal theta predicate inside the spatial join
def q_theta_spatial(spark, sf_dir):
    pairs = rect_pairs(spark, sf_dir).filter(
        (F.col("dist") < MAXDIST) & (F.col("ryear") < F.col("pyear")))
    return pairs.groupBy("pyear").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("dist"), 4).alias("sum_dist"),
    )


ORACLE["theta_spatial"] = f"""
SELECT pyear, COUNT(*) AS n_pairs, ROUND(SUM(dist), 4) AS sum_dist
FROM ({_PAIRS_SQL})
WHERE dist < {MAXDIST} AND ryear < pyear
GROUP BY pyear
"""


# --- A-family: EXACT grouped quantiles of the candidate distance
# distribution (r04). Spark `percentile` and DuckDB `quantile_cont`
# both implement type-7 linear interpolation at rank p·(n−1)
# (verified identical to the ulp on shared inputs), so exact
# percentiles are cross-engine hashable — the distribution-shape
# summary a spatial QA pipeline reports per stratum.
def q_dist_quantiles(spark, sf_dir):
    pairs = rect_pairs(spark, sf_dir).filter(F.col("dist") < MAXDIST)
    q = F.expr("percentile(dist, array(0.25, 0.5, 0.9, 0.99))")
    return pairs.groupBy("pyear").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(q[0], 6).alias("p25"),
        F.round(q[1], 6).alias("p50"),
        F.round(q[2], 6).alias("p90"),
        F.round(q[3], 6).alias("p99"),
    )


ORACLE["dist_quantiles"] = f"""
SELECT pyear, COUNT(*) AS n_pairs,
       ROUND(quantile_cont(dist, 0.25), 6) AS p25,
       ROUND(quantile_cont(dist, 0.5), 6) AS p50,
       ROUND(quantile_cont(dist, 0.9), 6) AS p90,
       ROUND(quantile_cont(dist, 0.99), 6) AS p99
FROM ({_PAIRS_SQL})
WHERE dist < {MAXDIST}
GROUP BY pyear
"""

# --- S4: CRS reprojection in the pipeline (st_transform on load,
# C_…R:33). The Spark side runs the engine's tmerc_forward NumPy UDF
# (operators/reproject.project_points); the oracle evaluates the same
# GRS80 Redfearn series as plain SQL arithmetic. Identical series ⇒
# truncation cancels; residual is fp-op-order + libm ulps (~1e-9 m),
# and both sides ROUND to 4 dp (0.1 mm).
def _tmerc_forward_sql(pts_sql: str) -> str:
    a, f = 6378137.0, 1.0 / 298.257222101
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    m0 = 1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256
    m2 = 3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024
    m4 = 15 * e2**2 / 256 + 45 * e2**3 / 1024
    m6 = 35 * e2**3 / 3072
    k0, lon0, x0, y0 = 0.9992, -115.0, 500000.0, 0.0
    # NB: DuckDB identifiers are case-insensitive — the Redfearn "C"
    # coefficient is named CV so it cannot collide with cosine "c"
    return f"""
SELECT pid,
       ROUND({x0!r} + {k0!r} * NU * (AA
             + (1 - T2 + CV) * AA*AA*AA / 6
             + (5 - 18*T2 + T2*T2 + 72*CV - 58*{ep2!r}) * AA*AA*AA*AA*AA / 120),
             4) AS x,
       ROUND({y0!r} + {k0!r} * (MM + NU * (sphi/cphi) * (AA*AA / 2
             + (5 - T2 + 9*CV + 4*CV*CV) * AA*AA*AA*AA / 24
             + (61 - 58*T2 + T2*T2 + 600*CV - 330*{ep2!r}) * AA*AA*AA*AA*AA*AA / 720)),
             4) AS y
FROM (
  SELECT pid, sphi, cphi, AA,
         {a!r} / SQRT(1 - {e2!r} * sphi * sphi) AS NU,
         (sphi/cphi) * (sphi/cphi) AS T2,
         {ep2!r} * cphi * cphi AS CV,
         {a!r} * ({m0!r} * phi - {m2!r} * SIN(2*phi)
                  + {m4!r} * SIN(4*phi) - {m6!r} * SIN(6*phi)) AS MM
  FROM (
    SELECT pid, phi, SIN(phi) AS sphi, COS(phi) AS cphi, dl * COS(phi) AS AA
    FROM (
      SELECT pid, RADIANS(lat) AS phi, RADIANS(lon - ({lon0!r})) AS dl
      FROM ({pts_sql})
    )
  )
)
"""


_LL_SQL = f"""
  SELECT o_orderkey AS pid,
         {G.sql_lon('o_orderkey')} AS lon,
         {G.sql_lat('o_orderkey')} AS lat
  FROM orders
"""

ORACLE["reproject"] = _tmerc_forward_sql(_LL_SQL)


def q_reproject(spark, sf_dir):
    from ..operators.reproject import project_points
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = o.repartition(spark.sparkContext.defaultParallelism)
    ll = o.select(
        F.col("o_orderkey").alias("pid"),
        F.expr(G.sql_lon("o_orderkey")).alias("lon"),
        F.expr(G.sql_lat("o_orderkey")).alias("lat"),
    )
    p = project_points(ll)
    return p.select("pid", F.round("x", 4).alias("x"),
                    F.round("y", 4).alias("y"))


# --- S3: shapefile ingestion (st_read, C_…R:32). The query writes the
# rectangle layer as REAL .shp/.shx/.dbf files (sources/shapefile.py
# writer) from the deterministic integers, reads them back through the
# distributed binaryFile+mapInPandas scan, and reconstructs the rect
# params from parsed ring vertices. The oracle derives the same values
# from pure SQL arithmetic — a hash match proves the byte-level format
# round-trip end to end.
def q_shapefile_scan(spark, sf_dir):
    import os
    import tempfile

    import numpy as np

    from ..sources import shapefile as SHP

    keys = np.sort(np.array(
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_partkey").toPandas()["p_partkey"], dtype=np.int64))
    p = G.rect_params_np(keys)
    d = os.path.join(tempfile.gettempdir(),
                     "shpfix_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(d, exist_ok=True)
    nshards = 4
    for s in range(nshards):
        m = keys % nshards == s
        geoms = [
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]
            for x0, y0, x1, y1 in zip(p["rxmin"][m], p["rymin"][m],
                                      p["rxmax"][m], p["rymax"][m])
        ]
        import pandas as pd
        attrs = pd.DataFrame({"FID": keys[m], "YEAR": p["ryear"][m]})
        SHP.write_shapefile(os.path.join(d, f"layer{s}"), geoms, attrs)

    df = SHP.read_shapefiles_df(
        spark, os.path.join(d, "*"),
        [("FID", T.LongType()), ("YEAR", T.IntegerType())])
    xs = F.expr("filter(geom[0], (v, i) -> i % 2 = 0)")
    ys = F.expr("filter(geom[0], (v, i) -> i % 2 = 1)")
    return df.select(
        F.col("FID").alias("fid"),
        F.array_min(xs).alias("rxmin"), F.array_min(ys).alias("rymin"),
        F.array_max(xs).alias("rxmax"), F.array_max(ys).alias("rymax"),
        F.col("YEAR").alias("ryear"),
    )


ORACLE["shapefile_scan"] = f"""
SELECT fid, rxmin, rymin, rxmax, rymax, ryear FROM ({_RECTS_SQL})
"""


# --- G5: exact dissolved-union area (st_union, C_…R:99,154) on a
# deliberately OVERLAPPING layer: every part key spawns a rect pair
# (B = A shifted by half its width) inside a private 100 m slot, so
# the union has a closed form: area(circle∩A) + area(circle∩B) −
# area(circle∩(A∩B)), and A∩B is itself an axis-aligned rect. The
# Spark side runs dissolve="auto" DEFAULT — overlap detection +
# inclusion–exclusion correction pseudo-features kick in with no
# caller hint; the oracle evaluates the three-term closed form.
# 200 slots/axis × 100 m = the 20 km window; rect extents stay ≤ 82 m
# so every key's pair lives inside a private slot up to 40 000 parts
# (sf ≤ 0.2 — covers the driver's sf0.01 and the bench's sf0.1;
# ADVICE r02: 141²=19 881 slots collided at sf0.1)
_SLOT = 200


def _pair_rects_sql() -> str:
    k = f"(p_partkey % {_SLOT * _SLOT})"
    sx = f"({k} % {_SLOT})"
    sy = f"CAST(({k} - {sx}) / {_SLOT} AS BIGINT)"
    ox, oy = f"({sx} * 100 + 10)", f"({sy} * 100 + 10)"
    hw, hh = "(10 + p_partkey % 15)", "(8 + p_partkey % 11)"
    cls = ("CASE p_partkey % 5 WHEN 0 THEN 'Bog' WHEN 1 THEN 'Fen' "
           "WHEN 2 THEN 'Marsh' WHEN 3 THEN 'Open Water' "
           "ELSE 'Swamp' END")
    return f"""
  SELECT p_partkey AS fid, kind, {cls} AS cls,
         CAST({ox} + CASE WHEN kind = 1 THEN {hw}
                          WHEN kind = 2 THEN {hw} ELSE 0 END AS DOUBLE) AS rxmin,
         CAST({oy} AS DOUBLE) AS rymin,
         CAST({ox} + 2 * {hw} + CASE WHEN kind = 1 THEN {hw} ELSE 0 END
              AS DOUBLE) AS rxmax,
         CAST({oy} + 2 * {hh} AS DOUBLE) AS rymax,
         CASE WHEN kind = 2 THEN -1.0 ELSE 1.0 END AS w
  FROM part CROSS JOIN (SELECT unnest([0, 1, 2]) AS kind)
"""


ORACLE["areadist_dissolve"] = f"""
WITH dpts AS (
  SELECT * FROM ({_PTS_SQL}) WHERE pid % 10 = 0
), urects AS ({_pair_rects_sql()}),
dpairs AS (
  SELECT pid, w, kind, dist,
         CASE WHEN dist < 150.0 THEN {_sql_circle_rect_area(150.0)}
              ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {_sql_circle_rect_area(565.0)}
              ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, r.*,
           SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0)) AS dist
    FROM dpts p CROSS JOIN urects r
  )
), agg AS (
  SELECT pid AS jpid,
         MIN(CASE WHEN kind <> 2 THEN dist END) AS near,
         SUM(w * ca150) AS area150,
         SUM(w * ca565) AS area565
  FROM dpairs GROUP BY pid
)
SELECT CAST(pid AS VARCHAR) AS PKEY,
       ROUND(LEAST(COALESCE(near, {MAXDIST}), {MAXDIST}), 4) AS NEAR_DIST,
       ROUND(COALESCE(area150, 0.0), 2) AS AREA150,
       ROUND(COALESCE(area565, 0.0), 2) AS AREA565
FROM dpts LEFT JOIN agg ON pid = jpid
"""

# both engine plans (fused single-stage / tiled kernel) answer to the
# same inclusion–exclusion closed form
ORACLE["areadist_dissolve_join"] = ORACLE["areadist_dissolve"]


def _keyed_points(spark, sf_dir):
    return points_df(spark, sf_dir).filter(F.col("pid") % 10 == 0).select(
        F.col("pid").cast("string").alias("PKEY"),
        (F.col("pid") % 97).cast("string").alias("SS"),
        F.col("pyear").alias("YEAR"), "x", "y",
    )


def _pair_rect_polys(spark, sf_dir, layer_col: str = "layer",
                     with_class: bool = False, foot14: bool = False,
                     classes: tuple = None) -> DataFrame:
    """The controlled-overlap feature table behind the union-dissolve
    oracles: per part key, rect A and rect B = A shifted +hw, both in
    the key's private 100 m slot, so union = A + B − (A∩B) in closed
    form. `with_class` tags each pair with one of the 5 wetland
    classes (fid % 5) — classes partition the keys, so slot privacy
    holds within every class too. `foot14` instead tags pairs with 14
    footprint layers (fid % 14) AND gives A and B independent
    construction years (0-sentinels included), so the temporal theta
    and the YEAR-recode age math run over the union fixture — the
    wide_merge capstone's primary-path feature side."""
    p = _key_scan(spark, sf_dir, "part", "p_partkey")
    # The oracle's three-term closed form assumes p_partkey % _SLOT²
    # is injective (each key owns a private 100 m slot). A key above
    # _SLOT² could share a slot: the engine would still subtract the
    # cross-key overlaps but the per-key oracle would not, so fail
    # loudly instead of hash-mismatching mysteriously (ADVICE r02).
    # Checked per row, so the plan build runs no Spark job. [0, _SLOT²]
    # admits both 0-based (testdata) and 1-based key sets; of its
    # keys only 0 and _SLOT² share a slot.
    S2 = _SLOT * _SLOT
    msg = (f"pair-rect fixture needs part keys in [0, {S2}] for slot "
           f"privacy — enlarge _SLOT for this sf")
    p = p.selectExpr(f"CASE WHEN p_partkey >= 0 AND p_partkey <= {S2} "
                     f"THEN p_partkey ELSE raise_error('{msg}') END AS p_partkey")
    # SQL text, one selectExpr per frame: a Column per expression costs
    # ~11 py4j round trips, and this builds at every capstone call
    if with_class:
        names = ", ".join(f"'{c}'" for c in (classes or _WET_CLASSES))
        lay = f"element_at(array({names}), CAST(pmod(p_partkey, 5) + 1 AS INT))"
    elif foot14:
        lay = "format_string('L%02d', CAST(pmod(p_partkey, 14) AS INT))"
    else:
        lay = "'pairs'"
    # independent construction years per rect (foot14 only): the same
    # 0-sentinel recipe as the geotag rects, different moduli for A and
    # B so the overlap correction's theta year max(yA, yB) is exercised
    # with genuinely distinct member years
    if foot14:
        ya = ("CAST(CASE WHEN pmod(p_partkey, 20) = 0 THEN 0 "
              "ELSE 1990 + pmod(p_partkey, 29) END AS INT)")
        yb = ("CAST(CASE WHEN pmod(p_partkey, 17) = 0 THEN 0 "
              "ELSE 1992 + pmod(p_partkey * 3, 27) END AS INT)")
    else:
        ya = yb = "CAST(0 AS INT)"
    k = f"pmod(p_partkey, {S2})"
    base = p.selectExpr(
        "p_partkey",
        f"CAST(pmod({k}, {_SLOT}) * 100 + 10 AS DOUBLE) AS ox",
        f"CAST(FLOOR({k} / {_SLOT}) * 100 + 10 AS DOUBLE) AS oy",
        "CAST(10 + pmod(p_partkey, 15) AS DOUBLE) AS hw",
        "CAST(8 + pmod(p_partkey, 11) AS DOUBLE) AS hh",
        f"{lay} AS _lay", f"{ya} AS _ya", f"{yb} AS _yb")

    def rect(x0, y0, x1, y1, fid, year_col):
        return base.selectExpr(
            f"{fid} AS feature_id", f"_lay AS `{layer_col}`",
            f"{year_col} AS YEAR",
            f"array(array({x0}, {y0}, {x1}, {y0}, {x1}, {y1}, "
            f"{x0}, {y1}, {x0}, {y0})) AS geom")

    a = rect("ox", "oy", "ox + 2 * hw", "oy + 2 * hh",
             "p_partkey * 2", "_ya")
    b = rect("ox + hw", "oy", "ox + 3 * hw", "oy + 2 * hh",
             "p_partkey * 2 + 1", "_yb")
    return a.unionByName(b)


def _dissolve_select(out):
    return out.select(
        "PKEY", F.round("NEAR_DIST", 4).alias("NEAR_DIST"),
        F.round("AREA150", 2).alias("AREA150"),
        F.round("AREA565", 2).alias("AREA565"))


def q_areadist_dissolve(spark, sf_dir):
    pts = _keyed_points(spark, sf_dir)
    polys = _pair_rect_polys(spark, sf_dir)
    # dissolve left at its DEFAULT ("auto"): the overlap is detected
    # and corrected with no caller hint — the point of this query. The
    # fused single-stage plan (feature side ≪ broadcast envelope)
    # skips pair materialization entirely.
    from ..operators.areadist_fused import areadist_fused
    out = areadist_fused(pts, polys, temporal=False, age=False,
                         validity_filter=False)
    return _dissolve_select(out)


def q_areadist_dissolve_join(spark, sf_dir):
    # the tiled kernel through the same dissolve="auto" default — the
    # path a too-big-to-broadcast layer takes at 100 TB: corrections
    # replicate to the tiles with the features, and the feature-id
    # uniqueness check executes. Same oracle as the fused row (r04:
    # both kernels oracled by SQL, mirroring the areadist_circle/_join
    # pairing).
    from ..operators.areadist import areadist_join
    pts = _keyed_points(spark, sf_dir)
    polys = _pair_rect_polys(spark, sf_dir)
    out = areadist_join(pts, polys, temporal=False, age=False,
                        validity_filter=False)
    return _dissolve_select(out)


# --- open polylines (the reference's seismic-line layers): kNN over
# 3-vertex open chains derived from supplier keys. The engine runs the
# real packed-ring kernel (no closing edge, no inside, zero area); the
# oracle brute-forces the two point-to-segment closed forms. Offsets
# are constructed never-zero so no segment degenerates.
_SEGS = {
    "ax": "CAST(((s_suppkey * 48271 + 307) % 999983) % 20000 AS DOUBLE)",
    "ay": "CAST(((s_suppkey * 69621 + 401) % 999979) % 20000 AS DOUBLE)",
    "dx1": "CAST((301 + s_suppkey % 600) * (1 - 2 * (s_suppkey % 2)) AS DOUBLE)",
    "dy1": "CAST((157 + s_suppkey % 500) * (1 - 2 * ((s_suppkey % 3) % 2)) AS DOUBLE)",
    "dx2": "CAST((211 + s_suppkey % 450) * (1 - 2 * ((s_suppkey % 5) % 2)) AS DOUBLE)",
    "dy2": "CAST((263 + s_suppkey % 550) * (1 - 2 * ((s_suppkey % 7) % 2)) AS DOUBLE)",
}

_LINES_SQL = f"""
  SELECT s_suppkey AS fid,
         ax, ay, ax + dx1 AS bx, ay + dy1 AS by,
         ax + dx1 + dx2 AS cx, ay + dy1 + dy2 AS cy
  FROM (
    SELECT s_suppkey, {_SEGS['ax']} AS ax, {_SEGS['ay']} AS ay,
           {_SEGS['dx1']} AS dx1, {_SEGS['dy1']} AS dy1,
           {_SEGS['dx2']} AS dx2, {_SEGS['dy2']} AS dy2
    FROM supplier
  )
"""


def _sql_point_seg(ax: str, ay: str, bx: str, by: str) -> str:
    """Point-to-segment distance from (x, y) — the same projection/
    clip/hypot form the NumPy kernel uses."""
    dx, dy = f"(({bx}) - ({ax}))", f"(({by}) - ({ay}))"
    t = (f"LEAST(GREATEST(((x - ({ax})) * {dx} + (y - ({ay})) * {dy})"
         f" / ({dx} * {dx} + {dy} * {dy}), 0.0), 1.0)")
    return (f"SQRT((x - (({ax}) + {t} * {dx})) * (x - (({ax}) + {t} * {dx}))"
            f" + (y - (({ay}) + {t} * {dy})) * (y - (({ay}) + {t} * {dy})))")


ORACLE["polyline_knn"] = f"""
SELECT CAST(pid AS VARCHAR) AS PKEY, rk, fid AS feature_id,
       ROUND(dist, 6) AS dist
FROM (
  SELECT pid, fid,
         LEAST({_sql_point_seg('ax', 'ay', 'bx', 'by')},
               {_sql_point_seg('bx', 'by', 'cx', 'cy')}) AS dist,
         ROW_NUMBER() OVER (
           PARTITION BY pid
           ORDER BY LEAST({_sql_point_seg('ax', 'ay', 'bx', 'by')},
                          {_sql_point_seg('bx', 'by', 'cx', 'cy')}), fid) AS rk
  FROM (SELECT * FROM ({_PTS_SQL}) WHERE pid % 10 = 0)
  CROSS JOIN ({_LINES_SQL})
) WHERE rk <= 2
"""


def q_polyline_knn(spark, sf_dir):
    from ..operators.knn import knn_join
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    seg = {k: F.expr(v) for k, v in _SEGS.items()}
    s2 = s.select(F.col("s_suppkey").alias("feature_id"), *[
        seg[k].alias(k) for k in ("ax", "ay", "dx1", "dy1", "dx2", "dy2")])
    geom = F.array(F.array(
        F.col("ax"), F.col("ay"),
        F.col("ax") + F.col("dx1"), F.col("ay") + F.col("dy1"),
        F.col("ax") + F.col("dx1") + F.col("dx2"),
        F.col("ay") + F.col("dy1") + F.col("dy2"),
    ))
    polys = s2.select("feature_id", geom.alias("geom"))
    pts = points_df(spark, sf_dir).filter(F.col("pid") % 10 == 0).select(
        F.col("pid").cast("string").alias("PKEY"), "x", "y")
    out = knn_join(pts, polys, k=2, r0=None, max_radius=32000.0)
    return out.select("PKEY", "rk", "feature_id",
                      F.round("dist", 6).alias("dist"))


# --- P4: the reference's class-partitioned wetland extraction
# (areadist.wet, D_…R:20-66,107-114): NO temporal filter, no age — one
# row per (point, CWCS_Class), distance + per-class footprint amount,
# classes acting as the layer/partition column straight through the
# SAME areadist pipeline (layer_col="CWCS_Class"; the engine never
# physically splits classes). Two driver rows since r04 (VERDICT r03
# next-#2):
# - areadist_wet: the reference's PRIMARY path — st_union per class
#   before st_area (D_…R:35,42) — on the controlled-overlap pair-rect
#   fixture (slot privacy holds per class), dissolve left at its
#   "auto" default against a three-term inclusion–exclusion SQL
#   oracle;
# - areadist_wet_sum: the superseded Σ-of-clips variant the reference
#   kept commented at D_…R:37/44, on the arbitrary-overlap geotag
#   rects (where no closed-form union oracle exists).
_WET_CLASSES = ("Bog", "Fen", "Marsh", "Open Water", "Swamp")


def _flagship_exprs(prefix: str, with_age: bool) -> list[str]:
    """SQL text of the rounding contract shared with the DuckDB oracles
    (FLAGSHIP_ROUND) for one metric block: `prefix`NEAR_DIST, then
    AREA/PROP[/MEANAGE] per radius. MEANAGE is gated on the ROUNDED
    area > 0 on both engines, which also makes MEANAGE NULL for empty
    candidate sets on both."""
    d = FLAGSHIP_ROUND
    out = [f"round(`{prefix}NEAR_DIST`, {d['NEAR_DIST']}) "
           f"AS `{prefix}NEAR_DIST`"]
    for r in (150, 565):
        area = f"round(`{prefix}AREA{r}`, {d['AREA']})"
        out.append(f"{area} AS `{prefix}AREA{r}`")
        out.append(f"round(`{prefix}PROP{r}`, {d['PROP']}) "
                   f"AS `{prefix}PROP{r}`")
        if with_age:
            out.append(f"CASE WHEN {area} > 0 THEN round("
                       f"`{prefix}MEANAGE_{r}`, {d['MEANAGE']}) END "
                       f"AS `{prefix}MEANAGE_{r}`")
    return out


def _flagship_select(df):
    """One rounded row per (point, layer) (_flagship_exprs)."""
    return df.selectExpr("PKEY", "SS", "YEAR", "layer", *_flagship_exprs(
        "", "MEANAGE_150" in df.columns))


def _wet_select(out):
    return _flagship_select(out).withColumnRenamed("layer", "CWCS_Class")


def q_areadist_wet(spark, sf_dir):
    from ..operators.areadist import areadist
    pts = _keyed_points(spark, sf_dir)
    polys = _pair_rect_polys(spark, sf_dir, layer_col="CWCS_Class",
                             with_class=True)
    # dissolve at its DEFAULT ("auto"): per-class st_union semantics
    # with no caller hint — the reference's primary wetland path
    out = areadist(pts, polys, temporal=False, age=False,
                   layer_col="CWCS_Class", validity_filter=False)
    return _wet_select(out)


ORACLE["areadist_wet"] = f"""
WITH wpts AS (
  SELECT * FROM ({_PTS_SQL}) WHERE pid % 10 = 0
), wrects AS ({_pair_rects_sql()}),
wpairs AS (
  SELECT pid, cls, kind, w, dist,
         CASE WHEN dist < 150.0 THEN {_sql_circle_rect_area(150.0)}
              ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {_sql_circle_rect_area(565.0)}
              ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, r.*,
           SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0)) AS dist
    FROM wpts p CROSS JOIN wrects r
  )
), agg AS (
  SELECT pid AS jpid, cls AS jcls,
         MIN(CASE WHEN kind <> 2 THEN dist END) AS near,
         SUM(w * ca150) AS area150,
         SUM(w * ca565) AS area565
  FROM wpairs GROUP BY pid, cls
)
SELECT CAST(pid AS VARCHAR) AS PKEY,
       CAST(pid % 97 AS VARCHAR) AS SS,
       pyear AS YEAR,
       cls AS CWCS_Class,
       ROUND(LEAST(COALESCE(near, {MAXDIST}), {MAXDIST}), 4) AS NEAR_DIST,
       ROUND(COALESCE(area150, 0.0), 2) AS AREA150,
       ROUND(COALESCE(area150, 0.0) / (3.14 * 150 * 150), 6) AS PROP150,
       ROUND(COALESCE(area565, 0.0), 2) AS AREA565,
       ROUND(COALESCE(area565, 0.0) / (3.14 * 565 * 565), 6) AS PROP565
FROM wpts CROSS JOIN (SELECT UNNEST(['Bog', 'Fen', 'Marsh', 'Open Water',
                                     'Swamp']) AS cls)
LEFT JOIN agg ON pid = jpid AND cls = jcls
"""


def q_areadist_wet_sum(spark, sf_dir):
    from ..operators.areadist import areadist
    pts = _keyed_points(spark, sf_dir)
    cls = F.element_at(
        F.array(*[F.lit(c) for c in _WET_CLASSES]),
        (F.pmod(F.col("fid"), F.lit(5)) + 1).cast("int"))
    polys = rects_df(spark, sf_dir).select(
        F.col("fid").alias("feature_id"), cls.alias("CWCS_Class"),
        F.lit(0).cast("int").alias("YEAR"), "geom")
    # the planner picks the kernel like the flagship: fused
    # single-stage mapInPandas when the 5-class feature side
    # broadcasts, else the tiled kernel — result-identical
    out = areadist(pts, polys, temporal=False, age=False,
                   layer_col="CWCS_Class", validity_filter=False,
                   dissolve="sum")
    return _wet_select(out)


ORACLE["areadist_wet_sum"] = f"""
WITH fpts AS (
  SELECT * FROM ({_PTS_SQL}) WHERE pid % 10 = 0
), wrects AS (
  SELECT *, CASE fid % 5 WHEN 0 THEN 'Bog' WHEN 1 THEN 'Fen'
            WHEN 2 THEN 'Marsh' WHEN 3 THEN 'Open Water'
            ELSE 'Swamp' END AS cls
  FROM ({_RECTS_SQL})
), wpairs AS (
  SELECT pid, cls, dist,
         CASE WHEN dist < 150.0 THEN {_sql_circle_rect_area(150.0)}
              ELSE 0.0 END AS ca150,
         CASE WHEN dist < 565.0 THEN {_sql_circle_rect_area(565.0)}
              ELSE 0.0 END AS ca565
  FROM (
    SELECT p.pid, p.x, p.y, r.*,
           SQRT(GREATEST(rxmin - x, x - rxmax, 0.0)
                * GREATEST(rxmin - x, x - rxmax, 0.0)
              + GREATEST(rymin - y, y - rymax, 0.0)
                * GREATEST(rymin - y, y - rymax, 0.0)) AS dist
    FROM fpts p CROSS JOIN wrects r
  )
), agg AS (
  SELECT pid AS jpid, cls AS jcls,
         MIN(dist) AS near,
         SUM(ca150) AS area150, SUM(ca565) AS area565
  FROM wpairs GROUP BY pid, cls
)
SELECT CAST(pid AS VARCHAR) AS PKEY,
       CAST(pid % 97 AS VARCHAR) AS SS,
       pyear AS YEAR,
       cls AS CWCS_Class,
       ROUND(LEAST(COALESCE(near, {MAXDIST}), {MAXDIST}), 4) AS NEAR_DIST,
       ROUND(COALESCE(area150, 0.0), 2) AS AREA150,
       ROUND(COALESCE(area150, 0.0) / (3.14 * 150 * 150), 6) AS PROP150,
       ROUND(COALESCE(area565, 0.0), 2) AS AREA565,
       ROUND(COALESCE(area565, 0.0) / (3.14 * 565 * 565), 6) AS PROP565
FROM fpts CROSS JOIN (SELECT UNNEST(['Bog', 'Fen', 'Marsh', 'Open Water',
                                     'Swamp']) AS cls)
LEFT JOIN agg ON pid = jpid AND cls = jcls
"""


# --- P5/G10: validity filter as a DRIVER-ORACLED query (was
# pytest-only). Every 50th part key gets its rect ring bowtied
# (two adjacent corners swapped → self-intersecting), exactly the
# fixture generator's invalidation trick; the engine runs the real
# Arrow validity kernel (segment-pair proper-intersection sweep) while
# the oracle predicts validity BY CONSTRUCTION — a hash match proves
# the geometric test, not a shared formula.
def q_validity_filter(spark, sf_dir):
    from ..operators.range_join import is_valid_udf
    r = rects_df(spark, sf_dir)
    ok_ring = F.array(
        F.col("rxmin"), F.col("rymin"), F.col("rxmax"), F.col("rymin"),
        F.col("rxmax"), F.col("rymax"), F.col("rxmin"), F.col("rymax"),
        F.col("rxmin"), F.col("rymin"))
    bow_ring = F.array(
        F.col("rxmin"), F.col("rymin"), F.col("rxmax"), F.col("rymax"),
        F.col("rxmax"), F.col("rymin"), F.col("rxmin"), F.col("rymax"),
        F.col("rxmin"), F.col("rymin"))
    geom = F.when(F.pmod("fid", F.lit(50)) == 0, F.array(bow_ring))             .otherwise(F.array(ok_ring))
    return (r.withColumn("geom", geom)
            .select("fid", is_valid_udf()(F.col("geom")).alias("valid")))


ORACLE["validity_filter"] = """
SELECT p_partkey AS fid, (p_partkey % 50 <> 0) AS valid FROM part
"""


# --- G9: raster↔vector round-trip as a DRIVER-ORACLED query (was
# pytest-only). Integer-cornered rects rasterize onto a 1 m grid
# anchored at their own bbox and vectorize back; the traced ring's
# bbox and shoelace area must equal the original exactly — the oracle
# derives them from pure SQL arithmetic, so a hash match proves
# rasterize + the boundary-chaining tracer are mutually inverse on
# the real distributed path (mapInPandas over the feature table).
def q_raster_roundtrip(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..geo import kernels as K
    r = rects_df(spark, sf_dir).filter(F.pmod("fid", F.lit(20)) == 0)         .select("fid", "rxmin", "rymin", "rxmax", "rymax")
    schema = ("fid long, rxmin2 double, rymin2 double, "
              "rxmax2 double, rymax2 double, area2 double")

    def gen(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                ring = np.array([[t.rxmin, t.rymin], [t.rxmax, t.rymin],
                                 [t.rxmax, t.rymax], [t.rxmin, t.rymax],
                                 [t.rxmin, t.rymin]])
                nx = int(t.rxmax - t.rxmin)
                ny = int(t.rymax - t.rymin)
                mask = K.rasterize(ring, t.rxmin, t.rymin, 1.0, nx, ny)
                parts = K.vectorize_mask(mask, t.rxmin, t.rymin, 1.0)
                v = np.vstack(parts)
                area = sum(abs(K.ring_area(p)) for p in parts)
                rows.append((t.fid, v[:, 0].min(), v[:, 1].min(),
                             v[:, 0].max(), v[:, 1].max(), float(area)))
            yield pd.DataFrame(rows, columns=[
                "fid", "rxmin2", "rymin2", "rxmax2", "rymax2", "area2"])

    return r.mapInPandas(gen, schema)


ORACLE["raster_roundtrip"] = f"""
SELECT fid, rxmin AS rxmin2, rymin AS rymin2,
       rxmax AS rxmax2, rymax AS rymax2,
       (rxmax - rxmin) * (rymax - rymin) AS area2
FROM ({_RECTS_SQL}) WHERE fid % 20 = 0
"""


# --- S2/S5/S6: per-cell shard sink + glob scan as a DRIVER-ORACLED
# round trip (was pytest-only): points write partitioned by an explicit
# bucket key, read back through the shard-glob scan, and aggregate —
# the oracle recomputes the per-bucket counts and EXACT integer-valued
# coordinate sums from the LCG, so a hash mismatch would catch rows
# lost or duplicated by the sink/scan cycle.
def q_shard_roundtrip(spark, sf_dir):
    import os
    import tempfile
    pts = points_df(spark, sf_dir).withColumn(
        "bucket", F.pmod("pid", F.lit(8)).cast("int"))
    d = os.path.join(tempfile.gettempdir(),
                     "shardrt_" + sf_dir.strip("/").replace("/", "_"))
    pts.write.mode("overwrite").partitionBy("bucket").parquet(d)
    back = spark.read.parquet(d)  # glob scan over bucket= dirs
    return (back.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sum_x"),   # integer-valued doubles →
                 F.sum("y").alias("sum_y")))  # exact, order-free


ORACLE["shard_roundtrip"] = f"""
SELECT CAST(pid % 8 AS INT) AS bucket, COUNT(*) AS n,
       SUM(x) AS sum_x, SUM(y) AS sum_y
FROM ({_PTS_SQL}) GROUP BY 1
"""

# --- S1/S7 CSV scan + sink (r04): the reference's ACTUAL formats —
# its point table arrives as CSV (C_…R:89) and its final wide table
# leaves as write.csv (C_…R:1208). Round-trip: write the point table
# as headered CSV shards, read back through the schema'd distributed
# CSV scan, aggregate exact integer sums — text-serialization loss,
# header mishandling, or dropped shards all break the hash.
def q_csv_roundtrip(spark, sf_dir):
    import os
    import tempfile
    pts = points_df(spark, sf_dir)
    d = os.path.join(tempfile.gettempdir(),
                     "csvrt_" + sf_dir.strip("/").replace("/", "_"))
    pts.write.mode("overwrite").option("header", True).csv(d)
    back = spark.read.schema("pid long, x double, y double, pyear int") \
        .option("header", True).csv(d)
    return (back.groupBy(F.pmod("pid", F.lit(4)).cast("int").alias("g"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sum_x"),   # integer-valued doubles →
                 F.sum("y").alias("sum_y")))  # exact through text I/O


ORACLE["csv_roundtrip"] = f"""
SELECT CAST(pid % 4 AS INT) AS g, COUNT(*) AS n,
       SUM(x) AS sum_x, SUM(y) AS sum_y
FROM ({_PTS_SQL}) GROUP BY 1
"""


# --- S1 table layer end-to-end (r04): IceLite append → metadata-only
# add-column-with-default → append with the evolved schema → read →
# aggregate. Even-pid rows land BEFORE the evolution (flag filled from
# the recorded default), odd-pid rows after (flag written physically);
# the oracle re-derives the per-flag counts and exact integer
# coordinate sums from the LCG — lost default fills, dropped files, or
# wrong-snapshot reads all break the hash.
def q_icelite_evolution(spark, sf_dir):

    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_drv_"))
    pts = points_df(spark, sf_dir)
    t.append(pts.filter(F.pmod("pid", F.lit(2)) == 0).select("pid", "x", "y"))
    t.add_column("flag", "string", default="old")
    t.append(pts.filter(F.pmod("pid", F.lit(2)) == 1)
             .select("pid", "x", "y").withColumn("flag", F.lit("new")))
    back = t.read(spark)
    return (back.groupBy("flag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sum_x"),   # integer-valued doubles →
                 F.sum("y").alias("sum_y")))  # exact, order-free


ORACLE["icelite_evolution"] = f"""
SELECT CASE WHEN pid % 2 = 0 THEN 'old' ELSE 'new' END AS flag,
       COUNT(*) AS n, SUM(x) AS sum_x, SUM(y) AS sum_y
FROM ({_PTS_SQL}) GROUP BY 1
"""


# --- IceLite MERGE / upsert (r06): the lakehouse CDC step. Base table
# = two appends split by key parity (two data dirs); the merge batch
# updates every pid ≡ 0 (mod 3) (x shifted +500000) and inserts fresh
# keys pid+30000000 for pid ≡ 0 (mod 7). Copy-on-write is FILE-scoped:
# both parity dirs hold matched keys here, so both rewrite, but the
# pytest twin (tests/test_streaming_lineage_tables.py) pins the
# untouched-dir-carries-by-reference invariant. The oracle replays the
# upsert as a CASE projection + UNION ALL over the same closed-form
# points — no snapshot machinery on the oracle path, so a hash match
# proves the anti-join + union + commit semantics end-to-end.
def q_merge_upsert(spark, sf_dir):

    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_merge_"))
    pts = points_df(spark, sf_dir).select("pid", "x", "y")
    t.append(pts.filter(F.pmod("pid", F.lit(2)) == 0))
    t.append(pts.filter(F.pmod("pid", F.lit(2)) == 1))
    upd = pts.filter(F.pmod("pid", F.lit(3)) == 0) \
        .withColumn("x", F.col("x") + 500000)
    ins = pts.filter(F.pmod("pid", F.lit(7)) == 0) \
        .select((F.col("pid") + 30000000).alias("pid"), "x", "y")
    t.merge_into(spark, upd.unionByName(ins), key="pid")
    return t.read(spark)


ORACLE["merge_upsert"] = f"""
SELECT pid,
       CASE WHEN pid % 3 = 0 THEN x + 500000 ELSE x END AS x,
       y
FROM ({_PTS_SQL})
UNION ALL
SELECT pid + 30000000 AS pid, x, y
FROM ({_PTS_SQL}) WHERE pid % 7 = 0
"""


# --- grouped OLS regression (r06): per-group least-squares trend —
# the "is this metric drifting" reduction, closed-form from five
# sums. On this fixture x and y are integer-valued doubles with
# Σxy < 2^53, so every sum is EXACT and order-free, and slope =
# (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is exact integer arithmetic
# followed by one IEEE division — bit-identical across engines, no
# rounding. One map-side-combinable aggregation; no window, no
# second pass.
def q_group_ols(spark, sf_dir):
    p = points_df(spark, sf_dir)
    g = p.groupBy("pyear").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den)
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return g.select("pyear", "n", slope.alias("slope"),
                    intercept.alias("intercept"))



ORACLE["group_ols"] = f"""
WITH g AS (
  SELECT pyear, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM ({_PTS_SQL}) GROUP BY pyear
)
SELECT pyear, n,
  CASE WHEN n * sxx - sx * sx <> 0
       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
  (sy - CASE WHEN n * sxx - sx * sx <> 0
             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END * sx)
    / n AS intercept
FROM g
"""


# --- IceLite small-file compaction (r06): the maintenance op
# (Iceberg rewrite_data_files). Base table = 8 tiny appends (pid mod
# 8) + one large dir; compact folds the 8 small dirs into ONE
# consolidated dir and carries the large dir BY REFERENCE. The driver
# row returns the post-compaction table content (grouped sums — must
# be bit-identical to the raw source) fused with the dir counts
# before/after, so a hash match proves both the data identity AND the
# 9 → 2 manifest rewrite. Time travel + by-reference invariants are
# pinned by the pytest twin.
def q_compact_files(spark, sf_dir):

    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_compact_"))
    pts = points_df(spark, sf_dir).select("pid", "x", "y")
    big = pts.filter(F.col("pid") % 3 == 0)
    t.append(big)                                    # large dir (kept)
    for k in range(8):                               # 8 small dirs
        t.append(pts.filter((F.col("pid") % 3 != 0)
                            & (F.pmod("pid", F.lit(8)) == k)))
    before = len(t._current_snapshot()["files"])
    big_rows = big.count()
    t.compact(spark, min_rows=big_rows)              # big dir survives
    after = len(t._current_snapshot()["files"])
    return (t.read(spark)
            .groupBy((F.pmod("pid", F.lit(4))).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sum_x"), F.sum("y").alias("sum_y"))
            .withColumn("dirs_before", F.lit(before).cast("int"))
            .withColumn("dirs_after", F.lit(after).cast("int")))


ORACLE["compact_files"] = f"""
SELECT pid % 4 AS g, COUNT(*) AS n, SUM(x) AS sum_x, SUM(y) AS sum_y,
       9 AS dirs_before, 2 AS dirs_after
FROM ({_PTS_SQL}) GROUP BY 1
"""


# --- Z-order layout (r05): Morton-code the point table and report
# per-prefix-bucket bbox stats — the driver-visible proof that the
# curve clusters space (every 8-bit z-prefix bucket covers a compact
# bbox ⇒ per-file min/max pruning works after cluster_by_zorder).
# The oracle replays quantization (integer //) and the full 32-term
# bit interleave, so a single wrong shift breaks every bucket.
def q_zorder_stats(spark, sf_dir):
    from ..operators.zorder import zorder_code
    pts = points_df(spark, sf_dir)
    z = zorder_code(F.col("x"), F.col("y"))
    return (pts.withColumn("zb", F.shiftright(z, 24))
            .groupBy("zb").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                F.min("y").alias("min_y"), F.max("y").alias("max_y")))


def _zorder_oracle() -> str:
    from ..operators.zorder import zorder_sql
    return f"""
SELECT ({zorder_sql('x', 'y')} >> 24) AS zb,
       COUNT(*) AS n,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM ({_PTS_SQL}) GROUP BY 1
"""


ORACLE["zorder_stats"] = _zorder_oracle()


# --- raster focal statistics (r05): the R raster-family `focal()`
# moving window over the fishnet point-count grid. The engine runs the
# scatter plan (one explode over the literal offset array + ONE
# groupBy, operators/focal.py); the oracle derives the same numbers
# the opposite way — a gather self-join with BETWEEN range predicates
# — so agreement proves the stencil algebra, not a shared formula.
_TC_SQL = f"""
  SELECT CAST(FLOOR(x / {TILE}) AS INT) AS tile_x,
         CAST(FLOOR(y / {TILE}) AS INT) AS tile_y,
         COUNT(*) AS n_points
  FROM ({_PTS_SQL}) GROUP BY 1, 2
"""


def q_focal_mean(spark, sf_dir):
    from ..operators.focal import focal_stats
    cells = q_tile_counts(spark, sf_dir)
    return focal_stats(cells, x="tile_x", y="tile_y", value="n_points")


ORACLE["focal_mean"] = f"""
WITH tc AS ({_TC_SQL})
SELECT c.tile_x, c.tile_y, c.n_points,
       COUNT(*) AS focal_n,
       CAST(SUM(nb.n_points) AS BIGINT) AS focal_sum,
       CAST(SUM(nb.n_points) AS DOUBLE) / COUNT(*) AS focal_mean,
       MAX(nb.n_points) AS focal_max
FROM tc c JOIN tc nb
  ON nb.tile_x BETWEEN c.tile_x - 1 AND c.tile_x + 1
 AND nb.tile_y BETWEEN c.tile_y - 1 AND c.tile_y + 1
GROUP BY 1, 2, 3
"""


# --- tile-pyramid rollup (r05): the zoom-out aggregation of a tile
# server — level z re-keys cells to floor(coord / 2^z) and sums. The
# oracle is a 4-level UNION ALL of independently grouped selects;
# every level's totals must also re-sum to the base level's (asserted
# in tests/test_focal.py).
def q_tile_pyramid(spark, sf_dir):
    from ..operators.focal import pyramid_rollup
    cells = q_tile_counts(spark, sf_dir)
    return pyramid_rollup(cells, x="tile_x", y="tile_y",
                          value="n_points", levels=4)


ORACLE["tile_pyramid"] = f"""
WITH tc AS ({_TC_SQL})
""" + "\nUNION ALL\n".join(f"""
SELECT {z} AS level,
       CAST(FLOOR(tile_x / {1 << z}) AS BIGINT) AS tile_x,
       CAST(FLOOR(tile_y / {1 << z}) AS BIGINT) AS tile_y,
       COUNT(*) AS n_cells,
       CAST(SUM(n_points) AS BIGINT) AS total
FROM tc GROUP BY 1, 2, 3
""" for z in range(4))


# --- grid-density spatial clustering (r05): DBSCAN's grid relaxation
# — core cells (≥ min_pts points in a 625 m cell) connected over the
# 8-neighbourhood via the engine's star-contraction connected
# components (operators/cluster.py). The oracle settles the same
# graph with a RECURSIVE transitive closure (an independent algorithm
# — closure vs. star contraction), so matching cluster labels prove
# the CC engine on a REAL spatial adjacency graph, not a synthetic
# one. At sf0.01: 345 core cells, 83 clusters, largest 22 cells.
def q_grid_clusters(spark, sf_dir):
    from ..operators.cluster import grid_cluster
    return grid_cluster(points_df(spark, sf_dir),
                        cell=625.0, min_pts=17)


ORACLE["grid_clusters"] = f"""
WITH RECURSIVE cells AS (
  SELECT CAST(FLOOR(x / 625) AS BIGINT) AS cx,
         CAST(FLOOR(y / 625) AS BIGINT) AS cy, COUNT(*) AS n
  FROM ({_PTS_SQL}) GROUP BY 1, 2
), core AS MATERIALIZED (
  SELECT cx, cy, n, (cx + 1048576) * 2097152 + (cy + 1048576) AS key
  FROM cells WHERE n >= 17
), edges AS MATERIALIZED (
  SELECT a.key AS src, b.key AS dst
  FROM core a JOIN core b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.key <> b.key
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS ckey, LEAST(src, MIN(dst)) AS comp_id
  FROM reach GROUP BY src
)
SELECT COALESCE(c.comp_id, k.key) AS cluster,
       COUNT(*) AS n_cells,
       CAST(SUM(k.n) AS BIGINT) AS n_points,
       MIN(k.cx) AS min_cx, MAX(k.cx) AS max_cx,
       MIN(k.cy) AS min_cy, MAX(k.cy) AS max_cy
FROM core k LEFT JOIN comp c ON c.ckey = k.key
GROUP BY 1
"""


# --- zonal statistics (r06): per-zone raster aggregation, the raster
# family's `extract()/zonal()` op the reference approximates with
# per-buffer summaries. Zones = the part rects; raster = a 25 m value
# grid over the fixture window whose cell value is a closed-form
# integer hash (SQL-parity, like the geotag LCGs). The engine runs
# the real distributed plan — zone bboxes exploded over covered cells,
# broadcast, ONE equi join against the materialized raster (which
# never shuffles), groupBy zone with LEFT empty-zone defaults — while
# the oracle never materializes a raster at all: it enumerates each
# rect's covered cells with LATERAL generate_series and computes the
# value in place. Agreement proves the cover enumeration, the join,
# the center-in-zone refinement, and the empty-group defaults.
RSTEP = 25.0                      # raster pitch (m)
_RN = int(G.WINDOW / RSTEP)       # 800 cells per axis


def _rval(x: str = "cx", y: str = "cy") -> str:
    """The raster's closed-form cell value, SQL-parity (int64-safe:
    cx ≤ 800 ⇒ the product stays ≪ 2^63)."""
    return f"(({x} * 2654435761 + {y} * 40503 + 7) % 4294967291) % 1000"


_RVAL = _rval()


def raster_df(spark: SparkSession) -> DataFrame:
    """The deterministic 800×800 integer raster as sparse rows
    (cx, cy, v) — generated distributed (spark.range), pure Column
    arithmetic, no driver materialization."""
    r = spark.range(_RN * _RN)
    return r.select(
        (F.col("id") % _RN).alias("cx"),
        (F.col("id") / _RN).cast("long").alias("cy"),
    ).withColumn("v", F.expr(_RVAL))


def q_zonal_stats(spark, sf_dir):
    from ..operators.zonal import zonal_stats
    return zonal_stats(rects_df(spark, sf_dir).drop("geom"),
                       raster_df(spark), RSTEP)


ORACLE["zonal_stats"] = f"""
WITH rects AS ({_RECTS_SQL}),
cand AS (
  SELECT fid, ux.cx AS cx, uy.cy AS cy
  FROM rects,
  LATERAL (SELECT UNNEST(generate_series(
      CAST(FLOOR(rxmin / {RSTEP}) AS BIGINT),
      CAST(FLOOR(rxmax / {RSTEP}) AS BIGINT))) AS cx) ux,
  LATERAL (SELECT UNNEST(generate_series(
      CAST(FLOOR(rymin / {RSTEP}) AS BIGINT),
      CAST(FLOOR(rymax / {RSTEP}) AS BIGINT))) AS cy) uy
  WHERE rxmin <= (ux.cx + 0.5) * {RSTEP} AND (ux.cx + 0.5) * {RSTEP} <= rxmax
    AND rymin <= (uy.cy + 0.5) * {RSTEP} AND (uy.cy + 0.5) * {RSTEP} <= rymax
    AND ux.cx BETWEEN 0 AND {_RN - 1} AND uy.cy BETWEEN 0 AND {_RN - 1}
),
agg AS (
  SELECT fid, COUNT(*) AS n_cells,
         CAST(SUM({_RVAL}) AS BIGINT) AS sum_v,
         CAST(SUM({_RVAL}) AS DOUBLE) / COUNT(*) AS mean_v,
         CAST(MAX({_RVAL}) AS BIGINT) AS max_v
  FROM cand GROUP BY fid
)
SELECT r.fid, COALESCE(n_cells, 0) AS n_cells,
       COALESCE(sum_v, 0) AS sum_v, mean_v, max_v
FROM rects r LEFT JOIN agg USING (fid)
"""


# --- area-weighted zonal stats (r06): the exactextract-style variant
# — every partially covered cell contributes by its zone∩cell overlap
# AREA (exact integer-valued; summed BEFORE the single /step²
# division, so both engines aggregate order-free — summing the
# non-dyadic fraction area/625 would round per-row and make the sums
# order-dependent). Thin zones that center-sampling misses entirely
# get their true coverage here.
def q_zonal_weighted(spark, sf_dir):
    from ..operators.zonal import zonal_stats
    return zonal_stats(rects_df(spark, sf_dir).drop("geom"),
                       raster_df(spark), RSTEP, weighted=True)


ORACLE["zonal_weighted"] = f"""
WITH rects AS ({_RECTS_SQL}),
cand AS (
  SELECT fid, ux.cx AS cx, uy.cy AS cy,
    (LEAST(rxmax, (ux.cx + 1) * {RSTEP}) -
     GREATEST(rxmin, ux.cx * {RSTEP}))
  * (LEAST(rymax, (uy.cy + 1) * {RSTEP}) -
     GREATEST(rymin, uy.cy * {RSTEP})) AS w
  FROM rects,
  LATERAL (SELECT UNNEST(generate_series(
      CAST(FLOOR(rxmin / {RSTEP}) AS BIGINT),
      CAST(FLOOR(rxmax / {RSTEP}) AS BIGINT))) AS cx) ux,
  LATERAL (SELECT UNNEST(generate_series(
      CAST(FLOOR(rymin / {RSTEP}) AS BIGINT),
      CAST(FLOOR(rymax / {RSTEP}) AS BIGINT))) AS cy) uy
  WHERE ux.cx BETWEEN 0 AND {_RN - 1} AND uy.cy BETWEEN 0 AND {_RN - 1}
    AND LEAST(rxmax, (ux.cx + 1) * {RSTEP})
          > GREATEST(rxmin, ux.cx * {RSTEP})
    AND LEAST(rymax, (uy.cy + 1) * {RSTEP})
          > GREATEST(rymin, uy.cy * {RSTEP})
),
agg AS (
  SELECT fid, COUNT(*) AS n_cells,
         SUM(w) / {RSTEP * RSTEP} AS cov,
         SUM(w * ({_RVAL})) / {RSTEP * RSTEP} AS wsum,
         SUM(w * ({_RVAL})) / SUM(w) AS wmean
  FROM cand GROUP BY fid
)
SELECT r.fid, COALESCE(n_cells, 0) AS n_cells,
       COALESCE(cov, 0.0) AS cov, COALESCE(wsum, 0.0) AS wsum, wmean
FROM rects r LEFT JOIN agg USING (fid)
"""


# --- hillshade (r06): Lambertian terrain shading over the closed-form
# height raster. Engine = the 4-target SCATTER stencil (one explode +
# one groupBy, interior = all 4 contributions arrived) + the
# bit-reproducible shade (light (2,3,6) ⇒ |L| = 7 exactly; integer
# numerator; sqrt/×/÷ single correctly-rounded IEEE ops — NO rounding
# anywhere). Oracle computes gradients DIRECTLY from the closed form —
# no join, no scatter — and must still match min/max shade per block
# to the last bit.
def q_hillshade(spark, sf_dir):
    from ..operators.focal import hillshade
    return hillshade(raster_df(spark), x="cx", y="cy", value="v")


ORACLE["hillshade"] = f"""
WITH g AS (
  SELECT cx // 25 AS bx, cy // 25 AS by,
         {_rval('(cx + 1)', 'cy')} - {_rval('(cx - 1)', 'cy')} AS gx,
         {_rval('cx', '(cy + 1)')} - {_rval('cx', '(cy - 1)')} AS gy
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
  WHERE cx BETWEEN 1 AND {_RN - 2} AND cy BETWEEN 1 AND {_RN - 2}
)
SELECT bx, by, COUNT(*) AS n_interior,
       MIN((-2 * gx - 3 * gy + 12)
           / (7 * SQRT(gx * gx + gy * gy + 4.0))) AS min_shade,
       MAX((-2 * gx - 3 * gy + 12)
           / (7 * SQRT(gx * gx + gy * gy + 4.0))) AS max_shade
FROM g GROUP BY 1, 2
"""


# --- D8 flow direction (r06): hydrology's steepest-descent drainage
# assignment over the same closed-form DEM. Engine = 8-offset scatter
# + ONE equi join for the centre height + per-target lexicographic
# struct argmax (max over (slope, −dir) ⇒ steepest slope, smallest
# code on ties) — one shuffle chain, pure JVM. Determinism: drops are
# integer-valued doubles, √2 and the division each a single
# correctly-rounded IEEE op, so both engines rank IDENTICAL doubles.
# Oracle computes all 8 slopes directly from the closed form and
# picks via ROW_NUMBER (ORDER BY s DESC, dir) — gather + window vs
# scatter + argmax.
def q_flow_d8(spark, sf_dir):
    from ..operators.focal import flow_d8
    return flow_d8(raster_df(spark), x="cx", y="cy", value="v")


ORACLE["flow_d8"] = f"""
WITH offs(dx, dy, k, dir) AS (
  VALUES (1,0,1,1),(1,1,2,2),(0,1,1,3),(-1,1,2,4),
         (-1,0,1,5),(-1,-1,2,6),(0,-1,1,7),(1,-1,2,8)
), sl AS (
  SELECT cx, cy, dir,
         CAST({_rval('cx', 'cy')} - {_rval('(cx + dx)', '(cy + dy)')}
              AS DOUBLE) / SQRT(CAST(k AS DOUBLE)) AS s
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy), offs
  WHERE cx BETWEEN 1 AND {_RN - 2} AND cy BETWEEN 1 AND {_RN - 2}
), best AS (
  SELECT cx, cy, dir, s,
         ROW_NUMBER() OVER (PARTITION BY cx, cy
                            ORDER BY s DESC, dir) AS rn
  FROM sl
)
SELECT cx // 25 AS bx, cy // 25 AS by,
       CASE WHEN s > 0 THEN dir ELSE 0 END AS dir, COUNT(*) AS n
FROM best WHERE rn = 1 GROUP BY 1, 2, 3
"""


# --- marching-squares contour classification (r06): the cell-local
# half of rasterToContour() — per 2×2 square the 4-bit iso case
# index, counted per tile and case. All integer. Engine = the
# single-shuffle corner SCATTER (each cell emits 2^i to the ≤ 4
# squares it corners); oracle = the dense closed-form GATHER.
def q_contour_cases(spark, sf_dir):
    from ..operators.focal import contour_cases
    return contour_cases(raster_df(spark), iso=500,
                         x="cx", y="cy", value="v")


ORACLE["contour_cases"] = f"""
WITH sq AS (
  SELECT cx // 25 AS bx, cy // 25 AS by,
         CAST({_rval('cx', 'cy')} >= 500 AS BIGINT)
       + 2 * CAST({_rval('(cx + 1)', 'cy')} >= 500 AS BIGINT)
       + 4 * CAST({_rval('(cx + 1)', '(cy + 1)')} >= 500 AS BIGINT)
       + 8 * CAST({_rval('cx', '(cy + 1)')} >= 500 AS BIGINT) AS mcase
  FROM range({_RN - 1}) t1(cx), range({_RN - 1}) t2(cy)
)
SELECT bx, by, mcase, COUNT(*) AS n FROM sq GROUP BY 1, 2, 3
"""


# --- great-circle geodesy (r06): haversine distance + initial
# bearing from every point (mapped to lon/lat) to a fixed reference —
# the EPSG:4326 sibling of the planar kernels. sin/cos/asin/atan2 go
# through each engine's libm (measured ≤ 1.5e-8 m apart over a 20k
# global probe), so driver-visible values are FLOORED to whole
# meters / whole degrees — a 1e-8 disagreement window against a
# ≥1-unit grid. The asin argument is clamped (near-antipodal pairs
# can exceed 1.0 by an ulp on one engine only).
_GEO_REF = (48.1, 11.5)  # lat, lon


def q_geodesic(spark, sf_dir):
    from ..functions.geodesic import bearing_deg, haversine_m
    p = points_df(spark, sf_dir)
    lon = F.col("x") * 0.018 - 180.0
    lat = F.col("y") * 0.0085 - 85.0
    rlat, rlon = (F.lit(_GEO_REF[0]), F.lit(_GEO_REF[1]))
    d = haversine_m(lat, lon, rlat, rlon)
    b = bearing_deg(lat, lon, rlat, rlon)
    return p.select(
        "pid",
        F.floor(d).alias("dist_m"),
        F.floor(b).alias("bear_deg"),
        F.floor(d / 1000000.0).alias("band_1000km"))


ORACLE["geodesic"] = f"""
WITH pts AS (
  SELECT pid, x * 0.018 - 180.0 AS lon, y * 0.0085 - 85.0 AS lat
  FROM ({_PTS_SQL})
), g AS (
  SELECT pid,
    2 * 6371000.0 * ASIN(SQRT(LEAST(1.0,
        POW(SIN(RADIANS({_GEO_REF[0]} - lat) / 2), 2)
      + COS(RADIANS(lat)) * COS(RADIANS({_GEO_REF[0]}))
      * POW(SIN(RADIANS({_GEO_REF[1]} - lon) / 2), 2)))) AS d,
    (DEGREES(ATAN2(
        SIN(RADIANS({_GEO_REF[1]} - lon)) * COS(RADIANS({_GEO_REF[0]})),
        COS(RADIANS(lat)) * SIN(RADIANS({_GEO_REF[0]}))
      - SIN(RADIANS(lat)) * COS(RADIANS({_GEO_REF[0]}))
        * COS(RADIANS({_GEO_REF[1]} - lon)))) % 360 + 360) % 360 AS bdeg
  FROM pts
)
SELECT pid, CAST(FLOOR(d) AS BIGINT) AS dist_m,
       CAST(FLOOR(bdeg) AS BIGINT) AS bear_deg,
       CAST(FLOOR(d / 1000000.0) AS BIGINT) AS band_1000km
FROM g
"""


# --- linear referencing (r06): snap points to a route polyline and
# measure the chainage (st_line_locate_point — the milepost op; the
# reference's seismic lines ARE such routes). No rounding anywhere:
# every step is a single correctly-rounded IEEE op over identical
# inputs, ties break on the segment idx, and the route's cumulative
# length is an ORDERED window sum (deterministic accumulation on both
# engines, unlike a groupBy float sum). The oracle replays the
# projection/clamp/argmin in SQL over the same closed-form route.
_LR_MAXDIST = 1000.0


def _route_segments(spark):
    # vy ∈ {0, 150}: every segment is (200, 0) or (200, ±150), so
    # seglen ∈ {200, 250} EXACTLY (3-4-5 Pythagorean) and the route's
    # cumulative length is a sum of integers — exact under ANY
    # accumulation order. (A float wiggle made chainage differ at
    # 1e-11 between engines: DuckDB aggregates window sums with a
    # segment tree, not sequentially.)
    r = spark.range(99)
    vy = "CAST(150 * (((%s * 48271 + 11) %% 999983) %% 2) AS DOUBLE)"
    return r.select(
        F.col("id").alias("idx"),
        (F.col("id") * 200).cast("double").alias("x0"),
        F.expr(vy % "id").alias("y0"),
        ((F.col("id") + 1) * 200).cast("double").alias("x1"),
        F.expr(vy % "(id + 1)").alias("y1"))


def q_line_locate(spark, sf_dir):
    from ..operators.linear_ref import locate_points
    return locate_points(points_df(spark, sf_dir).drop("pyear"),
                         _route_segments(spark), _LR_MAXDIST)


ORACLE["line_locate"] = f"""
WITH verts AS (
  SELECT i, CAST(i * 200 AS DOUBLE) AS vx,
         CAST(150 * (((i * 48271 + 11) % 999983) % 2) AS DOUBLE) AS vy
  FROM range(100) t(i)
), seg0 AS (
  SELECT a.i AS idx, a.vx AS x0, a.vy AS y0, b.vx AS x1, b.vy AS y1,
         SQRT((b.vx - a.vx) * (b.vx - a.vx)
            + (b.vy - a.vy) * (b.vy - a.vy)) AS seglen
  FROM verts a JOIN verts b ON b.i = a.i + 1
), seg AS (
  SELECT *, COALESCE(SUM(seglen) OVER (
      ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      0.0) AS cumlen
  FROM seg0
), cand AS (
  SELECT pid, idx, t, cumlen + t * seglen AS chainage,
         SQRT((x - (x0 + t * (x1 - x0))) * (x - (x0 + t * (x1 - x0)))
            + (y - (y0 + t * (y1 - y0))) * (y - (y0 + t * (y1 - y0))))
           AS dist
  FROM (
    SELECT p.pid, p.x, p.y, s.*,
           LEAST(GREATEST(
             ((p.x - s.x0) * (s.x1 - s.x0) + (p.y - s.y0) * (s.y1 - s.y0))
             / ((s.x1 - s.x0) * (s.x1 - s.x0)
                + (s.y1 - s.y0) * (s.y1 - s.y0)), 0.0), 1.0) AS t
    FROM ({_PTS_SQL}) p CROSS JOIN seg s
  )
), best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dist, idx) AS rn
  FROM cand
)
SELECT pid, idx, t, dist, chainage
FROM best WHERE rn = 1 AND dist < {_LR_MAXDIST}
"""


# --- viewshed (r06): terrain line-of-sight over the closed-form
# height raster. The engine runs the data path — R-disk clip,
# DDA-sample explode, ONE broadcast equi join against the heights
# table, per-target groupBy (operators/viewshed.py) — while the
# oracle never touches a materialized raster: it re-derives every
# sampled cell's height from the closed form and settles the same
# cross-multiplied slope test. The DDA round(k/m) is spelled
# FLOOR((2k+m)/(2m)) on BOTH sides — positive integers, one exact
# IEEE division — so a single mis-sampled cell flips visibility and
# breaks the hash.
_VS_OX, _VS_OY, _VS_R, _VS_H = 400, 400, 40, 50


def q_viewshed(spark, sf_dir):
    from ..operators.viewshed import viewshed
    hts = raster_df(spark).withColumnRenamed("v", "h")
    return viewshed(hts, _VS_OX, _VS_OY, _VS_R, obs_height=_VS_H)


ORACLE["viewshed"] = f"""
WITH obs AS (
  SELECT {_rval(str(_VS_OX), str(_VS_OY))} + {_VS_H} AS h_obs
), tgt AS (
  SELECT {_VS_OX} + dx.dx AS cx, {_VS_OY} + dy.dy AS cy,
         dx.dx AS dx, dy.dy AS dy,
         GREATEST(ABS(dx.dx), ABS(dy.dy)) AS m
  FROM LATERAL (SELECT UNNEST(generate_series(-{_VS_R}, {_VS_R})) AS dx) dx,
       LATERAL (SELECT UNNEST(generate_series(-{_VS_R}, {_VS_R})) AS dy) dy
  WHERE NOT (dx.dx = 0 AND dy.dy = 0)
), samp AS (
  SELECT t.cx, t.cy, t.m, s.t AS st,
    t.dx, t.dy,
    CAST({_VS_OX} + CASE WHEN t.dx < 0 THEN -1 ELSE 1 END
       * FLOOR((2 * s.t * ABS(t.dx) + t.m) / (2 * t.m)) AS BIGINT) AS px,
    CAST({_VS_OY} + CASE WHEN t.dy < 0 THEN -1 ELSE 1 END
       * FLOOR((2 * s.t * ABS(t.dy) + t.m) / (2 * t.m)) AS BIGINT) AS py
  FROM tgt t, LATERAL (SELECT UNNEST(generate_series(1, t.m - 1)) AS t) s
), blocked AS (
  SELECT cx, cy,
    MAX(CASE WHEN ({_rval('px', 'py')} - h_obs) * m
               >= ({_rval('cx', 'cy')} - h_obs) * st
             THEN 1 ELSE 0 END) AS b
  FROM samp, obs GROUP BY cx, cy
)
SELECT t.cx, t.cy, CAST(t.m AS BIGINT) AS m,
       COALESCE(b.b, 0) = 0 AS visible
FROM tgt t LEFT JOIN blocked b USING (cx, cy)
"""


# --- Douglas–Peucker simplification (r05): the sf st_simplify family
# op. Fixture: 100 deterministic wiggle+spike polylines derived from
# the orders keys (x = idx·250; y = small LCG wiggle + a 5000 spike
# every 16th vertex) — a REAL simplification workload (eps=600 keeps
# ~20% of vertices: the spikes and chord ends, never the wiggle).
# The engine runs the stack-based kernel per line (applyInPandas);
# the oracle UNROLLS the split recursion to a fixed depth as plain
# CTE levels (argmax via ROW_NUMBER, split via UNION ALL) in exact
# BIGINT arithmetic — the kernel's measured depth on this fixture is
# 13 (pinned by tests/test_simplify.py), the oracle carries 16.
_SIMPLIFY_EPS = 600
_SIMPLIFY_DEPTH = 16

_LINE_PTS_SQL = """
  SELECT line_id, idx, idx * 250 AS x,
         (pid * 2654435761) % 2147483648 % 400
           + CASE WHEN idx % 16 = 0 THEN 5000 ELSE 0 END AS y
  FROM (
    SELECT pid % 100 AS line_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY pid % 100 ORDER BY pid)
                - 1 AS BIGINT) AS idx,
           pid
    FROM (SELECT o_orderkey AS pid FROM orders)
  )
"""


def line_vertices_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .repartition(spark.sparkContext.defaultParallelism)
    w = W.partitionBy("line_id").orderBy("pid")
    return (o.select((F.col("o_orderkey") % 100).alias("line_id"),
                     F.col("o_orderkey").alias("pid"))
            .withColumn("idx", (F.row_number().over(w) - 1).cast("long"))
            .withColumn("x", (F.col("idx") * 250).cast("long"))
            .withColumn("y", (
                (F.col("pid") * F.lit(2654435761)) % F.lit(2147483648)
                % 400
                + F.when(F.col("idx") % 16 == 0, 5000).otherwise(0)
            ).cast("long"))
            .select("line_id", "idx", "x", "y"))


def q_simplify_lines(spark, sf_dir):
    from ..operators.simplify import simplify_lines
    return simplify_lines(line_vertices_df(spark, sf_dir),
                          eps=_SIMPLIFY_EPS)


def _simplify_oracle(depth: int = _SIMPLIFY_DEPTH,
                     eps: int = _SIMPLIFY_EPS) -> str:
    eps2 = eps * eps
    parts = [f"""
WITH pts AS MATERIALIZED ({_LINE_PTS_SQL}),
ends AS (SELECT line_id, MAX(idx) AS last FROM pts GROUP BY 1),
seg_0 AS (SELECT line_id, CAST(0 AS BIGINT) AS i0, last AS i1 FROM ends)"""]
    for k in range(1, depth + 1):
        parts.append(f""",
scored_{k} AS MATERIALIZED (
  SELECT s.line_id, s.i0, s.i1, p.idx,
         (b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y) AS len2,
         CASE WHEN (b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y) = 0
              THEN (p.x-a.x)*(p.x-a.x) + (p.y-a.y)*(p.y-a.y)
              ELSE ((b.x-a.x)*(a.y-p.y) - (a.x-p.x)*(b.y-a.y))
                 * ((b.x-a.x)*(a.y-p.y) - (a.x-p.x)*(b.y-a.y))
         END AS metric
  FROM seg_{k - 1} s
  JOIN pts p ON p.line_id = s.line_id AND p.idx > s.i0 AND p.idx < s.i1
  JOIN pts a ON a.line_id = s.line_id AND a.idx = s.i0
  JOIN pts b ON b.line_id = s.line_id AND b.idx = s.i1
),
best_{k} AS MATERIALIZED (
  SELECT line_id, i0, i1, idx AS j FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY line_id, i0, i1
                                 ORDER BY metric DESC, idx ASC) AS rn
    FROM scored_{k}
    WHERE CASE WHEN len2 = 0 THEN metric > {eps2}
               ELSE metric > {eps2} * len2 END
  ) WHERE rn = 1
),
seg_{k} AS MATERIALIZED (
  SELECT line_id, i0, j AS i1 FROM best_{k}
  UNION ALL
  SELECT line_id, j AS i0, i1 FROM best_{k}
)""")
    all_segs = "\nUNION ALL\n".join(
        f"SELECT line_id, i0, i1 FROM seg_{k}" for k in range(depth + 1))
    parts.append(f""",
kept AS (
  SELECT DISTINCT line_id, i0 AS idx FROM ({all_segs})
  UNION
  SELECT DISTINCT line_id, i1 AS idx FROM ({all_segs})
)
SELECT p.line_id, p.idx, p.x, p.y
FROM kept k JOIN pts p ON p.line_id = k.line_id AND p.idx = k.idx""")
    return "".join(parts)


ORACLE["simplify_lines"] = _simplify_oracle()


# --- spatial ANTI join (r06): points with NO feature within ANTI_R —
# the relational complement of range_near, planned as range_near's
# one-scan LEFT candidate join whose per-point count of pairs within
# ANTI_R must be 0 (no second points scan, no anti join). The oracle
# brute-forces NOT IN over the cross join, so a hash match proves the
# cell cover misses no candidate (a false-negative cover would leak
# points into this result).
# Radius 300 m (not maxdist): at fixture density every point has a
# feature within 1000 m, so the interesting complement — ~9 % of
# points isolated — lives at the tighter cutoff. The candidate pairs
# are still built at the maxdist cover (a superset), exactly as a
# caller reusing one cover for several cutoffs would.
ANTI_R = 300.0


def q_spatial_antijoin(spark, sf_dir):
    near = F.count(F.when(F.col("dist") < ANTI_R, 1)).alias("_n")
    return _per_point(spark, sf_dir, near).filter(F.col("_n") == 0) \
        .select("pid", "x", "y", "pyear")


ORACLE["spatial_antijoin"] = f"""
SELECT pid, x, y, pyear FROM ({_PTS_SQL})
WHERE pid NOT IN (
  SELECT pid FROM ({_PAIRS_SQL}) WHERE dist < {ANTI_R})
"""


# --- trajectory rollup (r06): per-entity GPS-track statistics over
# the events stream, coordinates from the SQL-parity geotag. ONE
# keyed window + ONE aggregation, pure JVM (operators/trajectory.py).
def q_traj_stats(spark, sf_dir):
    from ..operators.trajectory import trajectory_stats
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.repartition(spark.sparkContext.defaultParallelism)
    e = e.select(
        "user_id", "ts", "event_id",
        F.expr(G.sql_point_x("event_id")).alias("x"),
        F.expr(G.sql_point_y("event_id")).alias("y"))
    t = trajectory_stats(e, key="user_id", ts="ts", tiebreak="event_id")
    return t.select(
        "user_id", "n_events",
        F.round("path_len", 4).alias("path_len"),
        F.round("net_disp", 4).alias("net_disp"),
        F.round("max_seg", 4).alias("max_seg"),
        F.round("dur_s", 3).alias("dur_s"),
        F.round("avg_speed", 6).alias("avg_speed"))


ORACLE["traj_stats"] = f"""
WITH pings AS (
  SELECT user_id, ts, event_id,
         {G.sql_point_x('event_id')} AS x,
         {G.sql_point_y('event_id')} AS y
  FROM events
), seq AS (
  SELECT user_id, ts, x, y,
         x - LAG(x) OVER w AS dx,
         y - LAG(y) OVER w AS dy,
         ROW_NUMBER() OVER w AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rnd
  FROM pings
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), agg AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         COALESCE(SUM(SQRT(dx*dx + dy*dy)), 0.0) AS path_raw,
         MAX(CASE WHEN rn = 1 THEN x END) AS x0,
         MAX(CASE WHEN rn = 1 THEN y END) AS y0,
         MAX(CASE WHEN rnd = 1 THEN x END) AS x1,
         MAX(CASE WHEN rnd = 1 THEN y END) AS y1,
         MAX(SQRT(dx*dx + dy*dy)) AS max_raw,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1e6 AS dur_raw
  FROM seq GROUP BY user_id
)
SELECT user_id, n_events,
       ROUND(path_raw, 4) AS path_len,
       ROUND(SQRT((x1-x0)*(x1-x0) + (y1-y0)*(y1-y0)), 4) AS net_disp,
       ROUND(max_raw, 4) AS max_seg,
       ROUND(dur_raw, 3) AS dur_s,
       ROUND(CASE WHEN dur_raw > 0 THEN path_raw / dur_raw END, 6)
         AS avg_speed
FROM agg
"""


# --- IDW interpolation (r06): probe locations from `customer`,
# observations = the orders points carrying pyear as the field value.
# Spark runs the disk-cover cell join (operators/interpolate.py);
# DuckDB brute-forces the cross join with the identical regularized
# weight 1/(1+d²) — d² an exact integer, so only the accumulation
# order differs (ROUND 6 absorbs it).
def q_idw_interp(spark, sf_dir):
    from ..operators.interpolate import idw_interpolate
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    probes = c.select(
        F.col("c_custkey").alias("probe_id"),
        F.expr(G.sql_point_x("c_custkey")).alias("x"),
        F.expr(G.sql_point_y("c_custkey")).alias("y"))
    obs = points_df(spark, sf_dir).select(
        "x", "y", F.col("pyear").cast("double").alias("v"))
    out = idw_interpolate(probes, obs, MAXDIST, value="v")
    return out.select("probe_id", "n_obs",
                      F.round("est", 6).alias("est"))


ORACLE["idw_interp"] = f"""
WITH probes AS (
  SELECT c_custkey AS probe_id,
         {G.sql_point_x('c_custkey')} AS x,
         {G.sql_point_y('c_custkey')} AS y
  FROM customer
), obs AS (
  SELECT x, y, CAST(pyear AS DOUBLE) AS v FROM ({_PTS_SQL})
), pairs AS (
  SELECT probe_id, v, 1.0 / (1.0 + d2) AS w
  FROM (
    SELECT p.probe_id, o.v,
           (o.x - p.x)*(o.x - p.x) + (o.y - p.y)*(o.y - p.y) AS d2
    FROM probes p CROSS JOIN obs o
  ) WHERE d2 <= {MAXDIST * MAXDIST}
)
SELECT probe_id, COALESCE(n_obs, 0) AS n_obs, est
FROM probes LEFT JOIN (
  SELECT probe_id AS jpid, COUNT(*) AS n_obs,
         ROUND(SUM(w * v) / SUM(w), 6) AS est
  FROM pairs GROUP BY 1
) ON probe_id = jpid
"""


# --- per-group convex hull (r06): Andrew's monotone chain
# (operators/hull.py) run HIERARCHICALLY (pre_reduce_salt=4: shard
# hulls, then the hull of their union — exact by associativity),
# against a DuckDB oracle that derives the hull a completely different
# way: the O(n³) maximal-edge test ((a, b) is a hull edge iff every
# other point is strictly left of a→b or on the open segment), with
# vertex count, exact-integer doubled shoelace area, and perimeter
# re-derived from the edge set. Agreement proves the chain, the
# shard merge, AND the strict-vertex collinear handling.
def q_convex_hull(spark, sf_dir):
    from ..operators.hull import convex_hull_stats
    pts = points_df(spark, sf_dir).filter(F.col("pid") % 2 == 0) \
        .withColumn("gid", F.expr("(pid div 2) % 150"))
    return convex_hull_stats(
        pts.select("gid", "x", "y"), group="gid", pre_reduce_salt=4
    ).select("gid", "hull_n", "area2", "perim")


ORACLE["convex_hull"] = f"""
WITH pts AS (
  SELECT pid, x, y, (pid // 2) % 150 AS gid
  FROM ({_PTS_SQL}) WHERE pid % 2 = 0
), edges AS (
  SELECT a.gid, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM pts a JOIN pts b ON a.gid = b.gid AND a.pid <> b.pid
  WHERE NOT EXISTS (
    SELECT 1 FROM pts c
    WHERE c.gid = a.gid AND c.pid <> a.pid AND c.pid <> b.pid
      AND NOT (
        (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) > 0
        OR ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
            AND ((a.x <> b.x AND c.x > LEAST(a.x, b.x)
                            AND c.x < GREATEST(a.x, b.x))
              OR (a.x = b.x AND c.y > LEAST(a.y, b.y)
                           AND c.y < GREATEST(a.y, b.y))))
      )
  )
)
SELECT gid, CAST(COUNT(*) AS INT) AS hull_n,
       CAST(SUM(CAST(ax AS BIGINT) * CAST(by AS BIGINT)
              - CAST(bx AS BIGINT) * CAST(ay AS BIGINT)) AS BIGINT)
         AS area2,
       ROUND(SUM(SQRT((bx-ax)*(bx-ax) + (by-ay)*(by-ay))), 4) AS perim
FROM edges GROUP BY gid
"""


# --- hull centroid (r06): st_centroid of the per-group hull polygon,
# bit-exact — the centroid numerators Σ(xi+xj)·cross are summed per
# DIRECTED hull edge, so the oracle's unordered maximal-edge set
# yields the same exact integers as the engine's ordered ring; the
# final num/(3·area2) is one IEEE division of exactly represented
# integers on both sides. NO rounding anywhere.
def q_hull_centroid(spark, sf_dir):
    from ..operators.hull import convex_hull_stats
    pts = points_df(spark, sf_dir).filter(F.col("pid") % 2 == 0) \
        .withColumn("gid", F.expr("(pid div 2) % 150"))
    st = convex_hull_stats(
        pts.select("gid", "x", "y"), group="gid", pre_reduce_salt=4)
    return st.select(
        "gid", "hull_n", "area2",
        F.when(F.col("area2") != 0,
               F.col("cx_num") / (3.0 * F.col("area2"))).alias("cent_x"),
        F.when(F.col("area2") != 0,
               F.col("cy_num") / (3.0 * F.col("area2"))).alias("cent_y"))


ORACLE["hull_centroid"] = f"""
WITH pts AS (
  SELECT pid, x, y, (pid // 2) % 150 AS gid
  FROM ({_PTS_SQL}) WHERE pid % 2 = 0
), edges AS (
  SELECT a.gid, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM pts a JOIN pts b ON a.gid = b.gid AND a.pid <> b.pid
  WHERE NOT EXISTS (
    SELECT 1 FROM pts c
    WHERE c.gid = a.gid AND c.pid <> a.pid AND c.pid <> b.pid
      AND NOT (
        (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) > 0
        OR ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
            AND ((a.x <> b.x AND c.x > LEAST(a.x, b.x)
                            AND c.x < GREATEST(a.x, b.x))
              OR (a.x = b.x AND c.y > LEAST(a.y, b.y)
                           AND c.y < GREATEST(a.y, b.y))))
      )
  )
), agg AS (
  SELECT gid, CAST(COUNT(*) AS INT) AS hull_n,
    CAST(SUM(CAST(ax AS BIGINT) * CAST(by AS BIGINT)
           - CAST(bx AS BIGINT) * CAST(ay AS BIGINT)) AS BIGINT) AS area2,
    CAST(SUM((CAST(ax AS BIGINT) + CAST(bx AS BIGINT))
           * (CAST(ax AS BIGINT) * CAST(by AS BIGINT)
            - CAST(bx AS BIGINT) * CAST(ay AS BIGINT))) AS BIGINT)
      AS cx_num,
    CAST(SUM((CAST(ay AS BIGINT) + CAST(by AS BIGINT))
           * (CAST(ax AS BIGINT) * CAST(by AS BIGINT)
            - CAST(bx AS BIGINT) * CAST(ay AS BIGINT))) AS BIGINT)
      AS cy_num
  FROM edges GROUP BY gid
)
SELECT gid, hull_n, area2,
       CASE WHEN area2 <> 0
            THEN cx_num / (3.0 * area2) END AS cent_x,
       CASE WHEN area2 <> 0
            THEN cy_num / (3.0 * area2) END AS cent_y
FROM agg
"""


# --- geometric median (r06): fixed-depth Weiszfeld refinement — the
# engine's iterative-algorithm pattern (cf. the IVF quantizer's Lloyd
# steps) driver-oracled by UNROLLING the same three updates into SQL
# CTEs. The per-group mean seed is exact both sides (integer sums);
# every weight is bit-identical (same IEEE sqrt/divide); only float
# accumulation order differs, absorbed by ROUND 4 at metre scale.
def q_geo_median(spark, sf_dir):
    from ..operators.median import geometric_median
    pts = points_df(spark, sf_dir) \
        .withColumn("gid", F.pmod("pid", F.lit(40)))
    out = geometric_median(pts.select("gid", "x", "y"), iters=3)
    return out.select("gid", "n",
                      F.round("med_x", 4).alias("med_x"),
                      F.round("med_y", 4).alias("med_y"))


def _geo_median_oracle(iters: int = 3) -> str:
    parts = [f"""
WITH pts AS (
  SELECT pid % 40 AS gid, x, y FROM ({_PTS_SQL})
), e0 AS (
  SELECT gid, COUNT(*) AS n,
         SUM(x) / COUNT(*) AS ex, SUM(y) / COUNT(*) AS ey
  FROM pts GROUP BY gid
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", e{k} AS (
  SELECT gid, MIN(n) AS n,
         SUM(x * w) / SUM(w) AS ex, SUM(y * w) / SUM(w) AS ey
  FROM (
    SELECT p.gid, p.x, p.y, e.n,
           1.0 / SQRT(1.0 + (p.x - e.ex) * (p.x - e.ex)
                          + (p.y - e.ey) * (p.y - e.ey)) AS w
    FROM pts p JOIN e{k - 1} e USING (gid)
  ) GROUP BY gid
)""")
    parts.append(f"""
SELECT gid, n, ROUND(ex, 4) AS med_x, ROUND(ey, 4) AS med_y
FROM e{iters}""")
    return "".join(parts)


ORACLE["geo_median"] = _geo_median_oracle()


# --- layer-vs-layer overlay join (r06): the feature×feature spatial
# join (every other join here probes points). Both sides explode over
# multi-cell covers, so the engine must dedup pairs that meet in
# several shared cells — done with the reference-point rule inside
# the join predicate (operators/overlay.py), no distinct. The oracle
# brute-forces the cross join, so a hash match proves both no-miss
# (cover completeness) and no-dup (the reference-cell ownership).
def q_layer_overlay(spark, sf_dir):
    from ..operators.overlay import rect_overlay_pairs
    rects = rects_df(spark, sf_dir)
    a = rects.filter(F.pmod("fid", F.lit(2)) == 0)
    b = rects.filter(F.pmod("fid", F.lit(2)) == 1)
    return rect_overlay_pairs(a, b, cell_edge=500.0) \
        .select("fid_a", "fid_b", "inter_area")


ORACLE["layer_overlay"] = f"""
WITH a AS (SELECT * FROM ({_RECTS_SQL}) WHERE fid % 2 = 0),
     b AS (SELECT * FROM ({_RECTS_SQL}) WHERE fid % 2 = 1)
SELECT a.fid AS fid_a, b.fid AS fid_b,
       (LEAST(a.rxmax, b.rxmax) - GREATEST(a.rxmin, b.rxmin))
     * (LEAST(a.rymax, b.rymax) - GREATEST(a.rymin, b.rymin))
       AS inter_area
FROM a CROSS JOIN b
WHERE a.rxmin <= b.rxmax AND b.rxmin <= a.rxmax
  AND a.rymin <= b.rymax AND b.rymin <= a.rymax
"""


# --- Hilbert-curve layout (r06): the second space-filling curve next
# to zorder_stats — same bucket-bbox report, different curve. The
# engine unrolls the 8-level xy2d rotation fold into chained integer
# projections (operators/hilbert.py); the oracle replays the SAME
# unroll as chained CTEs, so one wrong flip/swap at any level breaks
# every bucket. Pytest pins the curve properties (unit-step
# Hamiltonian walk, bijectivity) that the bucket stats alone can't.
def q_hilbert_stats(spark, sf_dir):
    from ..operators.hilbert import with_hilbert_code
    pts = points_df(spark, sf_dir)
    return (with_hilbert_code(pts, "x", "y")
            .withColumn("hb", F.shiftright(F.col("hd"), 8))
            .groupBy("hb").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                F.min("y").alias("min_y"), F.max("y").alias("max_y")))


def _hilbert_oracle() -> str:
    from ..operators.hilbert import hilbert_sql
    return f"""
WITH __hilbert_src AS ({_PTS_SQL}),
{hilbert_sql("x", "y", keys="x, y")}
SELECT hd >> 8 AS hb, COUNT(*) AS n,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM h0 GROUP BY 1
"""


ORACLE["hilbert_stats"] = _hilbert_oracle()


# --- manifest-stats scan pruning (r06): the 100 TB payoff of the
# layout operators — per-data-file min/max column stats recorded at
# append time, and a range read that SKIPS non-overlapping files
# before a single row is scanned. The fixture appends disjoint
# key-range files; the [5000, 8000] probe must read exactly the two
# overlapping ones, and the oracle re-derives both the aggregate and
# the expected file counts from the same per-bucket min/max rule.
def q_stats_prune(spark, sf_dir):

    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_stats_"))
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .coalesce(1).cache())  # fixture-sized: one task per append
    buckets = sorted(r.bkt for r in orders.select(
        F.expr("o_orderkey div 2048").alias("bkt")).distinct().collect())
    for k in buckets:
        t.append(orders.filter(F.expr(f"o_orderkey div 2048 = {k}")),
                 stats_cols=("o_orderkey",))
    orders.unpersist()
    df, scanned, total = t.read_pruned(spark, "o_orderkey", 5000, 8000)
    return (df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 4).alias("sum_price"))
            .withColumn("files_scanned", F.lit(scanned).cast("int"))
            .withColumn("files_total", F.lit(total).cast("int")))


ORACLE["stats_prune"] = """
WITH b AS (
  SELECT o_orderkey // 2048 AS bkt,
         MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
  FROM orders GROUP BY 1
)
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 4) AS sum_price,
       CAST((SELECT COUNT(*) FROM b
             WHERE mx >= 5000 AND mn <= 8000) AS INT) AS files_scanned,
       CAST((SELECT COUNT(*) FROM b) AS INT) AS files_total
FROM orders o WHERE o_orderkey BETWEEN 5000 AND 8000
GROUP BY 1
"""


# --- lakehouse row-level DELETE (r06): the third DML verb next to
# append and MERGE — file-scoped copy-on-write (only dirs holding a
# matching row rewrite; the rest carry by reference). The fixture
# splits orders into 8 disjoint key-range files; the predicate touches
# keys in [5000, 8000) only, so exactly 2 dirs rewrite and 6 carry —
# both counts pinned by the oracle from the same bucket rule.
_DEL_PRED = "o_orderkey >= 5000 AND o_orderkey < 8000 AND o_orderkey % 10 = 3"


def q_delete_rows(spark, sf_dir):

    from ..sources.tables import IceLiteTable

    t = IceLiteTable(scratch_dir("icelite_del_"))
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .coalesce(1).cache())
    buckets = sorted(r.bkt for r in orders.select(
        F.expr("o_orderkey div 2048").alias("bkt")).distinct().collect())
    for k in buckets:
        t.append(orders.filter(F.expr(f"o_orderkey div 2048 = {k}")))
    orders.unpersist()
    snap = t.delete_where(spark, _DEL_PRED)
    return (t.read(spark)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("sum_key"))
            .withColumn("deleted_dirs",
                        F.lit(snap["deleted_dirs"]).cast("int"))
            .withColumn("carried_dirs",
                        F.lit(snap["carried_dirs"]).cast("int")))


ORACLE["delete_rows"] = f"""
WITH b AS (
  SELECT o_orderkey // 2048 AS bkt,
         MAX(CASE WHEN {_DEL_PRED} THEN 1 ELSE 0 END) AS hit
  FROM orders GROUP BY 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST((SELECT SUM(hit) FROM b) AS INT) AS deleted_dirs,
       CAST((SELECT COUNT(*) - SUM(hit) FROM b) AS INT) AS carried_dirs
FROM orders WHERE NOT ({_DEL_PRED})
GROUP BY 1
"""


# --- geohash encoding + prefix rollup (r07): the human-shareable
# spatial index code next to Z-order and Hilbert — 5 bits/char base32,
# longitude-first interleave, so a shared prefix IS a nested cell.
# The query encodes every point at precision 6 (30 bits) and rolls up
# per 4-char prefix: point count, distinct 6-char cells, and the
# lexicographic cell range. The oracle evaluates the IDENTICAL
# integer interleave + substr lookup (geohash_code_sql emits shared
# SQL text; only div/// differs), so one flipped bit anywhere in 30
# breaks the hash.
def q_geohash_encode(spark, sf_dir):
    from ..operators.geohash import with_geohash

    g = with_geohash(points_df(spark, sf_dir), "x", "y",
                     extent=20000.0, precision=6)
    return (g.groupBy(F.substring("gh", 1, 4).alias("gh4"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("gh").alias("n_cells"),
                 F.min("gh").alias("min_gh"),
                 F.max("gh").alias("max_gh")))


def _geohash_oracle() -> str:
    from ..operators.geohash import geohash_chars_sql, geohash_code_sql
    code = geohash_code_sql("x", "y", 20000.0, 15, div="//")
    chars = geohash_chars_sql("code", 6, 30)
    return f"""
WITH pts AS ({_PTS_SQL}),
c AS (
  SELECT {code} AS code FROM pts
), g AS (
  SELECT {chars} AS gh FROM c
)
SELECT substr(gh, 1, 4) AS gh4,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_cells,
       MIN(gh) AS min_gh, MAX(gh) AS max_gh
FROM g GROUP BY 1
"""


ORACLE["geohash_encode"] = _geohash_oracle()


# --- vector-vector areal interpolation (r07): transfer an attribute
# from source polygons to target zones by OVERLAP AREA — the classic
# census-reaggregation / dasymetric primitive (the vector twin of
# zonal_weighted's raster coverage fractions). Each rect explodes
# only over the 16×16-grid zones its bbox touches (bounded fan-out ≤4
# here — never a zones×rects cross join), the rect∩zone area is the
# closed-form clip of axis-aligned boxes, and because every fixture
# coordinate is an integer-valued double the products and sums are
# EXACT (≤1e10 ≪ 2^53) — no float accumulation order to disagree on.
# Emits per zone the touching-rect count, Σ overlap area, and the
# area-weighted attribute numerator Σ ryear·overlap (the division is
# the consumer's — keeping the query integer-exact).
def q_areal_interp(spark, sf_dir):
    TILE, NT = 1250, 16
    r = rects_df(spark, sf_dir).select(
        "fid", "rxmin", "rymin", "rxmax", "rymax", "ryear")
    zx0 = F.greatest(F.floor(F.col("rxmin") / TILE).cast("int"), F.lit(0))
    zx1 = F.least(F.floor(F.col("rxmax") / TILE).cast("int"), F.lit(NT - 1))
    zy0 = F.greatest(F.floor(F.col("rymin") / TILE).cast("int"), F.lit(0))
    zy1 = F.least(F.floor(F.col("rymax") / TILE).cast("int"), F.lit(NT - 1))
    e = (r.withColumn("zx", F.explode(F.sequence(zx0, zx1)))
         .withColumn("zy", F.explode(F.sequence(zy0, zy1))))
    ovx = (F.least(F.col("rxmax"), (F.col("zx") + 1) * F.lit(float(TILE)))
           - F.greatest(F.col("rxmin"), F.col("zx") * F.lit(float(TILE))))
    ovy = (F.least(F.col("rymax"), (F.col("zy") + 1) * F.lit(float(TILE)))
           - F.greatest(F.col("rymin"), F.col("zy") * F.lit(float(TILE))))
    return (e.withColumn("ovx", ovx).withColumn("ovy", ovy)
            .filter((F.col("ovx") > 0) & (F.col("ovy") > 0))
            .groupBy("zx", "zy")
            .agg(F.count(F.lit(1)).alias("n_rects"),
                 F.sum(F.col("ovx") * F.col("ovy")).cast("long")
                 .alias("ov_sum"),
                 F.sum(F.col("ryear") * F.col("ovx") * F.col("ovy"))
                 .cast("long").alias("wsum")))


ORACLE["areal_interp"] = f"""
WITH r AS ({_RECTS_SQL}),
z AS (
  SELECT ryear, rxmin, rymin, rxmax, rymax,
         GREATEST(CAST(FLOOR(rxmin/1250) AS INT), 0) AS zx0,
         LEAST(CAST(FLOOR(rxmax/1250) AS INT), 15) AS zx1,
         GREATEST(CAST(FLOOR(rymin/1250) AS INT), 0) AS zy0,
         LEAST(CAST(FLOOR(rymax/1250) AS INT), 15) AS zy1
  FROM r
), e AS (
  SELECT ryear, rxmin, rymin, rxmax, rymax,
         zx0 + ix.i AS zx, zy0 + iy.j AS zy
  FROM z,
       LATERAL (SELECT UNNEST(range(zx1 - zx0 + 1)) AS i) ix,
       LATERAL (SELECT UNNEST(range(zy1 - zy0 + 1)) AS j) iy
), o AS (
  SELECT zx, zy, ryear,
         LEAST(rxmax, (zx+1)*1250) - GREATEST(rxmin, zx*1250) AS ovx,
         LEAST(rymax, (zy+1)*1250) - GREATEST(rymin, zy*1250) AS ovy
  FROM e
)
SELECT CAST(zx AS INT) AS zx, CAST(zy AS INT) AS zy,
       CAST(COUNT(*) AS BIGINT) AS n_rects,
       CAST(SUM(ovx*ovy) AS BIGINT) AS ov_sum,
       CAST(SUM(ryear*ovx*ovy) AS BIGINT) AS wsum
FROM o WHERE ovx > 0 AND ovy > 0
GROUP BY 1, 2
"""


# --- k-step D8 flow accumulation (r07): hydrology's second
# derivative over flow_d8's directions — route unit mass downslope
# for 2 unrolled rounds; acc(c) = cells whose ≤2-step flow path
# reaches c (the k-step upslope contributing area; full convergence
# is the same plan with more rounds — the PageRank-shaped iterative
# pattern). Single out-edge per cell ⇒ each round is ONE equi join +
# ONE grouped sum; the oracle unrolls the identical rounds over the
# closed-form DEM.
def q_flow_accum(spark, sf_dir):
    from ..operators.focal import flow_accum
    return flow_accum(raster_df(spark), x="cx", y="cy", value="v",
                      rounds=2)


ORACLE["flow_accum"] = f"""
WITH offs(dx, dy, k, dir) AS (
  VALUES (1,0,1,1),(1,1,2,2),(0,1,1,3),(-1,1,2,4),
         (-1,0,1,5),(-1,-1,2,6),(0,-1,1,7),(1,-1,2,8)
), sl AS (
  SELECT cx, cy, dir,
         CAST({_rval('cx', 'cy')} - {_rval('(cx + dx)', '(cy + dy)')}
              AS DOUBLE) / SQRT(CAST(k AS DOUBLE)) AS s
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy), offs
  WHERE cx BETWEEN 1 AND {_RN - 2} AND cy BETWEEN 1 AND {_RN - 2}
), best AS (
  SELECT cx, cy, dir, s,
         ROW_NUMBER() OVER (PARTITION BY cx, cy
                            ORDER BY s DESC, dir) AS rn
  FROM sl
), d AS (
  SELECT cx, cy, CASE WHEN s > 0 THEN dir ELSE 0 END AS dir
  FROM best WHERE rn = 1
), e AS (
  SELECT d.cx, d.cy, d.cx + o.dx AS tx, d.cy + o.dy AS ty
  FROM d JOIN offs o USING (dir) WHERE d.dir > 0
), a0 AS (
  SELECT cx, cy, CAST(1 AS BIGINT) AS acc FROM d
), i1 AS (
  SELECT tx, ty, SUM(a.acc) AS s FROM e JOIN a0 a
    ON a.cx = e.cx AND a.cy = e.cy GROUP BY 1, 2
), a1 AS (
  SELECT d.cx, d.cy, CAST(1 + COALESCE(i.s, 0) AS BIGINT) AS acc
  FROM d LEFT JOIN i1 i ON i.tx = d.cx AND i.ty = d.cy
), i2 AS (
  SELECT tx, ty, SUM(a.acc) AS s FROM e JOIN a1 a
    ON a.cx = e.cx AND a.cy = e.cy GROUP BY 1, 2
), a2 AS (
  SELECT d.cx, d.cy, CAST(1 + COALESCE(i.s, 0) AS BIGINT) AS acc
  FROM d LEFT JOIN i2 i ON i.tx = d.cx AND i.ty = d.cy
)
SELECT cx // 25 AS bx, cy // 25 AS by,
       CAST(SUM(acc) AS BIGINT) AS sum_acc,
       CAST(MAX(acc) AS BIGINT) AS max_acc
FROM a2 GROUP BY 1, 2
"""


# --- k-bounded city-block distance transform (r07): per cell, L1
# distance to the nearest feature cell (v ≥ 990, ~1% density), capped
# at 3 (sentinel 4 = beyond horizon). Min-plus relaxation over the
# 4-neighbour grid, 3 unrolled rounds — each ONE explode scatter +
# ONE grouped MIN + ONE left join (flow_accum's iterative shape with
# MIN for SUM; round r settles every cell at distance ≤ r, the
# bounded-Bellman-Ford argument). The oracle unrolls the identical
# relaxation over the closed-form DEM.
def q_dist_transform(spark, sf_dir):
    from ..operators.focal import dist_transform
    return dist_transform(raster_df(spark), thresh=990,
                          x="cx", y="cy", value="v", rounds=3)


def _dt_round(prev: str, cur_n: str, cur_d: str) -> str:
    return f"""{cur_n} AS (
  SELECT cx + ox AS tx, cy + oy AS ty, MIN(d + 1) AS nd
  FROM {prev}, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(ox, oy)
  GROUP BY 1, 2
), {cur_d} AS (
  SELECT p.cx, p.cy, LEAST(p.d, COALESCE(n.nd, 4)) AS d
  FROM {prev} p LEFT JOIN {cur_n} n ON n.tx = p.cx AND n.ty = p.cy
)"""


ORACLE["dist_transform"] = f"""
WITH d0 AS (
  SELECT cx, cy,
         CASE WHEN {_RVAL} >= 990 THEN 0 ELSE 4 END AS d
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
), {_dt_round('d0', 'n1', 'd1')}, {_dt_round('d1', 'n2', 'd2')},
{_dt_round('d2', 'n3', 'd3')}
SELECT cx // 25 AS bx, cy // 25 AS by,
       CAST(SUM(d) AS BIGINT) AS sum_d,
       COUNT(CASE WHEN d <= 3 THEN 1 END) AS n_reached
FROM d3 GROUP BY 1, 2
"""


# --- k-bounded cost-distance surface (r07): the WEIGHTED sibling of
# dist_transform (terra costDist / GRASS r.cost) — cheapest
# accumulated traversal cost from any source cell (v ≥ 990), entering
# cell c costs v(c) % 9 + 1, 4-connected, 3 unrolled min-plus rounds
# (cap sentinel 28 = 9·3 + 1). Each round: ONE explode scatter + ONE
# grouped MIN + ONE left join. The oracle unrolls the identical
# tropical relaxation over the closed-form raster.
def q_cost_distance(spark, sf_dir):
    from ..operators.focal import cost_distance
    return cost_distance(raster_df(spark), src_thresh=990,
                         x="cx", y="cy", value="v", rounds=3)


def _cd_round(prev: str, cur_n: str, cur_d: str) -> str:
    return f"""{cur_n} AS (
  SELECT cx + ox AS tx, cy + oy AS ty, MIN(d) AS nd
  FROM {prev}, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(ox, oy)
  GROUP BY 1, 2
), {cur_d} AS (
  SELECT p.cx, p.cy, p.cost,
         LEAST(p.d, COALESCE(n.nd + p.cost, 28)) AS d
  FROM {prev} p LEFT JOIN {cur_n} n ON n.tx = p.cx AND n.ty = p.cy
)"""


ORACLE["cost_distance"] = f"""
WITH d0 AS (
  SELECT cx, cy, ({_RVAL} % 9) + 1 AS cost,
         CASE WHEN {_RVAL} >= 990 THEN 0 ELSE 28 END AS d
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
), {_cd_round('d0', 'n1', 'd1')}, {_cd_round('d1', 'n2', 'd2')},
{_cd_round('d2', 'n3', 'd3')}
SELECT cx // 25 AS bx, cy // 25 AS by,
       CAST(SUM(d) AS BIGINT) AS sum_d,
       COUNT(CASE WHEN d < 28 THEN 1 END) AS n_reached
FROM d3 GROUP BY 1, 2
"""


# --- 3×3 non-maximum suppression (r07): strict-local-max peak
# selection over the raster (the post-detector step of Harris/DoG,
# and summit extraction in terrain work). ONE explode of 8 offsets +
# ONE grouped MAX + ONE join back; interior ⟺ all 8 contributions
# arrived. Counts and the peak-value sum per 25×25 tile.
def q_nms_peaks(spark, sf_dir):
    from ..operators.focal import nms_peaks
    return nms_peaks(raster_df(spark), x="cx", y="cy", value="v")


ORACLE["nms_peaks"] = f"""
WITH px AS (
  SELECT cx, cy, {_RVAL} AS v
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
), nbr AS (
  SELECT cx + dx AS tx, cy + dy AS ty,
         MAX(v) AS nbr_max, COUNT(*) AS n_nbr
  FROM px, (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
                   (0, 1), (1, -1), (1, 0), (1, 1)) o(dx, dy)
  GROUP BY 1, 2
), j AS (
  SELECT p.cx, p.cy, p.v, n.nbr_max
  FROM px p JOIN nbr n ON n.tx = p.cx AND n.ty = p.cy
  WHERE n.n_nbr = 8
)
SELECT cx // 25 AS bx, cy // 25 AS by,
       COUNT(*) AS n_interior,
       COUNT(CASE WHEN v > nbr_max THEN 1 END) AS n_peaks,
       CAST(SUM(CASE WHEN v > nbr_max THEN v ELSE 0 END) AS BIGINT)
         AS sum_peak_v
FROM j GROUP BY 1, 2
"""


# --- exact 2× bilinear disaggregation (r07): terra disagg(bilinear) /
# gdalwarp -r bilinear at half pitch, half-pixel-centre alignment —
# per-axis weights always {¾, ¼}, so the 2-D stencil is {9,3,3,1}/16
# held as INTEGERS scaled ×16: bit-exact, zero float ops. Scatter =
# ONE explode of 16 weighted contributions + ONE grouped SUM;
# interior targets have exactly 4 contributors (Σw = 16).
def q_upsample2(spark, sf_dir):
    from ..operators.focal import upsample2
    return upsample2(raster_df(spark), x="cx", y="cy", value="v")


ORACLE["upsample2"] = f"""
WITH px AS (
  SELECT cx, cy, {_RVAL} AS v
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
), t AS (
  SELECT 2 * cx + ax AS tx, 2 * cy + ay AS ty,
         SUM(v * wx * wy) AS v16, COUNT(*) AS n
  FROM px,
       (VALUES (-1, 1), (0, 3), (1, 3), (2, 1)) ox(ax, wx),
       (VALUES (-1, 1), (0, 3), (1, 3), (2, 1)) oy(ay, wy)
  GROUP BY 1, 2
)
SELECT tx // 50 AS bx, ty // 50 AS by,
       COUNT(*) AS n_cells,
       CAST(SUM(v16) AS BIGINT) AS sum_v16
FROM t WHERE n = 4 GROUP BY 1, 2
"""


# --- majority (modal) resampling (r07): categorical-raster
# aggregation (terra aggregate fun="modal", gdalwarp -r mode),
# factor 4, ties → SMALLEST value. Spark takes the argmax as
# max(struct(count, −v)) — two map-side-combinable groupBys, no
# window shuffle-sort; the oracle replays via ROW_NUMBER.
def q_mode_resample(spark, sf_dir):
    from ..operators.focal import mode_resample
    return mode_resample(raster_df(spark), x="cx", y="cy", value="v",
                         factor=4)


ORACLE["mode_resample"] = f"""
WITH px AS (
  SELECT cx, cy, {_RVAL} AS v
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
), cnt AS (
  SELECT cx // 4 AS gx, cy // 4 AS gy, v, COUNT(*) AS c
  FROM px GROUP BY 1, 2, 3
), m AS (
  SELECT gx, gy, v AS mode_v,
         ROW_NUMBER() OVER (PARTITION BY gx, gy
                            ORDER BY c DESC, v ASC) AS rn
  FROM cnt
)
SELECT gx // 25 AS bx, gy // 25 AS by,
       COUNT(*) AS n_blocks,
       CAST(SUM(mode_v) AS BIGINT) AS sum_mode,
       CAST(MAX(mode_v) AS BIGINT) AS max_mode
FROM m WHERE rn = 1 GROUP BY 1, 2
"""


# --- segment × segment crossing count (r07): the line-layer overlay
# (sf/GEOS st_intersects on LINESTRINGs) as a PBSM spatial-merge join
# — cell-bucketed candidates, reference-point dedup (NO distinct),
# exact integer cross-product refinement (operators/segments.py).
# Segments are short deterministic offsets (≤ ~283 m) hung off the
# geotag points (+200 so endpoints stay non-negative — keeps div///
# equivalent), entity = user_id, strict proper crossings only. The
# oracle brute-forces every pair; agreement proves the cell cover,
# the dedup rule, and the straddle test.
_SEG_X1 = f"(CAST({G.sql_point_x('event_id')} AS BIGINT) + 200)"
_SEG_Y1 = f"(CAST({G.sql_point_y('event_id')} AS BIGINT) + 200)"
_SEG_DX = "((event_id * 40503 + 29) % 401 - 200)"
_SEG_DY = "((event_id * 69621 + 31) % 399 - 199)"


def q_seg_cross(spark, sf_dir):
    from ..operators.segments import segment_crossings
    e = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .filter("event_id % 5 = 0"))
    segs = e.select(
        F.col("event_id").alias("sid"),
        F.col("user_id").alias("ent"),
        F.expr(_SEG_X1).alias("x1"),
        F.expr(_SEG_Y1).alias("y1"),
        F.expr(f"{_SEG_X1} + {_SEG_DX}").alias("x2"),
        F.expr(f"{_SEG_Y1} + {_SEG_DY}").alias("y2"))
    return segment_crossings(segs)


ORACLE["seg_cross"] = f"""
WITH s0 AS (
  SELECT event_id AS sid, user_id AS ent,
         {_SEG_X1} AS x1, {_SEG_Y1} AS y1,
         {_SEG_DX} AS dx, {_SEG_DY} AS dy
  FROM events WHERE event_id % 5 = 0
), s AS (
  SELECT sid, ent, x1, y1, x1 + dx AS x2, y1 + dy AS y2 FROM s0
), sb AS (
  -- bbox columns precomputed: LEAST/GREATEST inside the join's ON
  -- clause trips a DuckDB internal "flat vector" assertion; the same
  -- predicates over plain columns in WHERE plan fine
  SELECT sid, ent, x1, y1, x2, y2,
         LEAST(x1, x2) AS lx, GREATEST(x1, x2) AS hx,
         LEAST(y1, y2) AS ly, GREATEST(y1, y2) AS hy
  FROM s
), p AS (
  SELECT GREATEST(a.lx, b.lx) AS rx, GREATEST(a.ly, b.ly) AS ry
  FROM sb a JOIN sb b ON a.sid < b.sid
  WHERE a.ent <> b.ent
   AND a.lx <= b.hx AND b.lx <= a.hx
   AND a.ly <= b.hy AND b.ly <= a.hy
   AND ((a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1))
     * ((a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1)) < 0
   AND ((b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1))
     * ((b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1)) < 0
)
SELECT rx // 2048 AS bx, ry // 2048 AS by, COUNT(*) AS n_cross
FROM p GROUP BY 1, 2
"""


# --- global Moran's I (r07): THE spatial-autocorrelation statistic
# (spdep moran.test / PySAL esda.Moran / ArcGIS Spatial
# Autocorrelation) with rook weights, exact-integer components
# (operators/focal.py::moran_i). Restricted to the 100×100 corner of
# the raster so every term stays int64: c = n·v − S ≤ 1e7,
# den = Σc² ≤ 1e18, |num| ≤ 4e18 < 2^63. The oracle replays the same
# 4-offset scatter join; the ratio is two int64→double casts, two
# multiplies, one divide — identical IEEE ops both engines, rounded
# to 9 dp through the established ROUND parity.
def q_moran_i(spark, sf_dir):
    from ..operators.focal import moran_i
    cells = raster_df(spark).filter("cx < 100 AND cy < 100")
    return moran_i(cells, x="cx", y="cy", value="v")


ORACLE["moran_i"] = f"""
WITH px AS (
  SELECT cx, cy, {_RVAL} AS v
  FROM range(100) t1(cx), range(100) t2(cy)
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM px
), c AS (
  SELECT cx, cy, t.n * v - t.s AS c
  FROM px, tot t
), nbr AS (
  SELECT cx + ox AS tx, cy + oy AS ty, c AS c_src
  FROM c, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(ox, oy)
), pairs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
         CAST(SUM(n.c_src * c.c) AS BIGINT) AS num
  FROM nbr n JOIN c ON c.cx = n.tx AND c.cy = n.ty
), den AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS den FROM c
)
SELECT t.n, t.s AS s_sum, p.w_pairs, p.num, d.den,
       ROUND(CAST(p.num AS DOUBLE) * t.n
             / (CAST(d.den AS DOUBLE) * p.w_pairs), 9) AS moran
FROM tot t, pairs p, den d
"""


# --- raster-wide histogram equalization (r07): the MOSAIC contrast
# normalization (gdal -scale over a global histogram, GRASS
# r.colors -e) — ONE LUT for the whole distributed raster, vs the
# per-image multimodal.hist_equalize_stats. The histogram collapses
# to ≤1000 rows before the CDF window (value-DOMAIN-sized, not
# data-sized), and the LUT broadcasts back — the big side never
# shuffles. Non-negative operands keep div ≡ //.
def q_raster_equalize(spark, sf_dir):
    from ..operators.focal import raster_equalize
    return raster_equalize(raster_df(spark), levels=1000,
                           x="cx", y="cy", value="v")


ORACLE["raster_equalize"] = f"""
WITH px AS (
  SELECT cx, cy, {_RVAL} AS v
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
), hist AS (
  SELECT v, COUNT(*) AS cnt FROM px GROUP BY 1
), cdf AS (
  SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cdf
  FROM hist
), tot AS (
  SELECT MIN(cdf) AS cdf_min, MAX(cdf) AS n_tot FROM cdf
), lut AS (
  SELECT v, CAST(CASE WHEN t.n_tot > t.cdf_min
              THEN (cdf - t.cdf_min) * 999 // (t.n_tot - t.cdf_min)
              ELSE 0 END AS BIGINT) AS eq
  FROM cdf, tot t
)
SELECT cx // 25 AS bx, cy // 25 AS by,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(eq) AS BIGINT) AS sum_eq,
       MAX(eq) AS max_eq
FROM px JOIN lut USING (v)
GROUP BY 1, 2
"""


# --- trajectory stay-point segmentation (r07): split each user's
# ping sequence at Chebyshev jumps > 5 km, call a segment a STAY at
# ≥2 pings spanning ≥1 h (operators/trajectory.py::stay_segments).
# Durations stay integer microseconds until ONE final /1e6 — no
# order-dependent double summation. Window + groupBy at the same
# grain (exchange reuse).
def q_traj_stays(spark, sf_dir):
    from ..operators.trajectory import stay_segments
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id",
        F.expr(G.sql_point_x("event_id")).alias("x"),
        F.expr(G.sql_point_y("event_id")).alias("y"))
    s = stay_segments(e, jump=5000.0, min_pts=2, min_dur_s=3600.0,
                      tiebreak="event_id")
    return s.select("user_id", "n_segs", "n_stays", "stay_pts",
                    F.round("stay_dur_s", 3).alias("stay_dur_s"))


ORACLE["traj_stays"] = f"""
WITH pings AS (
  SELECT user_id, ts, event_id,
         {G.sql_point_x('event_id')} AS x,
         {G.sql_point_y('event_id')} AS y
  FROM events
), seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(x) OVER w IS NULL
                OR GREATEST(ABS(x - LAG(x) OVER w),
                            ABS(y - LAG(y) OVER w)) > 5000 THEN 1
              ELSE 0 END AS brk
  FROM pings
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), segd AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS seg
  FROM seq
), per_seg AS (
  SELECT user_id, seg, COUNT(*) AS n_pts,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
  FROM segd GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       COUNT(CASE WHEN n_pts >= 2 AND dur_us >= 3600000000
                  THEN 1 END) AS n_stays,
       CAST(SUM(CASE WHEN n_pts >= 2 AND dur_us >= 3600000000
                     THEN n_pts ELSE 0 END) AS BIGINT) AS stay_pts,
       ROUND(CAST(SUM(CASE WHEN n_pts >= 2 AND dur_us >= 3600000000
                           THEN dur_us ELSE 0 END) AS BIGINT) / 1e6, 3)
         AS stay_dur_s
FROM per_seg GROUP BY 1
"""


# --- origin–destination tile flows (r07): the mobility OD matrix
# (operators/trajectory.py::od_matrix) over 4 km tiles of the LCG
# geotags — per user, consecutive tile transitions in (ts, event_id)
# order, self-loops excluded; flows carry trip count and distinct-user
# reach. Tiles come from the INTEGER coordinate before the double
# cast, so div ≡ // (non-negative).
_ODX = f"((event_id * 48271 + 13) % 999983) % {G.WINDOW}"
_ODY = f"((event_id * 69621 + 7) % 999979) % {G.WINDOW}"


def q_od_flows(spark, sf_dir):
    from ..operators.trajectory import od_matrix
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id",
        F.expr(f"{_ODX} div 4000").alias("tx"),
        F.expr(f"{_ODY} div 4000").alias("ty"))
    return od_matrix(e, tiebreak="event_id")


ORACLE["od_flows"] = f"""
WITH pings AS (
  SELECT user_id, ts, event_id,
         {_ODX} // 4000 AS tx,
         {_ODY} // 4000 AS ty
  FROM events
), seq AS (
  SELECT user_id, tx, ty,
         LAG(tx) OVER w AS fx, LAG(ty) OVER w AS fy
  FROM pings
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT fx AS from_tx, fy AS from_ty, tx AS to_tx, ty AS to_ty,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq
WHERE fx IS NOT NULL AND (fx <> tx OR fy <> ty)
GROUP BY 1, 2, 3, 4
"""


# --- Mann-Kendall trend per tile (r07): the statistic inside
# "Emerging Hot Spot Analysis" (ArcGIS space-time cube; Kendall 1975,
# Mann 1945) — per 2 km tile, the monotone-trend score over the DAILY
# event-count series S = Σ_{i<j} sign(c_j − c_i), computed on the
# COMPLETE day spine (zero-count days included via tiles × days LEFT
# join — a missing day IS data to a trend test). Exact integers
# throughout. Plan shape: the cube collapses to (tiles × days) rows
# BEFORE the pair join, so the quadratic term is days², independent
# of event volume — the standard space-time-cube contract at 100 TB;
# the pair join is tile-equi (never cartesian across tiles).
def q_trend_mk(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr(f"{_ODX} div 2000").alias("tx"),
        F.expr(f"{_ODY} div 2000").alias("ty"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"))
    counts = e.groupBy("tx", "ty", "day").agg(
        F.count(F.lit(1)).alias("c"))
    tiles = counts.select("tx", "ty").distinct()
    days = counts.select("day").distinct()
    spine = (tiles.crossJoin(days)
             .join(counts, ["tx", "ty", "day"], "left")
             .select("tx", "ty", "day",
                     F.coalesce("c", F.lit(0)).alias("c")))
    a = spine.select("tx", "ty", F.col("day").alias("d1"),
                     F.col("c").alias("c1"))
    b = spine.select(F.col("tx").alias("btx"), F.col("ty").alias("bty"),
                     F.col("day").alias("d2"), F.col("c").alias("c2"))
    pairs = a.join(b, (F.col("tx") == F.col("btx"))
                   & (F.col("ty") == F.col("bty"))
                   & (F.col("d1") < F.col("d2")))
    return (pairs.groupBy("tx", "ty")
            .agg(F.sum(F.signum(F.col("c2") - F.col("c1"))).cast("long")
                 .alias("s_mk"),
                 F.count(F.lit(1)).alias("n_pairs"))
            .join(spine.groupBy("tx", "ty")
                  .agg(F.count(F.lit(1)).alias("n_days"),
                       F.sum("c").alias("total")), ["tx", "ty"]))


ORACLE["trend_mk"] = f"""
WITH pings AS (
  SELECT {_ODX} // 2000 AS tx, {_ODY} // 2000 AS ty,
         epoch_us(ts) // 86400000000 AS day
  FROM events
), counts AS (
  SELECT tx, ty, day, COUNT(*) AS c FROM pings GROUP BY 1, 2, 3
), spine AS (
  SELECT t.tx, t.ty, d.day, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT tx, ty FROM counts) t
  CROSS JOIN (SELECT DISTINCT day FROM counts) d
  LEFT JOIN counts c ON c.tx = t.tx AND c.ty = t.ty AND c.day = d.day
), pairs AS (
  SELECT a.tx, a.ty,
         CAST(SUM(SIGN(b.c - a.c)) AS BIGINT) AS s_mk,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM spine a JOIN spine b
    ON b.tx = a.tx AND b.ty = a.ty AND a.day < b.day
  GROUP BY 1, 2
), tot AS (
  SELECT tx, ty, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS total
  FROM spine GROUP BY 1, 2
)
SELECT p.tx, p.ty, p.s_mk, p.n_pairs, t.n_days, t.total
FROM pairs p JOIN tot t ON t.tx = p.tx AND t.ty = p.ty
"""


# --- adaptive quadtree tiling (r07 wave D): operators/quadtree.py —
# the skew-aware partitioner (PR-quadtree / S2-compaction shape):
# cells split until ≤ cap points or max_level. The recursion is
# flattened declaratively (leaf = SHALLOWEST level whose cell count
# ≤ cap — valid because nested-cell counts are monotone down the
# chain), the level×cell histogram is geometry-bounded (Σ4^l) and
# broadcast. cap=50 yields a mixed-depth tree on the LCG geotags at
# every fixture SF. Oracle replays the same min-qualifying-level
# rule over an UNNESTed level range.
def q_quadtree_tiles(spark, sf_dir):
    from ..operators.quadtree import quadtree_leaves
    pts = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("id"),
        F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y"))
    return quadtree_leaves(pts, window=G.WINDOW, max_level=5, cap=50)


ORACLE["quadtree_tiles"] = f"""
WITH p AS (
  SELECT event_id AS id, {_ODX} AS x, {_ODY} AS y FROM events
), e AS (
  SELECT id, l,
         x // (20000 // (1 << l)) AS cx,
         y // (20000 // (1 << l)) AS cy
  FROM p, LATERAL (SELECT UNNEST(range(6)) AS l) u
), c AS (
  SELECT l, cx, cy, COUNT(*) AS cnt FROM e GROUP BY 1, 2, 3
), leaf AS (
  SELECT e.id, MIN(e.l) AS lvl
  FROM e JOIN c USING (l, cx, cy)
  WHERE c.cnt <= 50 OR l = 5
  GROUP BY 1
)
SELECT e.l AS lvl, e.cx, e.cy,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(20000 // (1 << e.l) AS BIGINT) AS side
FROM leaf q JOIN e ON e.id = q.id AND e.l = q.lvl
GROUP BY 1, 2, 3
"""


# --- box-IoU spatial self-join (r07 wave D): the object-detection
# dedup primitive (NMS's pair-finding half) as a grid-blocked join —
# every box explodes to the ≤4 coarse cells it overlaps (cell 256 >
# max box dim 160, so the cover is exact), pairs join on cell, and
# the owner-cell rule (only the cell containing the intersection's
# min corner emits) dedups without a distinct. IoU ≥ 0.2 is tested
# in exact integers (6·inter ≥ areaA+areaB ⇔ inter/union ≥ 1/5).
# Boxes derive from the event geotags compressed into a 1840² px
# frame (every 20th event, so the all-pairs oracle stays small while
# Spark runs the real blocked plan). The oracle is the UNBLOCKED
# quadratic join — a value match proves the cover is complete.
_BX0 = f"(({_ODX}) % 1800)"
_BY0 = f"(({_ODY}) % 1800)"
_BW = "((event_id % 7) * 20 + 40)"
_BH = "(((event_id div 7) % 7) * 20 + 40)"          # Spark (div)
_BH_SQL = "(((event_id // 7) % 7) * 20 + 40)"       # DuckDB (//)


def q_box_iou_join(spark, sf_dir):
    b = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .filter("event_id % 20 = 0")
         .select(F.col("event_id").alias("id"),
                 F.expr(_BX0).alias("x0"), F.expr(_BY0).alias("y0"),
                 F.expr(f"{_BX0} + {_BW}").alias("x1"),
                 F.expr(f"{_BY0} + {_BH}").alias("y1")))
    blocked = b.select(
        "id", "x0", "y0", "x1", "y1",
        F.explode(F.expr("sequence(x0 div 256, (x1 - 1) div 256)"))
        .alias("gx")).select(
        "*", F.explode(F.expr("sequence(y0 div 256, (y1 - 1) div 256)"))
        .alias("gy"))
    a = blocked.select(*[F.col(c).alias(f"a_{c}") for c in
                         ("id", "x0", "y0", "x1", "y1")], "gx", "gy")
    c = blocked.select(*[F.col(c).alias(f"b_{c}") for c in
                         ("id", "x0", "y0", "x1", "y1")], "gx", "gy")
    pairs = (a.join(c, ["gx", "gy"])
             .filter("a_id < b_id")
             .filter("gx = greatest(a_x0, b_x0) div 256 AND "
                     "gy = greatest(a_y0, b_y0) div 256")
             .withColumn("iw", F.expr("least(a_x1, b_x1)"
                                      " - greatest(a_x0, b_x0)"))
             .withColumn("ih", F.expr("least(a_y1, b_y1)"
                                      " - greatest(a_y0, b_y0)"))
             .filter("iw > 0 AND ih > 0")
             .withColumn("inter", F.expr("iw * ih"))
             .withColumn("union_", F.expr(
                 "(a_x1 - a_x0) * (a_y1 - a_y0)"
                 " + (b_x1 - b_x0) * (b_y1 - b_y0) - inter"))
             .filter("6 * inter >= (a_x1 - a_x0) * (a_y1 - a_y0)"
                     " + (b_x1 - b_x0) * (b_y1 - b_y0)"))
    return pairs.select(
        F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"),
        F.col("inter").cast("long").alias("inter"),
        F.col("union_").cast("long").alias("union_"),
        F.expr("1000 * inter div union_").cast("long")
        .alias("iou_milli"))


ORACLE["box_iou_join"] = f"""
WITH b AS (
  SELECT event_id AS id,
         {_BX0} AS x0, {_BY0} AS y0,
         {_BX0} + {_BW} AS x1, {_BY0} + {_BH_SQL} AS y1
  FROM events WHERE event_id % 20 = 0
), p AS (
  SELECT a.id AS id_a, b2.id AS id_b,
         (LEAST(a.x1, b2.x1) - GREATEST(a.x0, b2.x0))
       * (LEAST(a.y1, b2.y1) - GREATEST(a.y0, b2.y0)) AS inter,
         (a.x1 - a.x0) * (a.y1 - a.y0)
       + (b2.x1 - b2.x0) * (b2.y1 - b2.y0) AS sum_area
  FROM b a JOIN b b2 ON a.id < b2.id
  WHERE LEAST(a.x1, b2.x1) > GREATEST(a.x0, b2.x0)
    AND LEAST(a.y1, b2.y1) > GREATEST(a.y0, b2.y0)
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       CAST(sum_area - inter AS BIGINT) AS union_,
       CAST(1000 * inter // (sum_area - inter) AS BIGINT) AS iou_milli
FROM p WHERE 6 * inter >= sum_area
"""


# --- autocorrelation function per tile (r07 wave D): ACF at lags
# 1-3 over each 2-km tile's complete daily-count series (the
# trend_mk spine) — the seasonality/persistence feature for
# spatio-temporal forecasting. Floats aren't fold-replayable, so the
# centered products use the n-scaled integer form u_t = n·c_t − S
# (u ∈ int64; num_l = Σ u_t·u_{t+l}, den = Σ u_t² are exact), and
# only the final ratio divides (one double division — bit-identical
# in both engines). Spark shape: one spine build, one LEAD window
# per lag over the SAME sort (one shuffle), stack() to long form.
# Oracle replays the leads as a day-offset self-join.
def q_acf_lags(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr(f"{_ODX} div 2000").alias("tx"),
        F.expr(f"{_ODY} div 2000").alias("ty"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"))
    counts = e.groupBy("tx", "ty", "day").agg(
        F.count(F.lit(1)).alias("c"))
    spine = (counts.select("tx", "ty").distinct()
             .crossJoin(counts.select("day").distinct())
             .join(counts, ["tx", "ty", "day"], "left")
             .select("tx", "ty", "day",
                     F.coalesce("c", F.lit(0)).alias("c")))
    wp = W.partitionBy("tx", "ty")
    wo = wp.orderBy("day")
    u = (spine.withColumn("n", F.count(F.lit(1)).over(wp))
         .withColumn("s", F.sum("c").over(wp))
         .withColumn("u", F.col("n") * F.col("c") - F.col("s")))
    leads = u.select(
        "tx", "ty", "u",
        *[F.lead("u", k).over(wo).alias(f"u{k}") for k in (1, 2, 3)])
    agg = leads.groupBy("tx", "ty").agg(
        F.sum(F.col("u") * F.col("u")).alias("den"),
        *[F.sum(F.col("u") * F.col(f"u{k}")).alias(f"num{k}")
          for k in (1, 2, 3)])
    return (agg.selectExpr(
        "tx", "ty", "den",
        "stack(3, 1L, num1, 2L, num2, 3L, num3) AS (lag, num)")
        .filter("den > 0")
        .select("tx", "ty", "lag", "num", "den",
                F.expr("round(cast(num as double) / cast(den as double),"
                       " 9)").alias("acf")))


ORACLE["acf_lags"] = f"""
WITH pings AS (
  SELECT {_ODX} // 2000 AS tx, {_ODY} // 2000 AS ty,
         epoch_us(ts) // 86400000000 AS day
  FROM events
), counts AS (
  SELECT tx, ty, day, COUNT(*) AS c FROM pings GROUP BY 1, 2, 3
), spine AS (
  SELECT t.tx, t.ty, d.day, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT tx, ty FROM counts) t
  CROSS JOIN (SELECT DISTINCT day FROM counts) d
  LEFT JOIN counts c ON c.tx = t.tx AND c.ty = t.ty AND c.day = d.day
), u AS (
  SELECT tx, ty, day,
         COUNT(*) OVER (PARTITION BY tx, ty) * c
           - SUM(c) OVER (PARTITION BY tx, ty) AS u
  FROM spine
), num AS (
  SELECT a.tx, a.ty, l.lag,
         CAST(SUM(a.u * b.u) AS BIGINT) AS num
  FROM u a
  JOIN (SELECT UNNEST(range(1, 4)) AS lag) l ON TRUE
  JOIN u b ON b.tx = a.tx AND b.ty = a.ty AND b.day = a.day + l.lag
  GROUP BY 1, 2, 3
), den AS (
  SELECT tx, ty, CAST(SUM(u * u) AS BIGINT) AS den FROM u GROUP BY 1, 2
)
SELECT n.tx, n.ty, n.lag, n.num, d.den,
       ROUND(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 9) AS acf
FROM num n JOIN den d ON d.tx = n.tx AND d.ty = n.ty
WHERE d.den > 0
"""


# --- bilinear raster extraction at points (r07 wave E): the other
# half of the reference's extraction loop — terra::extract(method=
# "bilinear") / GDAL's bilinear point sampler. Each event point reads
# the 4 surrounding cell CENTERS of the 25 m raster and blends them
# with exact ×50-scaled integer weights (tx50 = 2x − 50·fx − 25 ∈
# [0,50), so val2500 = Σ w_x·w_y·v is int64-exact and val =
# val2500/2500 is one IEEE division). Points within half a pitch of
# the border are filtered (identically in both engines) so the
# 4-corner stencil always exists and no operand goes negative
# (trunc ≡ floor). Spark shape: a REAL raster lookup join — 4
# exploded contributions per point equi-join the 640k-row raster on
# (cx, cy) and re-group per point; at 100 TB the raster is a table,
# not a formula, so the join IS the operator (the oracle replays the
# corner values from the closed form instead — a match proves the
# join's stencil).
def q_point_sample(spark, sf_dir):
    pts = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select(F.col("event_id").alias("id"),
                   F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y"))
           .filter("x BETWEEN 13 AND 19987 AND y BETWEEN 13 AND 19987")
           .withColumn("fx", F.expr("(2*x - 25) div 50"))
           .withColumn("fy", F.expr("(2*y - 25) div 50"))
           .withColumn("tx", F.expr("2*x - 50*fx - 25"))
           .withColumn("ty", F.expr("2*y - 50*fy - 25")))
    contrib = pts.select(
        "id", "tx", "ty", "fx", "fy",
        F.explode(F.arrays_zip(
            F.array(F.lit(0), F.lit(1), F.lit(0), F.lit(1)).alias("dx"),
            F.array(F.lit(0), F.lit(0), F.lit(1), F.lit(1)).alias("dy"),
        )).alias("o")).select(
        "id",
        (F.col("fx") + F.col("o.dx")).alias("cx"),
        (F.col("fy") + F.col("o.dy")).alias("cy"),
        ((F.when(F.col("o.dx") == 1, F.col("tx"))
          .otherwise(50 - F.col("tx")))
         * (F.when(F.col("o.dy") == 1, F.col("ty"))
            .otherwise(50 - F.col("ty")))).alias("w"))
    r = raster_df(spark)
    return (contrib.join(r, ["cx", "cy"])
            .groupBy("id")
            .agg(F.sum(F.col("w") * F.col("v")).alias("val2500"))
            .withColumn("val", F.expr("cast(val2500 as double) / "
                                      "cast(2500 as double)")))


def _ps_corner(dx: int, dy: int) -> str:
    vx = f"(fx + {dx})"
    vy = f"(fy + {dy})"
    wx = "tx" if dx else "(50 - tx)"
    wy = "ty" if dy else "(50 - ty)"
    return (f"{wx} * {wy} * "
            f"((({vx} * 2654435761 + {vy} * 40503 + 7) % 4294967291)"
            f" % 1000)")


ORACLE["point_sample"] = f"""
WITH p AS (
  SELECT event_id AS id, {_ODX} AS x, {_ODY} AS y FROM events
), q AS (
  SELECT id, x, y,
         (2*x - 25) // 50 AS fx, (2*y - 25) // 50 AS fy
  FROM p WHERE x BETWEEN 13 AND 19987 AND y BETWEEN 13 AND 19987
), t AS (
  SELECT id, fx, fy,
         2*x - 50*fx - 25 AS tx, 2*y - 50*fy - 25 AS ty
  FROM q
)
SELECT id,
       CAST({_ps_corner(0, 0)} + {_ps_corner(1, 0)}
          + {_ps_corner(0, 1)} + {_ps_corner(1, 1)} AS BIGINT)
         AS val2500,
       CAST(({_ps_corner(0, 0)} + {_ps_corner(1, 0)}
           + {_ps_corner(0, 1)} + {_ps_corner(1, 1)}) AS DOUBLE)
         / 2500.0 AS val
FROM t
"""


# --- Voronoi / nearest-site assignment (r07 wave E): the discrete
# Voronoi tessellation (and one Lloyd half-step) — every event point
# assigns to its nearest of 16 deterministic sites by exact integer
# squared distance, ties → smallest site id; per-cell emit point
# count, Σd² (the k-means inertia term) and the centroid numerators
# (Σx, Σy) a Lloyd update would divide. Spark shape: the 16-row site
# table broadcasts (a site/codebook side is always tiny — same
# pattern as IVF coarse quantization in operators/similarity.py),
# argmin via min(struct(d2, site)) — one narrow shuffle per point
# grain, then one per-site agg.
_VSX = "((s * 7919 + 53) % 19000 + 500)"
_VSY = "((s * 104729 + 97) % 19000 + 500)"


def q_voronoi_assign(spark, sf_dir):
    pts = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select(F.col("event_id").alias("id"),
                   F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y")))
    sites = spark.range(16).select(
        F.col("id").alias("s"),
        F.expr(_VSX).alias("sx"), F.expr(_VSY).alias("sy"))
    d2 = ((F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
          + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy")))
    best = (pts.join(F.broadcast(sites))
            .withColumn("d2", d2)
            .groupBy("id", "x", "y")
            .agg(F.min(F.struct("d2", "s")).alias("b")))
    return (best.select("x", "y", F.col("b.d2").alias("d2"),
                        F.col("b.s").alias("site"))
            .groupBy("site")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("d2").alias("sum_d2"),
                 F.sum("x").alias("sum_x"),
                 F.sum("y").alias("sum_y")))


ORACLE["voronoi_assign"] = f"""
WITH p AS (
  SELECT event_id AS id, {_ODX} AS x, {_ODY} AS y FROM events
), sites AS (
  SELECT s, {_VSX} AS sx, {_VSY} AS sy
  FROM (SELECT UNNEST(range(16)) AS s)
), d AS (
  SELECT p.id, p.x, p.y, sites.s,
         (p.x - sx)*(p.x - sx) + (p.y - sy)*(p.y - sy) AS d2
  FROM p CROSS JOIN sites
), m AS (
  SELECT id, MIN(d2) AS mind2 FROM d GROUP BY 1
), a AS (
  SELECT d.id, d.x, d.y, d.d2, MIN(d.s) AS site
  FROM d JOIN m ON m.id = d.id AND d.d2 = m.mind2
  GROUP BY 1, 2, 3, 4
)
SELECT site,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(d2) AS BIGINT) AS sum_d2,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(y) AS BIGINT) AS sum_y
FROM a GROUP BY 1
"""


# --- DBSCAN point classification (r07 wave F): stage one of DBSCAN
# (Ester et al. '96) — the part that IS deterministic and order-free:
# per point the ε-neighborhood size (self included, as in the
# original definition), then core (n_nb ≥ minPts) / border (non-core
# with a core ε-neighbor) / noise. Cluster-id propagation is NOT
# emitted here (full connected components is iterative; the bounded-
# round label kernels live in label_prop / cluster.py). ε = 300 m,
# minPts = 5. Spark shape: the probe side explodes to its 3×3
# ε-cell neighborhood (cell = ε ⇒ the cover is exact) and equi-joins
# the point set on cell — the same PBSM blocking as range_near /
# seg_cross; border detection reuses the SAME pair table (one extra
# semi-join, no second distance computation). The oracle replays the
# identical cell blocking (not a quadratic join) — at sf0.01 the
# quadratic form would be 10^8 pairs.
def q_dbscan_classify(spark, sf_dir, eps: int = 300, min_pts: int = 5):
    pts = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select(F.col("event_id").alias("id"),
                   F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y")))
    probe = pts.select(
        "id", "x", "y",
        F.explode(F.expr(f"sequence(x div {eps} - 1, x div {eps} + 1)"))
        .alias("cx")).select(
        "*", F.explode(F.expr(f"sequence(y div {eps} - 1, "
                              f"y div {eps} + 1)")).alias("cy"))
    build = pts.select(F.col("id").alias("bid"),
                       F.col("x").alias("bx"), F.col("y").alias("by"),
                       F.expr(f"x div {eps}").alias("cx"),
                       F.expr(f"y div {eps}").alias("cy"))
    pairs = (probe.join(build, ["cx", "cy"])
             .filter(f"(x-bx)*(x-bx) + (y-by)*(y-by) <= {eps * eps}")
             .select("id", "bid"))
    nb = pairs.groupBy("id").agg(F.count(F.lit(1)).alias("n_nb"))
    core = nb.filter(F.col("n_nb") >= min_pts).select("id")
    # border: non-core with ≥1 CORE neighbor — semi-join the pair
    # table against the core set on the build side
    has_core_nb = (pairs
                   .join(core.select(F.col("id").alias("bid")), "bid")
                   .select("id").distinct())
    return (nb
            .join(core.withColumn("is_core", F.lit(1)), "id", "left")
            .join(has_core_nb.withColumn("near_core", F.lit(1)),
                  "id", "left")
            .select("id", "n_nb",
                    F.when(F.col("is_core") == 1, F.lit("core"))
                    .when(F.col("near_core") == 1, F.lit("border"))
                    .otherwise(F.lit("noise")).alias("cls")))


ORACLE["dbscan_classify"] = f"""
WITH p AS (
  SELECT event_id AS id, {_ODX} AS x, {_ODY} AS y FROM events
), probe AS (
  SELECT id, x, y, x // 300 + dx.d AS cx, y // 300 + dy.d AS cy
  FROM p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
), build AS (
  SELECT id AS bid, x AS bx, y AS by, x // 300 AS cx, y // 300 AS cy
  FROM p
), pairs AS (
  SELECT pr.id, b.bid
  FROM probe pr JOIN build b USING (cx, cy)
  WHERE (pr.x - b.bx)*(pr.x - b.bx) + (pr.y - b.by)*(pr.y - b.by)
        <= 90000
), nb AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_nb FROM pairs GROUP BY 1
), core AS (
  SELECT id FROM nb WHERE n_nb >= 5
), near_core AS (
  SELECT DISTINCT pairs.id
  FROM pairs JOIN core ON core.id = pairs.bid
)
SELECT nb.id, nb.n_nb,
       CASE WHEN c.id IS NOT NULL THEN 'core'
            WHEN nc.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS cls
FROM nb
LEFT JOIN core c ON c.id = nb.id
LEFT JOIN near_core nc ON nc.id = nb.id
"""


# --- Ripley's K pair counts (r07 wave I): the spatial point-pattern
# clustering statistic — unordered point-pair counts within r ∈
# {300, 600, 1200} m over the LCG geotags, from ONE PBSM cell join
# at the largest radius (cell = 1200 ⇒ a 3×3 neighborhood cover is
# exact: |Δx| ≤ 1200 bounds the cell difference to ±1), smaller
# radii as conditional sums over the same pair table. `id < bid`
# counts each unordered pair exactly once (the probe side explodes,
# the build side stays in its home cell). K(r) itself is
# n_pairs·2A/(n²λ) — a driver-side division; the exact integer
# numerators are what the engines must agree on. At 100 TB the join
# is cell-local (no quadratic blowup) and skew is bounded by cell
# occupancy — the same salting escape hatch as range_near applies.
def q_ripley_k(spark, sf_dir, cell: int = 1200):
    pts = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select(F.col("event_id").alias("id"),
                   F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y")))
    probe = pts.select(
        "id", "x", "y",
        F.explode(F.expr(f"sequence(x div {cell} - 1, x div {cell} + 1)"))
        .alias("cx")).select(
        "*", F.explode(F.expr(f"sequence(y div {cell} - 1, "
                              f"y div {cell} + 1)")).alias("cy"))
    build = pts.select(F.col("id").alias("bid"),
                       F.col("x").alias("bx"), F.col("y").alias("by"),
                       F.expr(f"x div {cell}").alias("cx"),
                       F.expr(f"y div {cell}").alias("cy"))
    d2 = "(x-bx)*(x-bx) + (y-by)*(y-by)"
    return (probe.join(build, ["cx", "cy"])
            .filter(f"id < bid AND {d2} <= {cell * cell}")
            .agg(F.sum(F.expr(f"CASE WHEN {d2} <= 90000 THEN 1 ELSE 0 END"))
                 .cast("long").alias("k300"),
                 F.sum(F.expr(f"CASE WHEN {d2} <= 360000 THEN 1 ELSE 0 END"))
                 .cast("long").alias("k600"),
                 F.count(F.lit(1)).alias("k1200")))


ORACLE["ripley_k"] = f"""
WITH p AS (
  SELECT event_id AS id, {_ODX} AS x, {_ODY} AS y FROM events
), probe AS (
  SELECT id, x, y, x // 1200 + dx.d AS cx, y // 1200 + dy.d AS cy
  FROM p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
), build AS (
  SELECT id AS bid, x AS bx, y AS by, x // 1200 AS cx, y // 1200 AS cy
  FROM p
), pairs AS (
  SELECT (x-bx)*(x-bx) + (y-by)*(y-by) AS d2
  FROM probe JOIN build USING (cx, cy)
  WHERE id < bid AND (x-bx)*(x-bx) + (y-by)*(y-by) <= 1440000
)
SELECT CAST(SUM(CASE WHEN d2 <= 90000 THEN 1 ELSE 0 END) AS BIGINT)
         AS k300,
       CAST(SUM(CASE WHEN d2 <= 360000 THEN 1 ELSE 0 END) AS BIGINT)
         AS k600,
       CAST(COUNT(*) AS BIGINT) AS k1200
FROM pairs
"""


# --- Knox space-time interaction test (r07 wave I): epidemiology's
# cluster-detection statistic — over the geotagged event stream,
# count unordered event pairs that are close in SPACE (d ≤ 600 m,
# PBSM cell join), close in TIME (Δt ≤ 600 s, the same
# blocked-join pattern in 1-D on Δt-sized buckets — exact under tie
# timestamps, unlike a RANGE-frame count), and close in BOTH (the
# space pair table carries timestamps, so `both` is one more
# predicate on it — no third join). The Knox verdict keeps the
# expected-count comparison integer by cross-multiplication:
# both·total > space·time ⟺ observed > expected. int64 headroom to
# ~3e9 pairs per factor; beyond that the verdict needs a decimal
# widen (documented, not hit at any test SF).
def q_knox_test(spark, sf_dir, eps: int = 600, tau_us: int = 600_000_000):
    pts = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select(F.col("event_id").alias("id"),
                   F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y"),
                   F.expr("unix_micros(cast(ts as timestamp))").alias("us")))
    # space pairs (with timestamps carried for the `both` predicate)
    sp = pts.select(
        "id", "x", "y", "us",
        F.explode(F.expr(f"sequence(x div {eps} - 1, x div {eps} + 1)"))
        .alias("cx")).select(
        "*", F.explode(F.expr(f"sequence(y div {eps} - 1, "
                              f"y div {eps} + 1)")).alias("cy"))
    sb = pts.select(F.col("id").alias("bid"), F.col("x").alias("bx"),
                    F.col("y").alias("by"), F.col("us").alias("bus"),
                    F.expr(f"x div {eps}").alias("cx"),
                    F.expr(f"y div {eps}").alias("cy"))
    spairs = (sp.join(sb, ["cx", "cy"])
              .filter(f"id < bid AND (x-bx)*(x-bx) + (y-by)*(y-by)"
                      f" <= {eps * eps}")
              .select("id", F.expr(f"abs(us - bus) <= {tau_us}")
                      .alias("near_t")))
    s_agg = spairs.agg(
        F.count(F.lit(1)).alias("pairs_space"),
        F.sum(F.when(F.col("near_t"), 1).otherwise(0)).cast("long")
        .alias("pairs_both"))
    # time pairs: 1-D blocked self-join on tau-sized buckets
    tp = pts.select(
        "id", "us",
        F.explode(F.expr(f"sequence(us div {tau_us} - 1, "
                         f"us div {tau_us} + 1)")).alias("tb"))
    tb_ = pts.select(F.col("id").alias("bid"), F.col("us").alias("bus"),
                     F.expr(f"us div {tau_us}").alias("tb"))
    t_agg = (tp.join(tb_, "tb")
             .filter(f"id < bid AND abs(us - bus) <= {tau_us}")
             .agg(F.count(F.lit(1)).alias("pairs_time")))
    n_agg = pts.agg(F.count(F.lit(1)).alias("n_events"))
    return (s_agg.crossJoin(F.broadcast(t_agg))
            .crossJoin(F.broadcast(n_agg))
            .select("n_events", "pairs_space", "pairs_time", "pairs_both",
                    F.expr("n_events * (n_events - 1) div 2")
                    .alias("pairs_total"))
            .withColumn("knox_pos",
                        F.col("pairs_both") * F.col("pairs_total")
                        > F.col("pairs_space") * F.col("pairs_time")))


ORACLE["knox_test"] = f"""
WITH p AS (
  SELECT event_id AS id, {_ODX} AS x, {_ODY} AS y,
         epoch_us(ts) AS us
  FROM events
), sprobe AS (
  SELECT id, x, y, us, x // 600 + dx.d AS cx, y // 600 + dy.d AS cy
  FROM p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
), sbuild AS (
  SELECT id AS bid, x AS bx, y AS by, us AS bus,
         x // 600 AS cx, y // 600 AS cy
  FROM p
), spairs AS (
  SELECT ABS(us - bus) <= 600000000 AS near_t
  FROM sprobe JOIN sbuild USING (cx, cy)
  WHERE id < bid AND (x-bx)*(x-bx) + (y-by)*(y-by) <= 360000
), s_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS pairs_space,
         CAST(SUM(CASE WHEN near_t THEN 1 ELSE 0 END) AS BIGINT)
           AS pairs_both
  FROM spairs
), tprobe AS (
  SELECT id, us, us // 600000000 + dt.d AS tb
  FROM p, (VALUES (-1), (0), (1)) dt(d)
), tbuild AS (
  SELECT id AS bid, us AS bus, us // 600000000 AS tb FROM p
), t_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS pairs_time
  FROM tprobe JOIN tbuild USING (tb)
  WHERE id < bid AND ABS(us - bus) <= 600000000
), n_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM p
)
SELECT n_events, pairs_space, pairs_time, pairs_both,
       n_events * (n_events - 1) // 2 AS pairs_total,
       pairs_both * (n_events * (n_events - 1) // 2)
         > pairs_space * pairs_time AS knox_pos
FROM s_agg CROSS JOIN t_agg CROSS JOIN n_agg
"""


# --- vector→raster line burn (r07 wave J): the rasterization half of
# G9 for LINE geometry (roads/streams burned onto a grid — GDAL's
# gdal_rasterize for linestrings). 400 LCG segments are traced by a
# closed-form integer DDA: with n = max(|dx|, |dy|, 1) steps, the
# t-th cell is p0 + floor((2·t·d + n) / (2·n)) per axis (round-half-
# up linear interpolation — on the major axis this is the exact unit
# step, on the minor axis Bresenham's midpoint rule). floor-vs-trunc
# divergence (Spark `div` truncates, DuckDB `//` floors) is
# neutralized by shifting the numerator positive by 20000·2n before
# the division. The burned cells are aggregated to a 100 m grid and
# reported as a coverage histogram (how many cells are crossed by
# exactly k segments) plus a position checksum — the multi-layer
# burn-count raster in one integer row set. Scale: explode is
# row-local (no shuffle until the cell groupBy); segments partition
# freely; the per-segment fan-out is bounded by segment length.
_SEG_N = 400


def _seg_end(s: str, mul: int, add: int, mod: int) -> str:
    return f"(({s} * {mul} + {add}) % {mod}) % {G.WINDOW}"


def q_raster_line(spark, sf_dir):
    seg = spark.range(_SEG_N).select(
        F.col("id").alias("s"),
        F.expr(_seg_end("id", 48271, 13, 999983)).alias("x0"),
        F.expr(_seg_end("id", 69621, 7, 999979)).alias("y0"),
        F.expr(_seg_end("id", 16807, 3, 999983)).alias("x1"),
        F.expr(_seg_end("id", 65539, 11, 999979)).alias("y1"))
    seg = seg.withColumn(
        "n", F.expr("greatest(abs(x1 - x0), abs(y1 - y0), 1)"))
    cells = (seg
             .select("s", "x0", "y0", "x1", "y1", "n",
                     F.explode(F.expr("sequence(0, n)")).alias("t"))
             .select("s", F.expr(
                 "x0 + (2*t*(x1 - x0) + n + 40000*n) div (2*n) - 20000")
                 .alias("x"),
                 F.expr(
                 "y0 + (2*t*(y1 - y0) + n + 40000*n) div (2*n) - 20000")
                 .alias("y"))
             .select("s", F.expr("x div 100").alias("gx"),
                     F.expr("y div 100").alias("gy"))
             .distinct())
    cov = (cells.groupBy("gx", "gy")
           .agg(F.count(F.lit(1)).alias("coverage")))
    return (cov.groupBy("coverage")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum(F.col("gx") * 31 + F.col("gy")).alias("checksum")))


ORACLE["raster_line"] = f"""
WITH seg AS (
  SELECT s, {_seg_end('s', 48271, 13, 999983)} AS x0,
         {_seg_end('s', 69621, 7, 999979)} AS y0,
         {_seg_end('s', 16807, 3, 999983)} AS x1,
         {_seg_end('s', 65539, 11, 999979)} AS y1
  FROM range({_SEG_N}) t(s)
), sn AS (
  SELECT *, GREATEST(ABS(x1 - x0), ABS(y1 - y0), 1) AS n FROM seg
), cells AS (
  SELECT DISTINCT s,
    (x0 + (2*t*(x1 - x0) + n + 40000*n) // (2*n) - 20000) // 100 AS gx,
    (y0 + (2*t*(y1 - y0) + n + 40000*n) // (2*n) - 20000) // 100 AS gy
  FROM sn, LATERAL (SELECT UNNEST(range(n + 1)) AS t) u
), cov AS (
  SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS coverage
  FROM cells GROUP BY 1, 2
)
SELECT coverage, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(gx * 31 + gy) AS BIGINT) AS checksum
FROM cov GROUP BY 1
"""


# --- topographic position index (r07 wave J): Weiss's landform
# classifier over the closed-form DEM — TPI = centre − mean(8
# neighbors), kept integer as tpi8 = 8·v − Σ neighbors (no division
# ever happens); interior cells classify ridge (tpi8 > 800), valley
# (< −800), flat otherwise, aggregated per 25×25 block with the
# exact tpi8 sum. Engine = the flow_d8 scatter shape: every cell
# scatters its value to its 8 neighbors (row-local explode), ONE
# groupBy sums them, ONE equi join brings the centre back — two
# shuffles on the same (cx, cy) key, pure JVM. The oracle gathers
# instead: all 8 neighbor values re-derived from the closed form.
def q_tpi_class(spark, sf_dir, thresh: int = 800):
    r = raster_df(spark)
    offs = ",".join(f"struct({dx} as dx, {dy} as dy)"
                    for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                    if (dx, dy) != (0, 0))
    scat = (r.select("cx", "cy", "v",
                     F.explode(F.expr(f"array({offs})")).alias("o"))
            .select((F.col("cx") + F.col("o.dx")).alias("tx"),
                    (F.col("cy") + F.col("o.dy")).alias("ty"), "v"))
    nb = (scat.filter(f"tx BETWEEN 1 AND {_RN - 2} "
                      f"AND ty BETWEEN 1 AND {_RN - 2}")
          .groupBy("tx", "ty").agg(F.sum("v").alias("s8")))
    tpi = (r.filter(f"cx BETWEEN 1 AND {_RN - 2} "
                    f"AND cy BETWEEN 1 AND {_RN - 2}")
           .join(nb, (F.col("cx") == F.col("tx"))
                 & (F.col("cy") == F.col("ty")))
           .select("cx", "cy", (8 * F.col("v") - F.col("s8"))
                   .alias("tpi8")))
    return (tpi.groupBy(F.expr("cx div 25").alias("bx"),
                        F.expr("cy div 25").alias("by"))
            .agg(F.count(F.lit(1)).alias("n_interior"),
                 F.sum("tpi8").alias("sum_tpi8"),
                 F.sum(F.when(F.col("tpi8") > thresh, 1).otherwise(0))
                 .cast("long").alias("n_ridge"),
                 F.sum(F.when(F.col("tpi8") < -thresh, 1).otherwise(0))
                 .cast("long").alias("n_valley")))


ORACLE["tpi_class"] = f"""
WITH t AS (
  SELECT cx, cy,
         8 * ({_rval('cx', 'cy')})
         - ({_rval('(cx-1)', '(cy-1)')}) - ({_rval('cx', '(cy-1)')})
         - ({_rval('(cx+1)', '(cy-1)')}) - ({_rval('(cx-1)', 'cy')})
         - ({_rval('(cx+1)', 'cy')}) - ({_rval('(cx-1)', '(cy+1)')})
         - ({_rval('cx', '(cy+1)')}) - ({_rval('(cx+1)', '(cy+1)')})
           AS tpi8
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
  WHERE cx BETWEEN 1 AND {_RN - 2} AND cy BETWEEN 1 AND {_RN - 2}
)
SELECT cx // 25 AS bx, cy // 25 AS by,
       CAST(COUNT(*) AS BIGINT) AS n_interior,
       CAST(SUM(tpi8) AS BIGINT) AS sum_tpi8,
       CAST(SUM(CASE WHEN tpi8 > 800 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ridge,
       CAST(SUM(CASE WHEN tpi8 < -800 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valley
FROM t GROUP BY 1, 2
"""


# --- Getis–Ord Gi* hotspot screen (r07 wave K): local spatial
# autocorrelation over the 500 m event-count grid, COMPLETE spine
# (zero-count cells are real observations — Gi* is biased without
# them). Per cell: its 3×3 neighborhood event sum (edge-clipped, so
# n_nb ∈ {4, 6, 9}), and the hot/cold verdict kept integer by
# cross-multiplication — N·local_sum vs n_nb·total (⟺ local mean vs
# global mean, no division). The z-score's √ never enters; ranking
# by hot_num is monotone in it for fixed n_nb. Engine: counts →
# LEFT join onto the distributed spine (spark.range, never
# collected) → 9-offset scatter → groupBy; the oracle gathers via a
# LATERAL offset join. Scale: the spine is N cells, the scatter 9N
# rows — both linear, shuffles on the same (gx, gy) key.
_GI_CELL = 500
_GI_N = G.WINDOW // _GI_CELL      # 40 cells per axis


def q_getis_hotspot(spark, sf_dir):
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.expr(f"({_ODX}) div {_GI_CELL}").alias("gx"),
                  F.expr(f"({_ODY}) div {_GI_CELL}").alias("gy")))
    counts = ev.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("x"))
    spine = (spark.range(_GI_N * _GI_N)
             .select((F.col("id") % _GI_N).alias("gx"),
                     (F.col("id") / _GI_N).cast("long").alias("gy")))
    grid = (spine.join(counts, ["gx", "gy"], "left")
            .select("gx", "gy", F.coalesce("x", F.lit(0)).alias("x")))
    offs = ",".join(f"struct({dx} as dx, {dy} as dy)"
                    for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    scat = (grid.select("x", F.explode(F.expr(f"array({offs})")).alias("o"),
                        (F.col("gx") + F.col("o.dx")).alias("tx"),
                        (F.col("gy") + F.col("o.dy")).alias("ty"))
            .filter(f"tx BETWEEN 0 AND {_GI_N - 1} "
                    f"AND ty BETWEEN 0 AND {_GI_N - 1}"))
    local = (scat.groupBy("tx", "ty")
             .agg(F.sum("x").alias("local_sum"),
                  F.count(F.lit(1)).alias("n_nb")))
    tot = grid.agg(F.sum("x").alias("total"),
                   F.count(F.lit(1)).alias("n_cells"))
    return (local.crossJoin(F.broadcast(tot))
            .select(F.col("tx").alias("gx"), F.col("ty").alias("gy"),
                    "local_sum", "n_nb",
                    (F.col("n_cells") * F.col("local_sum")
                     - F.col("n_nb") * F.col("total")).alias("hot_num"))
            .withColumn("is_hot", F.col("hot_num") > 0))


ORACLE["getis_hotspot"] = f"""
WITH ev AS (
  SELECT ({_ODX}) // {_GI_CELL} AS gx, ({_ODY}) // {_GI_CELL} AS gy
  FROM events
), counts AS (
  SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1, 2
), spine AS (
  SELECT i % {_GI_N} AS gx, i // {_GI_N} AS gy
  FROM range({_GI_N * _GI_N}) t(i)
), grid AS (
  SELECT s.gx, s.gy, COALESCE(c.x, 0) AS x
  FROM spine s LEFT JOIN counts c USING (gx, gy)
), local AS (
  SELECT g.gx + o.dx AS gx, g.gy + o.dy AS gy,
         CAST(SUM(g.x) AS BIGINT) AS local_sum,
         CAST(COUNT(*) AS BIGINT) AS n_nb
  FROM grid g, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                       (1,-1),(1,0),(1,1)) o(dx, dy)
  WHERE g.gx + o.dx BETWEEN 0 AND {_GI_N - 1}
    AND g.gy + o.dy BETWEEN 0 AND {_GI_N - 1}
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM grid
)
SELECT l.gx, l.gy, l.local_sum, l.n_nb,
       t.n_cells * l.local_sum - l.n_nb * t.total AS hot_num,
       t.n_cells * l.local_sum - l.n_nb * t.total > 0 AS is_hot
FROM local l CROSS JOIN tot t
"""


# --- burst detection (r07 wave K): Kleinberg-lite activity bursts —
# per event, how many events the SAME user fired in the forward
# window [t, t + 1 h]; per user, the peak burst and WHERE it peaked
# (smallest event_id on ties — a deterministic argmax). The 1-D
# blocked self-join pattern again (τ-sized buckets, forward cover =
# home + next bucket), keyed by (user, bucket) so a user's stream
# never leaves its partition chain; exact under tie timestamps where
# a RANGE frame would double-count. At 100 TB skewed users fall out
# as skewed (user, bucket) keys — AQE skew-split handles them, and τ
# bounds the per-bucket fan-out.
_BURST_US = 3_600_000_000


def q_burst_detect(spark, sf_dir):
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.col("event_id").alias("id"), "user_id",
                  F.expr("unix_micros(cast(ts as timestamp))").alias("us")))
    probe = ev.select(
        "id", "user_id", "us",
        F.explode(F.expr(f"sequence(us div {_BURST_US}, "
                         f"us div {_BURST_US} + 1)")).alias("tb"))
    build = ev.select(F.col("user_id").alias("bu"),
                      F.col("us").alias("bus"),
                      F.expr(f"us div {_BURST_US}").alias("tb"))
    per_event = (probe.join(build, (F.col("user_id") == F.col("bu"))
                            & (probe.tb == build.tb))
                 .filter(f"bus >= us AND bus <= us + {_BURST_US}")
                 .groupBy("id", "user_id")
                 .agg(F.count(F.lit(1)).alias("burst")))
    return (per_event.groupBy("user_id")
            .agg(F.max(F.struct(F.col("burst"),
                                (-F.col("id")).alias("nid"))).alias("m"))
            .select("user_id", F.col("m.burst").alias("max_burst"),
                    (-F.col("m.nid")).alias("at_event")))


ORACLE["burst_detect"] = f"""
WITH ev AS (
  SELECT event_id AS id, user_id, epoch_us(ts) AS us FROM events
), probe AS (
  SELECT id, user_id, us, us // {_BURST_US} + d.d AS tb
  FROM ev, (VALUES (0), (1)) d(d)
), build AS (
  SELECT user_id AS bu, us AS bus, us // {_BURST_US} AS tb FROM ev
), per_event AS (
  SELECT id, user_id, CAST(COUNT(*) AS BIGINT) AS burst
  FROM probe JOIN build ON user_id = bu AND probe.tb = build.tb
  WHERE bus >= us AND bus <= us + {_BURST_US}
  GROUP BY 1, 2
), r AS (
  SELECT user_id, burst, id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY burst DESC, id) AS rn
  FROM per_event
)
SELECT user_id, burst AS max_burst, id AS at_event FROM r WHERE rn = 1
"""


# --- STR bulk-load packing (r07 wave L): Sort-Tile-Recursive — the
# classic R-tree bulk-loading partitioner (Leutenegger et al.), HERE
# as the balanced spatial-partition assignment this engine would use
# to lay out a layer's features into equal-count leaves before a
# co-located spatial join. Per event layer (event_type): rank by
# (x, id), cut into 8 x-slabs of equal count (slab = (rx−1)·8 div
# n), re-rank by (y, id) within each slab, cut into 8 leaves —
# 64 leaves per layer with |count difference| ≤ 1 guaranteed. Emits
# each leaf's count and exact bbox (the R-tree node MBRs). Windows
# are PARTITIONED (by layer, then by layer+slab) — no global sort;
# at 100 TB the same two-pass shape runs on repartitionByRange's
# sampled cuts instead of exact ranks (documented divergence: exact
# ranks here keep the oracle deterministic).
def q_str_pack(spark, sf_dir, s: int = 8):
    pts = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select(F.col("event_type").alias("layer"),
                   F.col("event_id").alias("id"),
                   F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y")))
    wl = W.partitionBy("layer")
    r1 = (pts.withColumn("rx", F.row_number().over(
              wl.orderBy("x", "id")))
          .withColumn("n", F.count(F.lit(1)).over(wl))
          .withColumn("slab", F.expr(f"(rx - 1) * {s} div n")))
    ws = W.partitionBy("layer", "slab")
    r2 = (r1.withColumn("ry", F.row_number().over(
              ws.orderBy("y", "id")))
          .withColumn("ns", F.count(F.lit(1)).over(ws))
          .withColumn("leaf", F.expr(f"(ry - 1) * {s} div ns")))
    return (r2.groupBy("layer", "slab", "leaf")
            .agg(F.count(F.lit(1)).alias("n_pts"),
                 F.min("x").alias("x_lo"), F.max("x").alias("x_hi"),
                 F.min("y").alias("y_lo"), F.max("y").alias("y_hi")))


ORACLE["str_pack"] = f"""
WITH p AS (
  SELECT event_type AS layer, event_id AS id,
         {_ODX} AS x, {_ODY} AS y
  FROM events
), r1 AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY layer ORDER BY x, id) AS rx,
    COUNT(*) OVER (PARTITION BY layer) AS n
  FROM p
), s1 AS (
  SELECT *, (rx - 1) * 8 // n AS slab FROM r1
), r2 AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY layer, slab ORDER BY y, id) AS ry,
    COUNT(*) OVER (PARTITION BY layer, slab) AS ns
  FROM s1
)
SELECT layer, slab, (ry - 1) * 8 // ns AS leaf,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       MIN(x) AS x_lo, MAX(x) AS x_hi, MIN(y) AS y_lo, MAX(y) AS y_hi
FROM r2 GROUP BY 1, 2, 3
"""


# --- raster map algebra (r07 wave L): the two-band raster calculator
# (NDVI's normalized difference, gdal_calc shape) over band A (the
# standard closed-form DEM value) and band B (an independent Lehmer
# plane) — SAME scan, both bands are per-cell expressions, so the
# whole calculator is embarrassingly parallel with zero joins; the
# only shuffle is the 25×25 block rollup. The ratio test (a−b)/(a+b)
# > 1/5 is kept integer by cross-multiplication (5(a−b) > a+b; the
# s = 0 cell degenerates to 'mid' in both engines), per block the
# class histogram and the exact Σ(a−b).
_RVAL_B = "((cx * 40503 + cy * 2654435761 + 11) % 4294967291) % 1000"


def q_map_algebra(spark, sf_dir):
    r = raster_df(spark).withColumn("b", F.expr(_RVAL_B))
    cls = r.select(
        F.expr("cx div 25").alias("bx"), F.expr("cy div 25").alias("by"),
        (F.col("v") - F.col("b")).alias("d"),
        (F.col("v") + F.col("b")).alias("sm"))
    return (cls.groupBy("bx", "by")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("d").alias("sum_d"),
                 F.sum(F.when(5 * F.col("d") > F.col("sm"), 1)
                       .otherwise(0)).cast("long").alias("n_high"),
                 F.sum(F.when(5 * F.col("d") < -F.col("sm"), 1)
                       .otherwise(0)).cast("long").alias("n_low")))


ORACLE["map_algebra"] = f"""
WITH r AS (
  SELECT cx // 25 AS bx, cy // 25 AS by,
         ({_rval('cx', 'cy')}) - ({_RVAL_B}) AS d,
         ({_rval('cx', 'cy')}) + ({_RVAL_B}) AS sm
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
)
SELECT bx, by, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(d) AS BIGINT) AS sum_d,
       CAST(SUM(CASE WHEN 5 * d > sm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       CAST(SUM(CASE WHEN 5 * d < -sm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low
FROM r GROUP BY 1, 2
"""


# --- local Moran's I (r07 wave O): Anselin's LISA — the
# deviation-product cousin of the Getis screen: over the same
# complete 500 m grid, dev_i = n·x_i − S (the n-scaled deviation, so
# no mean ever divides), nb_sum_i = Σ_{j∈3×3\\i} dev_j, the local
# numerator I_num = dev_i·nb_sum_i, and the Moran quadrant
# (HH/LL/HL/LH by the sign pair — the cluster/outlier taxonomy).
# Same scatter shape as Getis; the only extra is that the scattered
# value is the scaled deviation, which needs the 1-row total first
# (broadcast), keeping everything one scan + one scatter groupBy.
def q_local_moran(spark, sf_dir):
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.expr(f"({_ODX}) div {_GI_CELL}").alias("gx"),
                  F.expr(f"({_ODY}) div {_GI_CELL}").alias("gy")))
    counts = ev.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("x"))
    spine = (spark.range(_GI_N * _GI_N)
             .select((F.col("id") % _GI_N).alias("gx"),
                     (F.col("id") / _GI_N).cast("long").alias("gy")))
    grid = (spine.join(counts, ["gx", "gy"], "left")
            .select("gx", "gy", F.coalesce("x", F.lit(0)).alias("x")))
    tot = grid.agg(F.sum("x").alias("s"),
                   F.count(F.lit(1)).alias("n"))
    dev = (grid.crossJoin(F.broadcast(tot))
           .select("gx", "gy",
                   (F.col("n") * F.col("x") - F.col("s")).alias("dev")))
    offs = ",".join(f"struct({dx} as dx, {dy} as dy)"
                    for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                    if (dx, dy) != (0, 0))
    scat = (dev.select("dev",
                       F.explode(F.expr(f"array({offs})")).alias("o"),
                       (F.col("gx") + F.col("o.dx")).alias("tx"),
                       (F.col("gy") + F.col("o.dy")).alias("ty"))
            .filter(f"tx BETWEEN 0 AND {_GI_N - 1} "
                    f"AND ty BETWEEN 0 AND {_GI_N - 1}"))
    nb = (scat.groupBy("tx", "ty")
          .agg(F.sum("dev").alias("nb_sum")))
    return (dev.join(nb, (F.col("gx") == F.col("tx"))
                     & (F.col("gy") == F.col("ty")))
            .select("gx", "gy", "dev", "nb_sum",
                    (F.col("dev") * F.col("nb_sum")).alias("i_num"),
                    F.when((F.col("dev") >= 0) & (F.col("nb_sum") >= 0),
                           F.lit("HH"))
                    .when((F.col("dev") < 0) & (F.col("nb_sum") < 0),
                          F.lit("LL"))
                    .when(F.col("dev") >= 0, F.lit("HL"))
                    .otherwise(F.lit("LH")).alias("quad")))


ORACLE["local_moran"] = f"""
WITH ev AS (
  SELECT ({_ODX}) // {_GI_CELL} AS gx, ({_ODY}) // {_GI_CELL} AS gy
  FROM events
), counts AS (
  SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS x FROM ev GROUP BY 1, 2
), spine AS (
  SELECT i % {_GI_N} AS gx, i // {_GI_N} AS gy
  FROM range({_GI_N * _GI_N}) t(i)
), grid AS (
  SELECT s.gx, s.gy, COALESCE(c.x, 0) AS x
  FROM spine s LEFT JOIN counts c USING (gx, gy)
), tot AS (
  SELECT CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM grid
), dev AS (
  SELECT gx, gy, t.n * x - t.s AS dev FROM grid CROSS JOIN tot t
), nb AS (
  SELECT d.gx + o.dx AS gx, d.gy + o.dy AS gy,
         CAST(SUM(d.dev) AS BIGINT) AS nb_sum
  FROM dev d, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                      (1,-1),(1,0),(1,1)) o(dx, dy)
  WHERE d.gx + o.dx BETWEEN 0 AND {_GI_N - 1}
    AND d.gy + o.dy BETWEEN 0 AND {_GI_N - 1}
  GROUP BY 1, 2
)
SELECT d.gx, d.gy, d.dev, n.nb_sum, d.dev * n.nb_sum AS i_num,
       CASE WHEN d.dev >= 0 AND n.nb_sum >= 0 THEN 'HH'
            WHEN d.dev < 0 AND n.nb_sum < 0 THEN 'LL'
            WHEN d.dev >= 0 THEN 'HL' ELSE 'LH' END AS quad
FROM dev d JOIN nb n USING (gx, gy)
"""


# --- terrain elevation profile (r07 wave P): the "profile graph"
# tool of every GIS — sample the closed-form DEM along each of 200
# LCG transects using the SAME closed-form integer DDA as
# raster_line (round-half-up midpoint, floor-vs-trunc neutralized by
# the positive shift), one sample per DDA step at the 25 m raster
# pitch, and per transect report the sample count, elevation sum /
# peak, and WHERE the peak first occurs (deterministic argmax:
# smallest step t on ties, via a (v, −t) struct max). Row-local
# explode + one groupBy — the raster itself is never materialized,
# in either engine.
_PROF_N = 200


def q_terrain_profile(spark, sf_dir):
    seg = spark.range(_PROF_N).select(
        F.col("id").alias("s"),
        F.expr(_seg_end("id", 48271, 13, 999983)).alias("x0"),
        F.expr(_seg_end("id", 69621, 7, 999979)).alias("y0"),
        F.expr(_seg_end("id", 16807, 3, 999983)).alias("x1"),
        F.expr(_seg_end("id", 65539, 11, 999979)).alias("y1"))
    seg = seg.withColumn(
        "n", F.expr("greatest(abs(x1 - x0), abs(y1 - y0), 1)"))
    samp = (seg
            .select("s", "x0", "y0", "x1", "y1", "n",
                    F.explode(F.expr("sequence(0, n)")).alias("t"))
            .select("s", "t", F.expr(
                "(x0 + (2*t*(x1 - x0) + n + 40000*n) div (2*n) - 20000)"
                " div 25").alias("cx"),
                F.expr(
                "(y0 + (2*t*(y1 - y0) + n + 40000*n) div (2*n) - 20000)"
                " div 25").alias("cy"))
            .withColumn("v", F.expr(_RVAL)))
    return (samp.groupBy("s")
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.sum("v").alias("sum_v"),
                 F.max(F.struct(F.col("v"), (-F.col("t")).alias("nt")))
                 .alias("m"))
            .select("s", "n_samples", "sum_v",
                    F.col("m.v").alias("peak_v"),
                    (-F.col("m.nt")).alias("peak_t")))


ORACLE["terrain_profile"] = f"""
WITH seg AS (
  SELECT s, {_seg_end('s', 48271, 13, 999983)} AS x0,
         {_seg_end('s', 69621, 7, 999979)} AS y0,
         {_seg_end('s', 16807, 3, 999983)} AS x1,
         {_seg_end('s', 65539, 11, 999979)} AS y1
  FROM range({_PROF_N}) t(s)
), sn AS (
  SELECT *, GREATEST(ABS(x1 - x0), ABS(y1 - y0), 1) AS n FROM seg
), samp AS (
  SELECT s, t,
    (x0 + (2*t*(x1 - x0) + n + 40000*n) // (2*n) - 20000) // 25 AS cx,
    (y0 + (2*t*(y1 - y0) + n + 40000*n) // (2*n) - 20000) // 25 AS cy
  FROM sn, LATERAL (SELECT UNNEST(range(n + 1)) AS t) u
), v AS (
  SELECT s, t, {_rval('cx', 'cy')} AS v FROM samp
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY s
                               ORDER BY v DESC, t) AS rn
  FROM v
)
SELECT s, CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MAX(CASE WHEN rn = 1 THEN v END) AS BIGINT) AS peak_v,
       CAST(MAX(CASE WHEN rn = 1 THEN t END) AS BIGINT) AS peak_t
FROM rk GROUP BY 1
"""


# --- distance-band ring profile (r07 wave R): the "what surrounds
# this POI" site report — events banded into 500 m Chebyshev rings
# around the window centre (ring = max(|Δx|, |Δy|) div 500 — the
# square-grid analogue of H3's k-rings, chosen because the band
# assignment is pure integer arithmetic in BOTH engines), capped at
# ring 20 for the tail. Per ring: event count, EXACT distinct
# users, and the value mass. One scan, one groupBy — the profile a
# geomarketing query runs per candidate site; at 100 TB the POI set
# broadcasts and this becomes one more grouping key.
def q_ring_profile(spark, sf_dir):
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("user_id", "value",
                  F.expr(f"least(greatest(abs(({_ODX}) - 10000), "
                         f"abs(({_ODY}) - 10000)) div 500, 20)")
                  .alias("ring")))
    return (ev.groupBy("ring")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


ORACLE["ring_profile"] = f"""
SELECT LEAST(GREATEST(ABS(({_ODX}) - 10000),
                      ABS(({_ODY}) - 10000)) // 500, 20) AS ring,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1
"""


# --- space-time cube (r07 wave R): the ESRI-style st-cube rollup —
# 4 km tile × day counts, then per tile the active-day count, the
# total, and the PEAK day (deterministic argmax: max count, ties →
# earliest day). Day index is exact integer day arithmetic from the
# 2024-01-01 epoch (UTC session; no engine week/tz conventions).
# Two groupBys on nested keys + one struct argmax.
def q_st_cube(spark, sf_dir):
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.expr(f"({_ODX}) div 4000").alias("gx"),
                  F.expr(f"({_ODY}) div 4000").alias("gy"),
                  F.expr("datediff(to_date(ts), date'2024-01-01')")
                  .alias("day")))
    cube = (ev.groupBy("gx", "gy", "day")
            .agg(F.count(F.lit(1)).alias("n")))
    return (cube.groupBy("gx", "gy")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum("n").alias("n_total"),
                 F.max(F.struct(F.col("n"), (-F.col("day")).alias("nd")))
                 .alias("m"))
            .select("gx", "gy", "n_days", "n_total",
                    F.col("m.n").alias("peak_n"),
                    (-F.col("m.nd")).alias("peak_day")))


ORACLE["st_cube"] = f"""
WITH cube AS (
  SELECT ({_ODX}) // 4000 AS gx, ({_ODY}) // 4000 AS gy,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY gx, gy
                               ORDER BY n DESC, day) AS rn
  FROM cube
)
SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(MAX(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS peak_n,
       CAST(MAX(CASE WHEN rn = 1 THEN day END) AS BIGINT) AS peak_day
FROM rk GROUP BY 1, 2
"""


# --- slope aspect classification (r07 wave S): the compass-facing
# raster every solar/viewshed study derives — central-difference
# gradient (gx, gy) per interior DEM cell, aspect class from the
# SIGN pair plus the dominant axis (8 classes: E/NE/N/NW/W/SW/S/SE
# by (sign gx, sign gy, |gx| vs |gy|) — no atan2 ever runs), flat
# where both gradients are zero; per 25×25 block the class
# histogram as 9 count columns. Pure-JVM expressions over the
# closed-form raster; one block groupBy.
def q_aspect_class(spark, sf_dir):
    r = raster_df(spark)
    g = (r.filter(f"cx BETWEEN 1 AND {_RN - 2} "
                  f"AND cy BETWEEN 1 AND {_RN - 2}")
         .select("cx", "cy",
                 F.expr(f"({_rval('(cx + 1)', 'cy')})"
                        f" - ({_rval('(cx - 1)', 'cy')})").alias("gx"),
                 F.expr(f"({_rval('cx', '(cy + 1)')})"
                        f" - ({_rval('cx', '(cy - 1)')})").alias("gy")))
    cls = g.withColumn("asp", F.expr(
        "CASE WHEN gx = 0 AND gy = 0 THEN 'flat' "
        "WHEN abs(gx) >= abs(gy) AND gx > 0 THEN 'E' "
        "WHEN abs(gx) >= abs(gy) AND gx < 0 THEN 'W' "
        "WHEN gy > 0 THEN 'N' ELSE 'S' END"))
    return (cls.groupBy(F.expr("cx div 25").alias("bx"),
                        F.expr("cy div 25").alias("by"))
            .pivot("asp", ["E", "W", "N", "S", "flat"])
            .count()
            .select("bx", "by",
                    F.coalesce("E", F.lit(0)).alias("n_e"),
                    F.coalesce("W", F.lit(0)).alias("n_w"),
                    F.coalesce("N", F.lit(0)).alias("n_n"),
                    F.coalesce("S", F.lit(0)).alias("n_s"),
                    F.coalesce("flat", F.lit(0)).alias("n_flat")))


ORACLE["aspect_class"] = f"""
WITH g AS (
  SELECT cx, cy,
         ({_rval('(cx + 1)', 'cy')}) - ({_rval('(cx - 1)', 'cy')}) AS gx,
         ({_rval('cx', '(cy + 1)')}) - ({_rval('cx', '(cy - 1)')}) AS gy
  FROM range({_RN}) t1(cx), range({_RN}) t2(cy)
  WHERE cx BETWEEN 1 AND {_RN - 2} AND cy BETWEEN 1 AND {_RN - 2}
)
SELECT cx // 25 AS bx, cy // 25 AS by,
       CAST(SUM(CASE WHEN NOT (gx = 0 AND gy = 0)
                     AND ABS(gx) >= ABS(gy) AND gx > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_e,
       CAST(SUM(CASE WHEN NOT (gx = 0 AND gy = 0)
                     AND ABS(gx) >= ABS(gy) AND gx < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_w,
       CAST(SUM(CASE WHEN NOT (gx = 0 AND gy = 0)
                     AND ABS(gx) < ABS(gy) AND gy > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_n,
       CAST(SUM(CASE WHEN NOT (gx = 0 AND gy = 0)
                     AND ABS(gx) < ABS(gy) AND gy <= 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_s,
       CAST(SUM(CASE WHEN gx = 0 AND gy = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flat
FROM g GROUP BY 1, 2
"""


# --- geofence visit summary (r07 wave V): the BATCH rollup next to
# the streaming transition alerts — pings inside each (buffered)
# fence rectangle, summarized per fence: ping count, EXACT distinct
# visitors, and the visit span in seconds (max − min event time).
# Engine: the fence subset broadcasts (it is 1/97 of the rect
# layer), ONE range-predicate join — at 100 TB this is the
# broadcast leg of the same cell-join family as range_near, with
# the cell index taking over when the fence set outgrows an
# executor (documented on streaming/geofence.py).
def q_fence_visits(spark, sf_dir, buffer: int = 500):
    fences = (rects_df(spark, sf_dir).drop("geom")
              .filter(F.col("fid") % 97 == 0)
              .select("fid",
                      (F.col("rxmin") - buffer).alias("x0"),
                      (F.col("rxmax") + buffer).alias("x1"),
                      (F.col("rymin") - buffer).alias("y0"),
                      (F.col("rymax") + buffer).alias("y1")))
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("user_id",
                  F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
                  F.expr(_ODX).alias("x"), F.expr(_ODY).alias("y")))
    hits = ev.join(F.broadcast(fences),
                   (F.col("x") >= F.col("x0")) & (F.col("x") <= F.col("x1"))
                   & (F.col("y") >= F.col("y0"))
                   & (F.col("y") <= F.col("y1")))
    return (hits.groupBy("fid")
            .agg(F.count(F.lit(1)).alias("n_pings"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.expr("(max(us) - min(us)) div 1000000")
                 .alias("span_sec")))


def _fence_visits_oracle() -> str:
    rects = _RECTS_SQL
    return f"""
WITH f AS (
  SELECT fid, rxmin - 500 AS x0, rxmax + 500 AS x1,
         rymin - 500 AS y0, rymax + 500 AS y1
  FROM ({rects}) WHERE fid % 97 = 0
), p AS (
  SELECT user_id, epoch_us(ts) AS us, {_ODX} AS x, {_ODY} AS y
  FROM events
)
SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_pings,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       (MAX(us) - MIN(us)) // 1000000 AS span_sec
FROM p JOIN f ON x >= x0 AND x <= x1 AND y >= y0 AND y <= y1
GROUP BY 1
"""


ORACLE["fence_visits"] = _fence_visits_oracle()


# --- tile change detection (r07 wave Y): period-over-period
# activity shift per 2 km tile — event counts in the first vs
# second half of the observation month (day < 15 vs ≥ 15), with the
# growth verdict kept integer by cross-multiplying against the
# global half totals (n2·T1 > n1·T2 ⟺ the tile's share grew).
# The monitoring query behind "which regions lit up this period";
# one scan, one tile groupBy, one broadcast of the 1-row totals.
def q_tile_change(spark, sf_dir):
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.expr(f"({_ODX}) div 2000").alias("gx"),
                  F.expr(f"({_ODY}) div 2000").alias("gy"),
                  F.expr("datediff(to_date(ts), date'2024-01-01') >= 15")
                  .alias("h2")))
    per_tile = (ev.groupBy("gx", "gy")
                .agg(F.sum(F.when(F.col("h2"), 0).otherwise(1))
                     .cast("long").alias("n1"),
                     F.sum(F.when(F.col("h2"), 1).otherwise(0))
                     .cast("long").alias("n2")))
    tot = per_tile.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    return (per_tile.crossJoin(F.broadcast(tot))
            .select("gx", "gy", "n1", "n2",
                    (F.col("n2") * F.col("t1")
                     - F.col("n1") * F.col("t2")).alias("shift_num"))
            .withColumn("grew", F.col("shift_num") > 0))


ORACLE["tile_change"] = f"""
WITH ev AS (
  SELECT ({_ODX}) // 2000 AS gx, ({_ODY}) // 2000 AS gy,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
           AS h2
  FROM events
), per_tile AS (
  SELECT gx, gy,
         CAST(SUM(CASE WHEN h2 THEN 0 ELSE 1 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN h2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM ev GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
  FROM per_tile
)
SELECT gx, gy, n1, n2,
       n2 * t.t1 - n1 * t.t2 AS shift_num,
       n2 * t.t1 - n1 * t.t2 > 0 AS grew
FROM per_tile CROSS JOIN tot t
"""
