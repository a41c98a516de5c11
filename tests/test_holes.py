"""Polygon holes (interior rings): st_area/st_distance/st_intersection
semantics for multi-ring features across the packed kernel, both
engine paths, the serial oracle, and shapefile ingestion. Points in a
hole are OUTSIDE (positive distance), hole area never counts."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.geo import kernels as K
from extract_sf_r_parallel_spark.operators.areadist import areadist_join
from extract_sf_r_parallel_spark.operators.areadist_fused import areadist_fused
from extract_sf_r_parallel_spark.oracle import areadist_oracle
from extract_sf_r_parallel_spark.sources import shapefile as SHP

from .conftest import LAYER_SCHEMA, PTS_SCHEMA

def _donut(ox, oy, size=40.0, hole=20.0):
    o2, h2 = size / 2, hole / 2
    c = np.array([ox, oy])
    outer = np.array([[-o2, -o2], [o2, -o2], [o2, o2], [-o2, o2],
                      [-o2, -o2]]) + c
    inner = np.array([[-h2, -h2], [h2, -h2], [h2, h2], [-h2, h2],
                      [-h2, -h2]]) + c
    return [outer.ravel().tolist(), inner.ravel().tolist()]


@pytest.fixture(scope="module")
def donut_frames():
    rows, pts = [], []
    for i in range(16):
        ox = synth.X_LO + 300.0 + (i % 4) * 3000.0
        oy = synth.Y_LO + 300.0 + (i // 4) * 3000.0
        rows.append({"feature_id": i, "layer": "donuts",
                     "YEAR": 2000 + i % 5, "geom": _donut(ox, oy),
                     "is_valid_truth": True})
        # one probe at the donut centre (in the hole), one in the ring
        pts.append((f"h{i}", str(i), 2015, ox, oy))
        pts.append((f"r{i}", str(i), 2015, ox + 15.0, oy))
    layer = pd.DataFrame(rows)
    points = pd.DataFrame(pts, columns=["PKEY", "SS", "YEAR", "x", "y"])
    return points, layer


def test_holes_through_both_paths_and_oracle(spark, donut_frames):
    points, layer = donut_frames
    pts = spark.createDataFrame(points, PTS_SCHEMA)
    pls = spark.createDataFrame(layer, LAYER_SCHEMA)
    want = areadist_oracle(points, layer)
    fused = areadist_fused(pts, pls).toPandas()
    join = areadist_join(pts, pls).toPandas()
    for got in (fused, join):
        g = got.sort_values("PKEY").reset_index(drop=True)
        w = want.sort_values("PKEY").reset_index(drop=True)
        for c in ("NEAR_DIST", "AREA150", "AREA565", "MEANAGE_150"):
            np.testing.assert_allclose(
                g[c].to_numpy(float), w[c].to_numpy(float),
                rtol=1e-9, atol=1e-9, equal_nan=True, err_msg=c)
        gi = g.set_index("PKEY")
        # hole-centre probes: OUTSIDE the donut → distance to the hole
        # edge (10 m), never 0
        for i in range(16):
            assert gi.loc[f"h{i}", "NEAR_DIST"] == pytest.approx(10.0)
            assert gi.loc[f"r{i}", "NEAR_DIST"] == 0.0
        # full containment at r=150: area = 40² − 20² = 1200 per donut
        assert gi.loc["r0", "AREA150"] == pytest.approx(1200.0, abs=1e-8)


def test_holes_survive_shapefile_roundtrip(spark, donut_frames, tmp_path):
    points, layer = donut_frames
    geoms = [[np.asarray(p, np.float64).reshape(-1, 2) for p in g]
             for g in layer["geom"]]
    attrs = pd.DataFrame({"FID": layer["feature_id"],
                          "YEAR": layer["YEAR"]})
    base = str(tmp_path / "donuts")
    SHP.write_shapefile(base, geoms, attrs, SHP.SHAPE_POLYGON)
    df = SHP.read_shapefiles_df(
        spark, base + ".*", [("FID", T.LongType()), ("YEAR", T.IntegerType())])
    back = df.select(
        df["FID"].alias("feature_id"), df["YEAR"],
        df["geom"]).toPandas()
    back["layer"] = "donuts"
    back["is_valid_truth"] = True
    back["YEAR"] = back["YEAR"].astype("int32")
    pts = spark.createDataFrame(points, PTS_SCHEMA)
    pls = spark.createDataFrame(back[LAYER_SCHEMA.fieldNames()], LAYER_SCHEMA)
    got = areadist_fused(pts, pls).toPandas().sort_values("PKEY") \
        .reset_index(drop=True)
    want = areadist_oracle(points, layer).sort_values("PKEY") \
        .reset_index(drop=True)
    np.testing.assert_allclose(got["AREA565"].to_numpy(float),
                               want["AREA565"].to_numpy(float), atol=1e-9)
    np.testing.assert_allclose(got["NEAR_DIST"].to_numpy(float),
                               want["NEAR_DIST"].to_numpy(float), atol=1e-9)


# ---------------------------------------------------------------------------
# r03: holed features in OVERLAP components stay exact (hole-bridged
# triangulation), no raster fallback
# ---------------------------------------------------------------------------

def test_triangulate_with_holes_donut():
    parts = [np.asarray(p, float).reshape(-1, 2) for p in _donut(0.0, 0.0)]
    tris = K.triangulate_with_holes(parts)
    want = 40.0 * 40.0 - 20.0 * 20.0
    got = sum(abs(K.ring_area(t)) for t in tris)
    assert got == pytest.approx(want, rel=1e-12)
    # random points classify identically to (outer XOR hole)
    rng = np.random.default_rng(3)
    pts = rng.uniform(-25, 25, (300, 2))
    inside = np.zeros(len(pts), dtype=bool)
    for p in parts:
        inside ^= K.point_in_ring(pts[:, 0], pts[:, 1], p)
    cnt = np.zeros(len(pts), dtype=int)
    for t in tris:
        cnt += K.point_in_ring(pts[:, 0], pts[:, 1],
                               np.vstack([t, t[:1]])).astype(int)
    assert (cnt == inside.astype(int)).mean() > 0.97


def test_overlapping_donuts_exact_dissolve(spark):
    """Two overlapping donuts: the union area within a circle must come
    out EXACT (1e-8) from the correction machinery — the r02 engine
    forced these onto the ~1% raster fallback."""
    ox, oy = synth.X_LO + 500.0, synth.Y_LO + 500.0
    d1 = _donut(ox, oy)                      # ring [-20,20]², hole [-10,10]²
    d2 = _donut(ox + 15.0, oy)               # shifted: overlaps d1's ring
    layer = pd.DataFrame([
        {"feature_id": i, "layer": "dd", "YEAR": 2000,
         "geom": g, "is_valid_truth": True}
        for i, g in enumerate((d1, d2))])
    px, py, r = ox + 7.5, oy + 30.0, 150.0
    pts = spark.createDataFrame(
        pd.DataFrame([("0", "0", 2015, px, py)],
                     columns=["PKEY", "SS", "YEAR", "x", "y"]), PTS_SCHEMA)
    pls = spark.createDataFrame(layer, LAYER_SCHEMA)

    # no fallback: the correction build emits exact pieces
    from extract_sf_r_parallel_spark.operators.areadist import (
        dissolve_corrections_df,
    )
    from pyspark.sql import functions as F
    polys = pls.select("feature_id", "layer",
                       F.col("YEAR").alias("poly_year"), "geom")
    corr = dissolve_corrections_df(polys).toPandas()
    assert not corr["layer"].str.startswith("__dissolve").any()

    # independent oracle: both donuts fan-decomposed by hand into the 8
    # rectangles of their rings, pairwise rectangle intersections
    def rects_of(cx, cy):
        # the square ring [-20,20]² minus [-10,10]² as 4 rectangles
        return [
            (cx - 20, cy - 20, cx + 20, cy - 10),   # bottom
            (cx - 20, cy + 10, cx + 20, cy + 20),   # top
            (cx - 20, cy - 10, cx - 10, cy + 10),   # left
            (cx + 10, cy - 10, cx + 20, cy + 10),   # right
        ]

    def rect_ring(b):
        x0, y0, x1, y1 = b
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])

    A = rects_of(ox, oy)
    B = rects_of(ox + 15.0, oy)
    a1 = sum(K.circle_polygon_area(px, py, r, rect_ring(b)) for b in A)
    a2 = sum(K.circle_polygon_area(px, py, r, rect_ring(b)) for b in B)
    inter = 0.0
    for ra in A:
        for rb in B:
            x0, y0 = max(ra[0], rb[0]), max(ra[1], rb[1])
            x1, y1 = min(ra[2], rb[2]), min(ra[3], rb[3])
            if x0 < x1 and y0 < y1:
                inter += K.circle_polygon_area(px, py, r,
                                               rect_ring((x0, y0, x1, y1)))
    want = a1 + a2 - inter

    for plan in (
        areadist_join(pts, pls, temporal=False, age=False),
        areadist_fused(pts, pls, temporal=False, age=False),
    ):
        got = plan.toPandas()
        assert got["AREA150"].iloc[0] == pytest.approx(want, abs=1e-8)
