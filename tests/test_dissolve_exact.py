"""Exact dissolved-union area (VERDICT r01 #8): overlap detection is
automatic (dissolve left at its default), results are exact — not
supersampled — and layers whose union is not S-H-computable fall back
to the supersampled raster union in whichever kernel answers."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.geo import kernels as K
from extract_sf_r_parallel_spark.operators.areadist import (
    areadist_join,
    dissolve_corrections_df,
)
from extract_sf_r_parallel_spark.operators.areadist_fused import areadist_fused
from extract_sf_r_parallel_spark.oracle import areadist_oracle
from extract_sf_r_parallel_spark.plans import spatial_queries as SQ

from .conftest import LAYER_SCHEMA, PTS_SCHEMA

@pytest.fixture(scope="module")
def overlap_frames():
    over = synth.overlap_layer_pdf()
    # one point at each pair's union centre: r=150 covers the whole
    # 45×20 union → AREA150 must be exactly 900 (2·600 − 300)
    rows = []
    for p in range(25):
        ox = synth.X_LO + 200.0 + (p % 5) * 2000.0
        oy = synth.Y_LO + 200.0 + (p // 5) * 2000.0
        rows.append((str(p), str(p % 7), 2010, ox + 22.5, oy + 10.0))
    pts = pd.DataFrame(rows, columns=["PKEY", "SS", "YEAR", "x", "y"])
    return pts, over


def test_auto_dissolve_exact_default(spark, overlap_frames):
    """No caller hint: the default detects the overlaps and produces
    the closed-form union area at 1e-8 (raster gets ~1 m²)."""
    pts_pd, over = overlap_frames
    pts = spark.createDataFrame(pts_pd, PTS_SCHEMA)
    pls = spark.createDataFrame(over, LAYER_SCHEMA)
    for got in (
        areadist_fused(pts, pls, temporal=False, age=False).toPandas(),
        areadist_join(pts, pls, temporal=False, age=False,
                      broadcast_polys=True).toPandas(),
    ):
        g = got.sort_values("PKEY").reset_index(drop=True)
        np.testing.assert_allclose(g["AREA150"], 900.0, atol=1e-8)
        np.testing.assert_allclose(g["AREA565"], 900.0, atol=1e-8)
    # serial oracle agrees through its own union path
    want = areadist_oracle(pts_pd, over, temporal=False, age=False)
    np.testing.assert_allclose(want["AREA150"], 900.0, atol=1e-8)


def test_auto_dissolve_partial_circle(spark, overlap_frames):
    """Circle smaller than the union: exact circle∩union, checked
    against the independent raster estimate."""
    pts_pd, over = overlap_frames
    pts_pd = pts_pd.copy()
    pts_pd["x"] += 10.0  # off-centre so the clip is asymmetric
    pts = spark.createDataFrame(pts_pd, PTS_SCHEMA)
    pls = spark.createDataFrame(over, LAYER_SCHEMA)
    got = areadist_fused(pts, pls, temporal=False, age=False,
                         radii=(18.0,)).toPandas().sort_values("PKEY")
    rings = [np.asarray(g[0], np.float64).reshape(-1, 2) for g in over["geom"]]
    for _, r in got.iterrows():
        px, py = pts_pd.loc[pts_pd.PKEY == r.PKEY, ["x", "y"]].iloc[0]
        near = [rg for rg in rings
                if np.abs(rg[:, 0] - px).min() < 2000]
        want = K.union_circle_area(px, py, 18.0, near,
                                   np.zeros(len(near), np.int64))
        assert r["AREA18"] == pytest.approx(want, abs=1e-8)
        assert r["AREA18"] < np.pi * 18 * 18  # genuinely clipped


@pytest.fixture(scope="module")
def star_overlap():
    """Two overlapping non-convex stars — the common real-wetland
    shape. Since r03 the exact path handles it: ear-clip triangulation
    turns the non-convex clip into convex piece products."""
    ang = np.arange(10) * 2 * np.pi / 10
    rad = np.where(np.arange(10) % 2 == 0, 30.0, 12.0)
    cx, cy = synth.X_LO + 500.0, synth.Y_LO + 500.0
    s1 = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)
    s1 = np.vstack([s1, s1[:1]])
    s2 = s1 + [10.0, 0.0]
    rows = [{"feature_id": i, "layer": "stars", "YEAR": 2000,
             "geom": [s.ravel().tolist()], "is_valid_truth": True}
            for i, s in enumerate((s1, s2))]
    return cx, cy, [s1, s2], pd.DataFrame(rows)


def _fan_triangles(closed_ring, centre):
    """Independent decomposition for the oracle: a star-shaped polygon
    fans into triangles from its kernel point (NOT the engine's ear
    clipping)."""
    r = closed_ring[:-1]
    return [np.array([centre, r[i], r[(i + 1) % len(r)]])
            for i in range(len(r))]


def test_star_overlap_exact(spark, star_overlap):
    """Non-convex overlapping features stay on the EXACT dissolve path
    (VERDICT r02 next-#5): engine area matches an independent
    fan-decomposition inclusion-exclusion at 1e-8."""
    cx, cy, rings, layer = star_overlap
    px, py, r = cx + 5.0, cy, 150.0
    pts = spark.createDataFrame(
        pd.DataFrame([("0", "0", 2010, px, py)],
                     columns=["PKEY", "SS", "YEAR", "x", "y"]), PTS_SCHEMA)
    pls = spark.createDataFrame(layer, LAYER_SCHEMA)
    # no raster fallback any more: the correction build emits exact
    # pieces (no marker rows) on both the join and the fused path
    from extract_sf_r_parallel_spark.operators.areadist import (
        dissolve_corrections_df,
    )
    polys = spark.createDataFrame(layer, LAYER_SCHEMA).select(
        "feature_id", "layer", F.col("YEAR").alias("poly_year"), "geom")
    corr = dissolve_corrections_df(polys).toPandas()
    assert not corr["layer"].str.startswith("__dissolve").any()
    assert (corr["weight"] == -1.0).all()  # pairwise terms only

    # independent oracle: fan triangles from each star's centre
    # (star-shaped => centre sees every vertex), pairwise convex clips
    t1 = _fan_triangles(rings[0], np.array([cx, cy]))
    t2 = _fan_triangles(rings[1], np.array([cx + 10.0, cy]))
    a1 = sum(K.circle_polygon_area(px, py, r, np.vstack([t, t[:1]]))
             for t in t1)
    a2 = sum(K.circle_polygon_area(px, py, r, np.vstack([t, t[:1]]))
             for t in t2)
    inter = 0.0
    for ta in t1:
        for tb in t2:
            c = K.convex_clip(ta, tb)
            if len(c) >= 3:
                inter += K.circle_polygon_area(px, py, r, np.vstack([c, c[:1]]))
    want = a1 + a2 - inter

    for plan in (
        areadist_join(pts, pls, temporal=False, age=False,
                      broadcast_polys=True),
        areadist_fused(pts, pls, temporal=False, age=False),
    ):
        got = plan.toPandas()
        assert got["AREA150"].iloc[0] == pytest.approx(want, abs=1e-8)
        # union strictly below the double-counted sum
        assert got["AREA150"].iloc[0] < a1 + a2 - 1.0


# ---------------------------------------------------------------------------
# distributed (layer, coarse-tile) correction build — VERDICT r02 #4
# ---------------------------------------------------------------------------

def _corr_key(row):
    ring = np.asarray(row["geom"][0], float).reshape(-1, 2)
    # canonical: bbox + area + year + weight identifies a correction
    return (round(ring[:, 0].min(), 9), round(ring[:, 1].min(), 9),
            round(ring[:, 0].max(), 9), round(ring[:, 1].max(), 9),
            round(abs(K.ring_area(ring[:-1])), 9),
            int(row["poly_year"]), float(row["weight"]))


def test_tiled_corrections_match_whole_layer(spark, overlap_frames):
    """dissolve_corrections_df at a tile size that splits the layer
    across many groups must emit exactly the whole-layer kernel's
    correction set — no duplicates, no misses."""
    from extract_sf_r_parallel_spark.operators.areadist import (
        dissolve_corrections_df,
    )
    _, over = overlap_frames
    polys = spark.createDataFrame(over, LAYER_SCHEMA).select(
        "feature_id", "layer", F.col("YEAR").alias("poly_year"), "geom")
    # 2000 m pair spacing / 500 m tiles → pairs land in many tiles
    got = dissolve_corrections_df(polys, tile_size=500.0).toPandas()
    assert not got["layer"].str.startswith("__dissolve").any()
    rings = [K.feature_parts(g) for g in over["geom"]]
    want = K.overlap_corrections(rings, over["YEAR"].to_numpy(np.int64))
    want_keys = sorted(
        (round(r[:-1][:, 0].min(), 9), round(r[:-1][:, 1].min(), 9),
         round(r[:-1][:, 0].max(), 9), round(r[:-1][:, 1].max(), 9),
         round(abs(K.ring_area(r[:-1])), 9), int(y), float(w))
        for r, y, w in want)
    got_keys = sorted(_corr_key(row) for _, row in got.iterrows())
    assert got_keys == want_keys
    # and the build genuinely spread: >1 (layer, tile) group produced
    # corrections (ids are (layer, tile)-salted: distinct id >> 32)
    assert got["feature_id"].apply(lambda v: v >> 32).nunique() > 1


def test_tile_boundary_subset_emitted_once(spark):
    """An overlapping pair straddling a tile line is replicated into
    both tiles; the owner-corner rule must emit its correction exactly
    once."""
    from extract_sf_r_parallel_spark.operators.areadist import (
        dissolve_corrections_df,
    )
    ts = 1000.0
    # A spans the boundary x=1000; B overlaps A across it
    a = np.array([[900, 100], [1100, 100], [1100, 300], [900, 300],
                  [900, 100]], float)
    b = a + np.array([80.0, 0.0])
    pdf = pd.DataFrame({
        "feature_id": np.array([1, 2], np.int64),
        "layer": ["t", "t"],
        "YEAR": np.array([2000, 2001], np.int32),
        "geom": [[a.ravel().tolist()], [b.ravel().tolist()]],
        "is_valid_truth": [True, True],
    })
    polys = spark.createDataFrame(pdf, LAYER_SCHEMA).select(
        "feature_id", "layer", F.col("YEAR").alias("poly_year"), "geom")
    got = dissolve_corrections_df(polys, tile_size=ts).toPandas()
    assert len(got) == 1, got
    ring = np.asarray(got.iloc[0]["geom"][0], float).reshape(-1, 2)
    # intersection = [980,100]×[1100,300] → area 120·200
    assert abs(abs(K.ring_area(ring[:-1])) - 120 * 200) < 1e-9
    assert got.iloc[0]["weight"] == -1.0
    assert got.iloc[0]["poly_year"] == 2001


def test_correction_build_spreads_over_partitions(spark, tmp_path):
    """The (layer, tile) groups of the correction build run in several
    tasks: AQE does not coalesce its small shuffle into one."""
    pq.write_table(pa.table({"p_partkey": np.arange(200, dtype=np.int64)}),
                   str(tmp_path / "part.parquet"))
    pl = SQ._pair_rect_polys(spark, str(tmp_path)).select(
        "feature_id", "layer", F.col("YEAR").alias("poly_year"), "geom")
    corr = dissolve_corrections_df(pl).select(
        F.spark_partition_id().alias("part"), "feature_id")
    rows = corr.collect()
    assert len(rows) == 200  # one A∩B term per part key
    plan = corr._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead" not in plan[plan.index("FlatMapGroupsInPandas"):]
    assert len({r["part"] for r in rows}) >= 2
