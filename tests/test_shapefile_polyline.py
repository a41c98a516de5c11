"""Shapefile I/O round-trips (VERDICT r01 #9) and open-polyline
geometry semantics (VERDICT r01 #10 — the reference's seismic-line
layers): no closing edge, no inside, zero clip area, distance-only."""

import numpy as np
import pandas as pd
import pytest

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.geo import kernels as K
from extract_sf_r_parallel_spark.operators.areadist import areadist_join
from extract_sf_r_parallel_spark.operators.areadist_fused import areadist_fused
from extract_sf_r_parallel_spark.oracle import areadist_oracle
from extract_sf_r_parallel_spark.sources import shapefile as SHP

from .conftest import GEOTAGGED_SCHEMA, LAYER_SCHEMA


def test_shapefile_roundtrip_polygon(tmp_path):
    rng = np.random.default_rng(7)
    geoms, rows = [], []
    for i in range(25):
        c = rng.uniform(100, 900, 2)
        s = rng.uniform(5, 40)
        ring = np.array([[c[0] - s, c[1] - s], [c[0] + s, c[1] - s],
                         [c[0] + s, c[1] + s], [c[0] - s, c[1] + s],
                         [c[0] - s, c[1] - s]])
        hole = ring[:, :] * 0.2 + c * 0.8  # second part
        geoms.append([ring, hole] if i % 3 == 0 else [ring])
        rows.append((i, f"name{i}", int(1990 + i % 20), float(s)))
    attrs = pd.DataFrame(rows, columns=["FID", "NAME", "YEAR", "SIZE"])
    base = str(tmp_path / "poly")
    SHP.write_shapefile(base, geoms, attrs, SHP.SHAPE_POLYGON)
    back = SHP.read_shapefile(base)
    assert len(back) == 25
    assert (back["shape_type"] == SHP.SHAPE_POLYGON).all()
    for i in range(25):
        parts = back["geom"].iloc[i]
        assert len(parts) == len(geoms[i])
        for got, want in zip(parts, geoms[i]):
            np.testing.assert_array_equal(
                np.asarray(got).reshape(-1, 2), want)  # doubles bit-exact
    assert back["NAME"].tolist() == attrs["NAME"].tolist()
    assert back["YEAR"].tolist() == attrs["YEAR"].tolist()
    np.testing.assert_allclose(back["SIZE"], attrs["SIZE"], atol=1e-6)


def test_shapefile_roundtrip_polyline(tmp_path):
    rng = np.random.default_rng(8)
    geoms = [[rng.uniform(0, 1000, (4, 2))] for _ in range(10)]
    attrs = pd.DataFrame({"FID": range(10)})
    base = str(tmp_path / "lines")
    SHP.write_shapefile(base, geoms, attrs, SHP.SHAPE_POLYLINE)
    back = SHP.read_shapefile(base)
    assert (back["shape_type"] == SHP.SHAPE_POLYLINE).all()
    for i in range(10):
        v = np.asarray(back["geom"].iloc[i][0]).reshape(-1, 2)
        np.testing.assert_array_equal(v, geoms[i][0])
        assert not K.ring_is_closed(v)  # stays an open chain


def test_polyline_kernel_semantics():
    # open 3-chain: (0,0)→(10,0)→(10,10); closed adds (0,0) again
    open_chain = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]])
    closed = np.vstack([open_chain, open_chain[:1]])
    # point (5,2): inside the closed triangle → dist 0; but 2 from the
    # open chain's first segment (the closing hypotenuse doesn't exist)
    d_open = K.pairs_point_polygon_distance(
        np.array([5.0]), np.array([2.0]), [open_chain])[0]
    d_closed = K.pairs_point_polygon_distance(
        np.array([5.0]), np.array([2.0]), [closed])[0]
    assert d_closed == 0.0
    assert d_open == pytest.approx(2.0, abs=1e-12)
    # zero clip area for open chains, exact area for the closed ring
    assert K.circle_polygon_area(5.0, 2.0, 100.0, open_chain) == 0.0
    assert K.circle_polygon_area(5.0, 2.0, 100.0, closed) == pytest.approx(50.0)
    # packed kernel agrees
    pk = K.PackedRings([open_chain, closed])
    m = K.packed_pair_metrics(np.array([5.0, 5.0]), np.array([2.0, 2.0]),
                              np.array([0, 1]), pk, (100.0,))
    assert m["dist"][0] == pytest.approx(2.0, abs=1e-12)
    assert m["dist"][1] == 0.0
    assert m["a100"][0] == 0.0
    assert m["a100"][1] == pytest.approx(50.0)
    assert K.polyline_is_valid(open_chain)
    assert not K.polyline_is_valid(np.array([[0.0, 0.0]]))


@pytest.fixture(scope="module")
def line_layer():
    """Seismic-line-style open polylines placed in the fixture window."""
    rng = np.random.default_rng(21)
    rows = []
    for i in range(120):
        x0, y0 = rng.uniform(400200, 419000), rng.uniform(6000200, 6019000)
        pts = np.cumsum(np.vstack([[x0, y0], rng.uniform(-400, 400, (3, 2))]),
                        axis=0)
        rows.append({
            "feature_id": i, "layer": "seismic_lines",
            "YEAR": int(0 if i % 20 == 0 else 1991 + i % 25),
            "geom": [pts.ravel().tolist()], "is_valid_truth": True,
        })
    return pd.DataFrame(rows)


def test_areadist_on_polyline_layer(spark, line_layer):
    images = synth.geotag_images_pdf(synth.images_pdf(60))
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(line_layer, LAYER_SCHEMA)
    want = areadist_oracle(images, line_layer, validity_filter=False)
    fused = areadist_fused(pts, pls, validity_filter=False).toPandas()
    join = areadist_join(pts, pls, validity_filter=False).toPandas()
    for got in (fused, join):
        g = got.sort_values("PKEY").reset_index(drop=True)
        w = want.sort_values("PKEY").reset_index(drop=True)
        np.testing.assert_allclose(g["NEAR_DIST"].to_numpy(float),
                                   w["NEAR_DIST"].to_numpy(float), atol=1e-9)
        assert (g["AREA150"] == 0).all() and (g["AREA565"] == 0).all()
        assert g["MEANAGE_565"].isna().all()
    # lines actually get hit: some points must be within maxdist
    assert (fused["NEAR_DIST"] < 1000.0).any()
