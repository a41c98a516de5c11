"""Serial-vs-parallel equivalence (SURVEY.md §5 row 1): the distributed
tiled kernel must match the brute-force serial oracle row-for-row
— the formalization of the reference author's prototype-vs-function
check (C_…R:35-81 vs C_…R:84-130)."""

import numpy as np
import pandas as pd
import pytest

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.operators.areadist import (
    areadist,
    areadist_join,
    areadist_wide,
)
from extract_sf_r_parallel_spark.oracle import areadist_oracle

from .conftest import GEOTAGGED_SCHEMA, LAYER_SCHEMA, WETLAND_SCHEMA


@pytest.fixture(scope="module")
def fixture_frames():
    images = synth.geotag_images_pdf(synth.images_pdf(120))
    layers = synth.footprint_layers_pdf(250)
    return images, layers


def _compare(got: pd.DataFrame, want: pd.DataFrame, cols):
    got = got.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    want = want.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["PKEY"] == want["PKEY"]).all()
    for c in cols:
        g = got[c].to_numpy(np.float64)
        w = want[c].to_numpy(np.float64)
        np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True,
                                   err_msg=c)


def test_areadist_age_matches_oracle(spark, fixture_frames):
    images, layers = fixture_frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    got = areadist_join(pts, pls).toPandas()
    want = areadist_oracle(images, layers)
    # row-count invariant: points × layers (C_…R:707-709)
    assert len(got) == len(images) * 3
    _compare(got, want, ["NEAR_DIST", "AREA150", "PROP150", "AREA565",
                         "PROP565", "MEANAGE_150", "MEANAGE_565"])
    # graft invariants: captions ride through byte-equal
    merged = got.merge(images[["PKEY", "caption"]], on="PKEY", suffixes=("", "_in"))
    assert (merged["caption"] == merged["caption_in"]).all()


def test_areadist_no_age_no_temporal_wetland(spark, fixture_frames):
    images, _ = fixture_frames
    wet = synth.wetland_pdf(200)
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(wet, WETLAND_SCHEMA)
    got = areadist_join(pts, pls, temporal=False, age=False,
                        layer_col="CWCS_Class").toPandas()
    want = areadist_oracle(images, wet, temporal=False, age=False,
                           layer_col="CWCS_Class")
    assert len(got) == len(images) * len(set(wet["CWCS_Class"]))
    _compare(got, want, ["NEAR_DIST", "AREA150", "PROP150", "AREA565", "PROP565"])


def test_overlap_layer_raster_dissolve(spark):
    """Dissolved (union) area ≤ Σ clip areas; equality iff no overlap
    (the reference's superseded-variant comparison, C_…R:99 vs 101).
    The layer is exactly dissolvable, so the planner's union is exact
    and the serial raster oracle lands within its supersampling error."""
    images = synth.geotag_images_pdf(synth.images_pdf(60))
    over = synth.overlap_layer_pdf()
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(over, LAYER_SCHEMA)
    summed = areadist(pts, pls, temporal=False, age=False,
                      dissolve="sum").toPandas()
    dis = areadist(pts, pls, temporal=False, age=False).toPandas()
    want = areadist_oracle(images, over, temporal=False, age=False,
                           dissolve="raster")
    m = summed.merge(dis, on=["PKEY", "layer"], suffixes=("_sum", "_dis"))
    assert (m["AREA565_dis"] <= m["AREA565_sum"] + 1e-6).all()
    hit = m[m["AREA565_sum"] > 0]
    assert len(hit) > 0
    md = dis.merge(want, on=["PKEY", "layer"], suffixes=("", "_want"))
    np.testing.assert_allclose(md["AREA565"], md["AREA565_want"], rtol=5e-2, atol=5.0)


def test_areadist_wide_pivot(spark, fixture_frames):
    images, layers = fixture_frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    long = areadist(pts, pls)
    wide = areadist_wide(long.select("PKEY", "SS", "YEAR", "layer",
                                     "NEAR_DIST", "AREA150"))
    pdf = wide.toPandas()
    assert len(pdf) == len(images)  # J5 inner-merge row invariant
    assert "seismic_NEAR_DIST" in pdf.columns and "harvest_AREA150" in pdf.columns


def test_join_kernel_validates_feature_side_once(spark):
    """The validity UDF runs once per call: the validated feature side
    is materialized before the tiled plan, so no `_valid(` node remains
    in it."""
    images = synth.geotag_images_pdf(synth.images_pdf(40))
    layers = synth.footprint_layers_pdf(80)
    one = layers[layers["layer"] == layers["layer"].iloc[0]]
    assert len(one) == 80
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(one, LAYER_SCHEMA)
    out = areadist_join(pts, pls)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_valid(" not in plan
    assert len(out.toPandas()) == len(images)


def test_join_kernel_rejects_nested_array_point_column(spark):
    """A point column of arrays of arrays would crash the Python worker
    on a tile that has features but no points (the feature 20 km away
    sits alone in its tile); the tiled kernel refuses it by name."""
    pts = spark.createDataFrame(
        [("p1", "s", 2020, 100.0, 100.0, [[1.0, 2.0]])],
        "PKEY string, SS string, YEAR int, x double, y double, "
        "tags array<array<double>>")
    pls = spark.createDataFrame(pd.DataFrame({
        "feature_id": [1], "layer": ["A"], "YEAR": [2000],
        "geom": [[[20000.0, 0.0, 20050.0, 0.0, 20050.0, 50.0,
                   20000.0, 50.0, 20000.0, 0.0]]],
        "is_valid_truth": [True]}), LAYER_SCHEMA)
    with pytest.raises(ValueError, match="point column 'tags'"):
        areadist_join(pts, pls)
