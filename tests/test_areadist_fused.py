"""The fused broadcast kernel must match the join kernel — and the
serial oracle — row-for-row, for every variant (age, wetland,
no-temporal). Also asserts the fused plan is a single narrow stage
(no shuffle exchange), and that it answers a layer whose exact union
needs the raster fallback itself."""

import numpy as np
import pandas as pd
import pytest

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.operators.areadist import (
    areadist,
    areadist_join,
)
from extract_sf_r_parallel_spark.operators.areadist_fused import areadist_fused
from extract_sf_r_parallel_spark.oracle import areadist_oracle

from .conftest import GEOTAGGED_SCHEMA, LAYER_SCHEMA, PTS_SCHEMA, WETLAND_SCHEMA


@pytest.fixture(scope="module")
def frames():
    images = synth.geotag_images_pdf(synth.images_pdf(120))
    layers = synth.footprint_layers_pdf(250)
    return images, layers


def _cmp(got, want, cols):
    g = got.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    w = want.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    assert len(g) == len(w)
    for c in cols:
        np.testing.assert_allclose(
            g[c].to_numpy(float), w[c].to_numpy(float),
            rtol=1e-9, atol=1e-9, equal_nan=True, err_msg=c)


METRICS = ["NEAR_DIST", "AREA150", "PROP150", "MEANAGE_150",
           "AREA565", "PROP565", "MEANAGE_565"]


def test_fused_matches_oracle_and_join_path(spark, frames):
    images, layers = frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    fused = areadist_fused(pts, pls).toPandas()
    want = areadist_oracle(images, layers)
    assert len(fused) == len(images) * 3
    _cmp(fused, want, METRICS)
    joinpath = areadist_join(pts, pls).toPandas()
    _cmp(fused, joinpath, METRICS)
    # caption passthrough (graft invariant)
    m = fused.merge(images[["PKEY", "caption"]], on="PKEY", suffixes=("", "_in"))
    assert (m["caption"] == m["caption_in"]).all()


def test_fused_wetland_variant(spark, frames):
    images, _ = frames
    wet = synth.wetland_pdf(150)
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(wet, WETLAND_SCHEMA)
    fused = areadist_fused(pts, pls, temporal=False, age=False,
                           layer_col="CWCS_Class").toPandas()
    want = areadist_oracle(images, wet, temporal=False, age=False,
                           layer_col="CWCS_Class")
    _cmp(fused, want, ["NEAR_DIST", "AREA150", "PROP150", "AREA565", "PROP565"])


def test_fused_plan_single_stage(spark, frames):
    import contextlib
    import io
    images, layers = frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    df = areadist_fused(pts, pls)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan           # zero shuffles
    assert "Join" not in plan               # no materialized pair join
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_index_cache_hits_on_parquet_backed_layers(spark, frames, tmp_path):
    """Second fused build over the SAME parquet-backed layer plan must
    reuse the cached _FeatureIndex + broadcast (no rebuild, no second
    broadcast), must NOT collide across different files with one
    schema, and must never engage for in-memory relations."""
    from extract_sf_r_parallel_spark.operators import areadist_fused as AF
    images, layers = frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)

    AF.clear_index_cache()
    try:
        path_a = str(tmp_path / "layers_a.parquet")
        path_b = str(tmp_path / "layers_b.parquet")
        spark.createDataFrame(layers, LAYER_SCHEMA).write.parquet(path_a)
        spark.createDataFrame(
            layers.assign(YEAR=layers["YEAR"] + 1),
            LAYER_SCHEMA).write.parquet(path_b)

        pls_a = spark.read.parquet(path_a)
        first = AF.areadist_fused(pts, pls_a).toPandas()
        assert len(AF._IDX_CACHE) == 1
        (idx0, bc0) = next(iter(AF._IDX_CACHE.values()))

        # identical plan, fresh DataFrame object → cache hit
        second = AF.areadist_fused(pts, spark.read.parquet(path_a)).toPandas()
        assert len(AF._IDX_CACHE) == 1
        (idx1, bc1) = next(iter(AF._IDX_CACHE.values()))
        assert idx1 is idx0 and bc1 is bc0
        _cmp(second, first, METRICS)

        # same schema, DIFFERENT files → distinct entry, not a stale hit
        diff = AF.areadist_fused(pts, spark.read.parquet(path_b)).toPandas()
        assert len(AF._IDX_CACHE) == 2
        assert not np.allclose(
            diff.sort_values(["PKEY", "layer"])["MEANAGE_150"].to_numpy(float),
            first.sort_values(["PKEY", "layer"])["MEANAGE_150"].to_numpy(float),
            equal_nan=True)

        # different build params over the same plan → distinct entry
        AF.areadist_fused(pts, spark.read.parquet(path_a), maxdist=300.0,
                          radii=(150.0,)).toPandas()
        assert len(AF._IDX_CACHE) == 3

        # in-memory relations are uncacheable by design (plan string
        # carries no data identity)
        pls_mem = spark.createDataFrame(layers, LAYER_SCHEMA)
        assert AF._plan_key(pls_mem) is None
        AF.areadist_fused(pts, pls_mem).toPandas()
        assert len(AF._IDX_CACHE) == 3
    finally:
        AF.clear_index_cache()
    assert len(AF._IDX_CACHE) == 0 and len(AF._COUNT_CACHE) == 0


# ---------------------------------------------------------------------------
# the planner (operators.areadist.areadist) over the two kernels
# ---------------------------------------------------------------------------

def _squares(spark, layers, side=50.0):
    """Layers of side×side squares ({layer: [(dx, dy), ...]}), and one
    point at the first layer's first square centre."""
    x0, y0 = synth.X_LO + 1000.0, synth.Y_LO + 1000.0
    rows = []
    for layer, offsets in layers.items():
        for dx, dy in offsets:
            a, b = x0 + dx, y0 + dy
            ring = [a, b, a + side, b, a + side, b + side, a, b + side, a, b]
            rows.append({"feature_id": len(rows), "layer": layer,
                         "YEAR": 2000, "geom": [ring],
                         "is_valid_truth": True})
    pts = pd.DataFrame([("p", "p", 2010, x0 + side / 2, y0 + side / 2)],
                       columns=["PKEY", "SS", "YEAR", "x", "y"])
    return (spark.createDataFrame(pts, PTS_SCHEMA),
            spark.createDataFrame(pd.DataFrame(rows), LAYER_SCHEMA))


# 12 mutually overlapping squares exceed the inclusion–exclusion term
# budget, so the layer's correction build falls back to the raster
STAIR = [(i, i) for i in range(12)]


def _jobs_and_corrections(spark, monkeypatch, pts, pls):
    """Spark jobs (plan build + sink) and correction builds of one
    planner call, and its rows."""
    from extract_sf_r_parallel_spark.operators import areadist as A
    builds = []
    real = A.dissolve_corrections_df
    monkeypatch.setattr(A, "dissolve_corrections_df",
                        lambda *a, **k: builds.append(1) or real(*a, **k))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    got = areadist(pts, pls).toPandas()
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    monkeypatch.setattr(A, "dissolve_corrections_df", real)
    return jobs, len(builds), got


def test_fused_kernel_answers_raster_fallback_layer(spark, monkeypatch):
    """The fused kernel answers a layer without an exact union from its
    own index: the join kernel's raster union, one correction build per
    planner call, and no more Spark jobs than an exact layer."""
    pts, pls = _squares(spark, {"L": STAIR})
    fused = areadist_fused(pts, pls).toPandas()
    _cmp(fused, areadist_join(pts, pls).toPandas(), METRICS)
    # exact union 50² + 11·(2·50 − 1) = 3589 (the Σ of clips is 30000);
    # the supersampled raster lands close (see the window test below)
    assert fused["AREA150"].iloc[0] == pytest.approx(3589.0, rel=2e-2)

    jobs, builds, got = _jobs_and_corrections(spark, monkeypatch, pts, pls)
    assert builds == 1
    _cmp(got, fused, METRICS)
    exact_pts, exact_pls = _squares(
        spark, {"L": [(100.0 * i, 0.0) for i in range(12)]})
    exact_jobs, _, _ = _jobs_and_corrections(
        spark, monkeypatch, exact_pts, exact_pls)
    assert jobs <= exact_jobs


def test_fused_kernel_mixes_raster_and_exact_layers(spark):
    pts, pls = _squares(spark, {"L": STAIR, "M": [(0, 0), (25, 0)]})
    fused = areadist_fused(pts, pls).toPandas()
    _cmp(fused, areadist_join(pts, pls).toPandas(), METRICS)
    area = fused.set_index("layer")["AREA150"]
    assert area["L"] == pytest.approx(3589.0, rel=2e-2)
    # the exact layer keeps its inclusion–exclusion union: 50 × 75
    assert area["M"] == pytest.approx(3750.0, abs=1e-8)


def test_raster_dissolve_rejected_by_every_kernel(spark):
    pts, pls = _squares(spark, {"L": [(0, 0), (25, 0)]})
    for fn in (areadist, areadist_fused, areadist_join):
        with pytest.raises(ValueError, match="dissolve"):
            fn(pts, pls, dissolve="raster")


def test_kernels_share_column_order(spark, frames):
    images, layers = frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    for kw in ({}, {"age": False, "radii": (150.0,)}):
        fused = areadist_fused(pts, pls, **kw).columns
        assert fused == areadist_join(pts, pls, **kw).columns
        assert fused[:len(pts.columns) + 1] == [*pts.columns, "layer"]


def test_raster_union_window_does_not_grow_with_radius(spark):
    """The raster union samples the circle's bbox ∩ the candidates'
    bbox, so the larger disk, which holds the whole stair at both radii,
    reads the same exact union (3589) on both kernels."""
    pts, pls = _squares(spark, {"L": STAIR})
    for fn in (areadist_fused, areadist_join):
        row = fn(pts, pls).toPandas().iloc[0]
        assert row["AREA565"] >= row["AREA150"], fn.__name__
        for r in ("AREA150", "AREA565"):
            assert row[r] == pytest.approx(3589.0, rel=1e-3), (fn.__name__, r)


@pytest.mark.parametrize("geom", [None, [], [[]]],
                         ids=["null", "no-parts", "empty-part"])
@pytest.mark.parametrize("dissolve", ["sum", "auto"])
@pytest.mark.parametrize("kernel", ["fused", "join"])
def test_null_or_empty_geom_fails_by_name(spark, monkeypatch, kernel,
                                         dissolve, geom):
    """A feature without vertices has no bbox: both kernels fail the
    call by name instead of dropping the feature or faking its bbox."""
    from extract_sf_r_parallel_spark.operators import areadist_fused as AF
    if kernel == "join":
        monkeypatch.setattr(AF, "MAX_BROADCAST_FEATURES", 0)
    ring = [0.0, 0.0, 50.0, 0.0, 50.0, 50.0, 0.0, 50.0, 0.0, 0.0]
    rows = [(1, "L", 2000, [ring], True), (2, "L", 2000, geom, True),
            (3, "L", 2000, [ring], True)]
    pls = spark.createDataFrame(rows, LAYER_SCHEMA)
    pts = spark.createDataFrame([("p", "p", 2010, 25.0, 25.0)], PTS_SCHEMA)
    with pytest.raises(Exception, match="null or empty geom"):
        areadist(pts, pls, dissolve=dissolve,
                 validity_filter=False).collect()
