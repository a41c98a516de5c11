"""Differential property test across the areadist kernels: the tiled
kernel (areadist_join) must equal the fused kernel at 1e-9 and the
serial oracle at the existing tolerances, on generated layers around a
corner shared by four 5 km tiles — the seams where tiling breaks:
features straddling tile borders, points on them, points exactly
maxdist from a feature's bbox, overlapping / nested / holed rings, open
polylines, YEAR=0 sentinels and the 12-square raster stair."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from extract_sf_r_parallel_spark.geo import kernels as K
from extract_sf_r_parallel_spark.operators.areadist import areadist_join
from extract_sf_r_parallel_spark.operators.areadist_fused import areadist_fused
from extract_sf_r_parallel_spark.oracle import areadist_oracle

from .conftest import LAYER_SCHEMA, PTS_SCHEMA

SET = settings(max_examples=6, derandomize=True, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture,
                                      HealthCheck.too_slow])

CORNER = 10_000.0  # a corner of four 5 km tiles
MAXDIST = 1000.0
METRICS = ["NEAR_DIST", "AREA150", "PROP150", "MEANAGE_150",
           "AREA565", "PROP565", "MEANAGE_565"]
YEARS = st.sampled_from([0, 1995, 2005, 2015])


def _rect(x0, y0, w, h):
    return [x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h, x0, y0]


@st.composite
def _features(draw):
    """One to two features of a kind: a rectangle, a rectangle with a
    rectangle nested inside it, a holed rectangle or an open polyline."""
    kind = draw(st.sampled_from(["rect", "nested", "holed", "line"]))
    x0 = CORNER + draw(st.integers(-1500, 1300))
    y0 = CORNER + draw(st.integers(-1500, 1300))
    w, h = draw(st.integers(20, 400)), draw(st.integers(20, 400))
    if kind == "line":
        return [([[x0, y0, x0 + w, y0 + h, x0 + 2 * w, y0]], draw(YEARS))]
    outer = _rect(x0, y0, w, h)
    inner = _rect(x0 + w / 4, y0 + h / 4, w / 2, h / 2)
    if kind == "holed":
        return [([outer, inner], draw(YEARS))]
    if kind == "nested":
        return [([outer], draw(YEARS)), ([inner], draw(YEARS))]
    return [([outer], draw(YEARS))]


@st.composite
def _case(draw):
    rows = []
    for layer in ("A", "B"):
        # the layer's oldest real year sits in the north-east tile only
        # and a YEAR=0 sentinel in the south-west tile only (their
        # maxdist-dilated bboxes stay clear of the corner): the recode
        # must take the whole layer's oldest year, not the tile's
        rows += [(layer, [_rect(CORNER + 1200, CORNER + 1200, 100, 100)], 1980),
                 (layer, [_rect(CORNER - 1400, CORNER - 1400, 100, 100)], 0)]
        for feats in draw(st.lists(_features(), min_size=1, max_size=3)):
            rows += [(layer, g, y) for g, y in feats]
    # the stair: 12 mutually overlapping squares, past the
    # inclusion–exclusion budget, so its layer takes the raster union
    sx = CORNER + draw(st.integers(-80, 40))
    sy = CORNER + draw(st.integers(-80, 40))
    rows += [("S", [_rect(sx + i, sy + i, 50, 50)], 2000) for i in range(12)]
    layers = pd.DataFrame({
        "feature_id": range(len(rows)), "layer": [r[0] for r in rows],
        "YEAR": [r[2] for r in rows], "geom": [r[1] for r in rows],
        "is_valid_truth": True})

    def bbox(i):
        v = np.concatenate([np.asarray(p).reshape(-1, 2)
                            for p in layers["geom"][i]])
        return v.min(axis=0), v.max(axis=0)

    pts = [("sentinel", "s", 2020, CORNER - 1350.0, CORNER - 1350.0)]
    for k in range(draw(st.integers(2, 5))):
        i = draw(st.integers(0, len(rows) - 1))
        (bx0, by0), (bx1, by1) = bbox(i)
        where = draw(st.sampled_from(["inside", "maxdist", "border", "corner"]))
        if where == "inside":
            x, y = (bx0 + bx1) / 2, (by0 + by1) / 2
        elif where == "maxdist":  # exactly maxdist east of the bbox
            x, y = bx1 + MAXDIST, (by0 + by1) / 2
        elif where == "border":  # on the x = CORNER tile border
            x, y = CORNER, (by0 + by1) / 2
        else:
            x, y = CORNER, CORNER
        pts.append((f"p{k}", "s", draw(st.sampled_from([2000, 2010, 2020])),
                    float(x), float(y)))
    return pd.DataFrame(pts, columns=["PKEY", "SS", "YEAR", "x", "y"]), layers


def _sorted(df):
    return df.sort_values(["PKEY", "layer"]).reset_index(drop=True)


def _close(got, want, cols, **tol):
    assert len(got) == len(want)
    assert (got["PKEY"] == want["PKEY"]).all()
    assert (got["layer"] == want["layer"]).all()
    for c in cols:
        np.testing.assert_allclose(got[c].to_numpy(float),
                                   want[c].to_numpy(float), equal_nan=True,
                                   err_msg=c, **tol)


def _exactly_dissolvable(layers, name):
    lp = layers[layers["layer"] == name]
    try:
        K.overlap_corrections([K.feature_parts(g) for g in lp["geom"]],
                              lp["YEAR"].to_numpy(np.int64))
    except K.DissolveFallback:
        return False
    return True


@given(case=_case())
@SET
def test_tiled_kernel_equals_fused_and_oracle(spark, case):
    points, layers = case
    pts = spark.createDataFrame(points, PTS_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    tiled = _sorted(areadist_join(pts, pls, validity_filter=False).toPandas())
    fused = _sorted(areadist_fused(pts, pls, validity_filter=False).toPandas())
    want = _sorted(areadist_oracle(points, layers, validity_filter=False))
    assert len(tiled) == len(points) * 3
    _close(tiled, fused, METRICS, rtol=1e-9, atol=1e-9)
    exact = tiled["layer"].map(
        {n: _exactly_dissolvable(layers, n) for n in ("A", "B", "S")})
    assert not exact[tiled["layer"] == "S"].any()
    _close(tiled[exact], want[exact], METRICS, rtol=1e-9, atol=1e-8)
    # the raster union lands within its supersampling error
    _close(tiled[~exact], want[~exact],
           ["NEAR_DIST", "MEANAGE_150", "MEANAGE_565"], rtol=1e-9, atol=1e-8)
    _close(tiled[~exact], want[~exact],
           ["AREA150", "PROP150", "AREA565", "PROP565"], rtol=5e-2, atol=5.0)
