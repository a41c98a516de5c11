"""Differential property test across the areadist kernels: the tiled
kernel (areadist_join) must equal the fused kernel at 1e-9 and the
serial oracle at the existing tolerances, on generated layers around a
corner shared by four 5 km tiles — the seams where tiling breaks:
features straddling tile borders, points on them, points exactly
maxdist from a feature's bbox, overlapping / nested / holed rings, open
polylines, YEAR=0 sentinels and the 12-square raster stair; then a
`wide=` layer with no feature, points exactly one buffer radius from a
rectangle edge and points on the index's hex-cell borders."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from extract_sf_r_parallel_spark.geo import index as I
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
YEARS_PT = st.sampled_from([2000, 2010, 2020])


def _rect(x0, y0, w, h):
    return [x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h, x0, y0]


def _bbox(layers, i):
    v = np.concatenate([np.asarray(p).reshape(-1, 2)
                        for p in layers["geom"][i]])
    return v.min(axis=0), v.max(axis=0)


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

    pts = [("sentinel", "s", 2020, CORNER - 1350.0, CORNER - 1350.0)]
    for k in range(draw(st.integers(2, 5))):
        i = draw(st.integers(0, len(rows) - 1))
        (bx0, by0), (bx1, by1) = _bbox(layers, i)
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


@st.composite
def _radius_case(draw):
    """_case's layers, plus points exactly 150 m or 565 m out from the
    middle of a rectangle's edge: the circle touches the feature in one
    point, so its clip area is zero."""
    points, layers = draw(_case())
    rects = [i for i, g in enumerate(layers["geom"]) if len(g[0]) == 10]
    extra = []
    for k in range(draw(st.integers(2, 4))):
        (bx0, by0), (bx1, by1) = _bbox(layers, draw(st.sampled_from(rects)))
        r = draw(st.sampled_from([150.0, 565.0]))
        xm, ym = (bx0 + bx1) / 2, (by0 + by1) / 2
        x, y = draw(st.sampled_from([(bx1 + r, ym), (bx0 - r, ym),
                                     (xm, by1 + r), (xm, by0 - r)]))
        extra.append((f"e{k}", "s", draw(YEARS_PT), float(x), float(y)))
    return pd.concat([points, pd.DataFrame(extra, columns=points.columns)],
                     ignore_index=True), layers


@st.composite
def _cell_border_case(draw):
    """_case's layers, plus points on a vertex or an edge midpoint of
    the hex cell, at the index's cell code, that holds a feature's
    centre, its bbox corner or a point maxdist east of its bbox."""
    points, layers = draw(_case())
    code = I.code_for_radius(max(MAXDIST / 4.0, I.RESOLUTIONS[0]))
    extra = []
    for k in range(draw(st.integers(2, 4))):
        (bx0, by0), (bx1, by1) = _bbox(
            layers, draw(st.integers(0, len(layers) - 1)))
        x, y = draw(st.sampled_from([((bx0 + bx1) / 2, (by0 + by1) / 2),
                                     (bx1, by1), (bx1 + MAXDIST, by0)]))
        cell = I.xy_to_cell(np.array([x]), np.array([y]), code)[0]
        v = I.cell_ring_vertices(int(cell))
        j = draw(st.integers(0, 5))
        bx, by = v[j] if draw(st.booleans()) else (v[j] + v[j + 1]) / 2
        extra.append((f"c{k}", "s", draw(YEARS_PT), float(bx), float(by)))
    return pd.concat([points, pd.DataFrame(extra, columns=points.columns)],
                     ignore_index=True), layers


def _long(wide_df, names):
    """A wide= result as long rows, one per (point, named layer)."""
    return pd.concat([wide_df[["PKEY"]].assign(
        layer=n, **{m: wide_df[f"{n}_{m}"] for m in METRICS}) for n in names])


def _agree(spark, points, layers, wide=None):
    """tiled = fused at 1e-9, and both = the serial oracle: exact layers
    at 1e-8, the raster-union layer's areas within its supersampling
    error. A `wide` name with no feature answers like a layer whose
    every feature the temporal filter drops (oracle's empty-candidate
    defaults)."""
    pts = spark.createDataFrame(points, PTS_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    tiled, fused = (fn(pts, pls, validity_filter=False, wide=wide).toPandas()
                    for fn in (areadist_join, areadist_fused))
    names = sorted(set(layers["layer"])) if wide is None else list(wide)
    if wide is not None:
        tiled, fused = _long(tiled, wide), _long(fused, wide)
    gone = [n for n in names if n not in set(layers["layer"])]
    dropped = pd.DataFrame({
        "feature_id": range(len(layers), len(layers) + len(gone)),
        "layer": gone, "YEAR": 9999,
        "geom": [[_rect(CORNER, CORNER, 10, 10)]] * len(gone),
        "is_valid_truth": True})
    want = areadist_oracle(
        points, pd.concat([layers, dropped], ignore_index=True),
        validity_filter=False)
    tiled, fused = _sorted(tiled), _sorted(fused)
    want = _sorted(want[want["layer"].isin(names)])
    assert len(tiled) == len(points) * len(names)
    _close(tiled, fused, METRICS, rtol=1e-9, atol=1e-9)
    exact = tiled["layer"].map(
        {n: _exactly_dissolvable(layers, n) for n in names})
    _close(tiled[exact], want[exact], METRICS, rtol=1e-9, atol=1e-8)
    _close(tiled[~exact], want[~exact],
           ["NEAR_DIST", "MEANAGE_150", "MEANAGE_565"], rtol=1e-9, atol=1e-8)
    _close(tiled[~exact], want[~exact],
           ["AREA150", "PROP150", "AREA565", "PROP565"], rtol=5e-2, atol=5.0)


@given(case=_case())
@SET
def test_wide_layer_without_features(spark, case):
    _agree(spark, *case, wide=("A", "E", "S", "B"))


@given(case=_radius_case())
@SET
def test_points_one_buffer_radius_from_an_edge(spark, case):
    _agree(spark, *case)


@given(case=_cell_border_case())
@SET
def test_points_on_hex_cell_borders(spark, case):
    _agree(spark, *case)
