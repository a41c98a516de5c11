"""r08: the pure-JVM cell/cover expressions must be BIT-IDENTICAL to
their NumPy twins (geo.index.xy_to_cell / cover_bbox_many) — the
candidate join's soundness argument is rounding-agnostic, but the
engine promises exact parity so mixed JVM/NumPy call sites (fused
broadcast index vs JVM point cells) agree on every cell id."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from extract_sf_r_parallel_spark.geo import index as I
from extract_sf_r_parallel_spark.operators.range_join import (
    cell_col,
    explode_bbox_cells,
    explode_poly_cells,
    with_cell,
)


def test_rint_magic_matches_np_rint():
    rng = np.random.default_rng(7)
    x = np.concatenate([
        rng.uniform(-1e6, 1e6, 200_000),
        np.arange(-500, 500) + 0.5,           # exact ties
        np.arange(-500, 500) - 0.5,
        np.nextafter(np.arange(-50, 50) + 0.5, np.inf),
        np.nextafter(np.arange(-50, 50) + 0.5, -np.inf),
    ])
    magic = 6755399441055744.0
    assert np.array_equal(np.rint(x), (x + magic) - magic)


def test_cell_col_matches_xy_to_cell(spark):
    rng = np.random.default_rng(11)
    n = 50_000
    # fixture-window coords, integer-valued and fractional, plus
    # adversarial points ON cell boundaries (multiples of edge/2)
    xs = np.concatenate([
        rng.uniform(0, 20000, n), rng.integers(0, 20000, n).astype(float),
        np.arange(0, 4096, 16, dtype=float)])
    ys = np.concatenate([
        rng.uniform(0, 20000, n), rng.integers(0, 20000, n).astype(float),
        np.arange(0, 4096, 16, dtype=float)[::-1]])
    pdf = pd.DataFrame({"x": xs, "y": ys})
    df = spark.createDataFrame(pdf)
    for code in (0, 4, 6, 9):
        got = np.array(
            with_cell(df, code).select("cell").toPandas()["cell"],
            dtype=np.int64)
        want = I.xy_to_cell(xs, ys, code)
        assert np.array_equal(got, want), f"code={code}"


def test_explode_bbox_cells_matches_cover_bbox_many(spark):
    rng = np.random.default_rng(13)
    n = 2_000
    x0 = rng.uniform(0, 19000, n)
    y0 = rng.uniform(0, 19000, n)
    w = rng.uniform(0, 900, n)
    h = rng.uniform(0, 900, n)
    pdf = pd.DataFrame({"fid": np.arange(n), "rxmin": x0, "rymin": y0,
                        "rxmax": x0 + w, "rymax": y0 + h})
    df = spark.createDataFrame(pdf)
    for code, radius in ((4, 1000.0), (6, 0.0), (5, 250.0)):
        got = (explode_bbox_cells(df, radius, code)
               .groupBy("fid")
               .agg(F.sort_array(F.collect_list("cell")).alias("cells"))
               .toPandas().set_index("fid")["cells"].to_dict())
        cells, counts = I.cover_bbox_many(
            x0 - radius, y0 - radius, x0 + w + radius, y0 + h + radius,
            code)
        bounds = np.concatenate([[0], np.cumsum(counts)]).astype(int)
        for i in range(n):
            want = sorted(cells[bounds[i]:bounds[i + 1]].tolist())
            have = list(got.get(i, []))
            assert have == want, f"code={code} radius={radius} fid={i}"


def test_explode_poly_cells_matches_cover_bbox_many(spark):
    """The geometry cover is the bbox cover: explode_poly_cells over
    `geom` equals cover_bbox_many over the NumPy bbox of every part's
    vertices (multi-part, holed, open-polyline, negative coordinates)."""
    rng = np.random.default_rng(19)
    rows, bbox = [], []
    for fid in range(36):
        cx, cy = rng.uniform(-20000, 20000, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        rr = rng.uniform(5.0, 600.0, 7)
        ring = np.c_[cx + rr * np.cos(ang), cy + rr * np.sin(ang)]
        kind = fid % 4
        if kind == 0:    # open polyline
            parts = [ring]
        elif kind == 1:  # closed ring
            parts = [np.vstack([ring, ring[:1]])]
        elif kind == 2:  # holed ring
            hole = np.array([[cx - 2, cy - 2], [cx + 2, cy - 2],
                             [cx + 2, cy + 2], [cx - 2, cy + 2],
                             [cx - 2, cy - 2]])
            parts = [np.vstack([ring, ring[:1]]), hole]
        else:            # a later part sets the bbox
            parts = [np.vstack([ring, ring[:1]]), ring[:3] + 900.0]
        rows.append((fid, [p.ravel().tolist() for p in parts]))
        v = np.concatenate(parts)
        bbox.append((*v.min(axis=0), *v.max(axis=0)))
    bbox = np.array(bbox)
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("fid", T.LongType()),
        T.StructField("geom", T.ArrayType(T.ArrayType(T.DoubleType())))]))
    for code, radius in ((2, 0.0), (4, 4000.0)):
        got = (explode_poly_cells(df, radius, code)
               .groupBy("fid", "bxmin", "bymin", "bxmax", "bymax")
               .agg(F.sort_array(F.collect_list("cell")).alias("cells"))
               .toPandas().set_index("fid").sort_index())
        assert list(got.index) == list(range(len(rows)))
        np.testing.assert_array_equal(
            got[["bxmin", "bymin", "bxmax", "bymax"]].to_numpy(), bbox)
        cells, counts = I.cover_bbox_many(
            bbox[:, 0] - radius, bbox[:, 1] - radius,
            bbox[:, 2] + radius, bbox[:, 3] + radius, code)
        bounds = np.concatenate([[0], np.cumsum(counts)]).astype(int)
        for i in range(len(rows)):
            want = sorted(cells[bounds[i]:bounds[i + 1]].tolist())
            assert list(got.loc[i, "cells"]) == want, (code, radius, i)


def test_cell_col_composes_with_literals(spark):
    # cell_col over SQL double literals (no DataFrame round-trip)
    row = spark.range(1).select(
        cell_col("1234.0D", "5678.0D", 2).alias("c")).first()
    assert row["c"] == int(I.xy_to_cell(
        np.array([1234.0]), np.array([5678.0]), 2)[0])


def test_disk_prune_is_sound_subset(spark):
    # disk_prune must (a) only ever REMOVE cells from the square
    # cover, and (b) never remove the cell of any point within
    # `radius` of the query centre
    import pandas as pd
    rng = np.random.default_rng(17)
    n = 300
    px = rng.uniform(1000, 19000, n)
    py = rng.uniform(1000, 19000, n)
    pdf = pd.DataFrame({"qid": np.arange(n), "_px": px, "_py": py})
    df = spark.createDataFrame(pdf)
    code, radius = 5, 1000.0
    full = (explode_bbox_cells(df, radius, code, xmin="_px", ymin="_py",
                               xmax="_px", ymax="_py")
            .groupBy("qid").agg(F.collect_set("cell").alias("c"))
            .toPandas().set_index("qid")["c"].to_dict())
    pruned = (explode_bbox_cells(df, radius, code, xmin="_px",
                                 ymin="_py", xmax="_px", ymax="_py",
                                 disk_prune=True)
              .groupBy("qid").agg(F.collect_set("cell").alias("c"))
              .toPandas().set_index("qid")["c"].to_dict())
    for i in range(n):
        fs, ps = set(full.get(i, [])), set(pruned.get(i, []))
        assert ps <= fs, i
        # sample points on the disk boundary and interior: their cells
        # must be in the pruned cover
        ang = rng.uniform(0, 2 * np.pi, 64)
        rr = radius * np.sqrt(rng.uniform(0, 1.0, 64))
        rr[:16] = radius  # exact boundary
        sx = px[i] + rr * np.cos(ang)
        sy = py[i] + rr * np.sin(ang)
        cells = I.xy_to_cell(sx, sy, code)
        assert set(cells.tolist()) <= ps, i


def test_idw_same_results_with_disk_prune(spark):
    # end-to-end: idw estimates identical with and without the prune
    from extract_sf_r_parallel_spark.operators.interpolate import (
        idw_interpolate,
    )
    from extract_sf_r_parallel_spark.plans import spatial_queries as SQ
    import extract_sf_r_parallel_spark.data.geotag as G
    sf = "/root/testdata/sf0.001"
    c = spark.read.parquet(f"{sf}/customer.parquet")
    probes = c.select(
        F.col("c_custkey").alias("probe_id"),
        F.expr(G.sql_point_x("c_custkey")).alias("x"),
        F.expr(G.sql_point_y("c_custkey")).alias("y"))
    obs = SQ.points_df(spark, sf).select(
        "x", "y", F.col("pyear").cast("double").alias("v"))
    got = idw_interpolate(probes, obs, 1000.0, value="v") \
        .toPandas().sort_values("probe_id").reset_index(drop=True)
    # brute-force reference over the raw cross product
    import pandas as pd
    pp = probes.toPandas()
    oo = obs.toPandas()
    rows = []
    for r in pp.itertuples():
        d2 = (oo["x"] - r.x) ** 2 + (oo["y"] - r.y) ** 2
        m = d2 <= 1000.0 ** 2
        w = 1.0 / (1.0 + d2[m])
        est = float((w * oo["v"][m]).sum() / w.sum()) if m.any() else None
        rows.append((r.probe_id, int(m.sum()), est))
    want = pd.DataFrame(rows, columns=["probe_id", "n_obs", "est"]) \
        .sort_values("probe_id").reset_index(drop=True)
    assert (got["n_obs"] == want["n_obs"]).all()
    ge, we = got["est"].to_numpy(float), want["est"].to_numpy(float)
    ok = (np.isnan(ge) & np.isnan(we)) | (np.abs(ge - we) < 1e-6)
    assert ok.all()
