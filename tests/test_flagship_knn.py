"""Value-level oracles for the driver's rows-only spatial entries:
the flagship circle-kernel query (q_areadist_circle) against the
serial NumPy oracle, and knn_join ring expansion against brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from extract_sf_r_parallel_spark.geo import kernels as K
from extract_sf_r_parallel_spark.operators.knn import knn_join
from extract_sf_r_parallel_spark.oracle import areadist_oracle
from extract_sf_r_parallel_spark.plans.registry import _circle_inputs

SF_DIR = "/root/testdata/sf0.001"


def _pandas_inputs(spark):
    pts, polys = _circle_inputs(spark, SF_DIR)
    ppd = pts.toPandas()
    lpd = polys.toPandas()
    lpd["is_valid_truth"] = True
    return ppd, lpd


def test_flagship_circle_query_matches_serial_oracle(spark):
    # the raw operator at full precision (the driver query adds the
    # 2-6dp ROUND layer shared with its DuckDB closed-form oracle —
    # that layer is checked by CORRECTNESS, not here)
    from extract_sf_r_parallel_spark.operators.areadist import areadist
    pts, polys = _circle_inputs(spark, SF_DIR)
    got = areadist(pts, polys, validity_filter=False) \
        .drop("x", "y").toPandas()
    ppd, lpd = _pandas_inputs(spark)
    want = areadist_oracle(ppd, lpd, validity_filter=False)
    g = got.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    w = want.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    assert len(g) == len(w) == len(ppd)
    for c in ["NEAR_DIST", "AREA150", "PROP150", "MEANAGE_150",
              "AREA565", "PROP565", "MEANAGE_565"]:
        np.testing.assert_allclose(
            g[c].to_numpy(float), w[c].to_numpy(float),
            rtol=1e-9, atol=1e-9, equal_nan=True, err_msg=c)


def test_knn_ring_expansion_matches_brute_force(spark):
    pts, polys = _circle_inputs(spark, SF_DIR)
    pts = pts.filter(F.col("PKEY").cast("long") % 40 == 0)
    got = knn_join(pts, polys, k=3, r0=500.0, max_radius=64000.0).toPandas()
    ppd = pts.toPandas()
    lpd = polys.toPandas()
    rings = [np.asarray(g[0], np.float64).reshape(-1, 2) for g in lpd["geom"]]
    fids = lpd["feature_id"].to_numpy()
    n = len(rings)
    for _, p in ppd.iterrows():
        d = K.pairs_point_polygon_distance(
            np.full(n, p["x"]), np.full(n, p["y"]), rings)
        order = np.lexsort((fids, d))[:3]
        want = [(int(fids[i]), d[i]) for i in order]
        sub = got[got.PKEY == p["PKEY"]].sort_values("rk")
        assert len(sub) == 3
        for (wf, wd), r in zip(want, sub.itertuples()):
            assert r.feature_id == wf
            assert r.dist == pytest.approx(wd, rel=1e-12)
