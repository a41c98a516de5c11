"""Physical-plan shape checks (the 100 TB design invariants): filters
reach the parquet scan, projections prune columns, small dims
broadcast, and relational pipelines stay inside WholeStageCodegen."""

import pytest
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.operators.areadist import areadist
from extract_sf_r_parallel_spark.plans import relational, spatial_queries

from .conftest import GEOTAGGED_SCHEMA, LAYER_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # scan must read only the two projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_multi_join_broadcasts_small_dims(spark):
    plan = _plan(relational.q_multi_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_pricing_summary_partial_aggregation(spark):
    """Map-side combine: two HashAggregates around ONE exchange — the
    shuffle carries pre-aggregated partials, not raw lineitem rows."""
    plan = _plan(relational.q_pricing_summary(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("+- Exchange") == 1
    assert "Scan parquet" in plan


def test_rect_pairs_is_equi_join_with_jvm_refinement(spark):
    """The flagship spatial join must compile to a hash equi join on
    the cell id with NO Python evaluation in the distance refinement
    (pure Column arithmetic for axis-aligned features)."""
    import re
    pairs = spatial_queries.rect_pairs(spark, SF_DIR).filter("dist < 1000")
    plan = _plan(pairs)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # the distance refinement is Column arithmetic pushed INTO the join
    # condition (SQRT/GREATEST), not a Python stage
    assert "Join condition: (SQRT" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    # the cell ids and the cover are JVM expressions: no Python stage
    n_arrow = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    assert n_arrow == 0


def _join_inputs(df) -> set[str]:
    """Names of the columns entering any Join of the optimized plan."""
    stack, names = [df._jdf.queryExecution().optimizedPlan()], set()
    while stack:
        node = stack.pop()
        kids = [node.children().apply(i)
                for i in range(node.children().size())]
        if node.getClass().getSimpleName() == "Join":
            names |= {k.output().apply(j).name()
                      for k in kids for j in range(k.output().size())}
        stack += kids
    return names


def test_ring_join_runs_one_python_stage(spark):
    """Over ring geometry the cell ids, the bbox and the cover are JVM
    expressions; the only Python stage is the exact refinement UDF, on
    both geometry paths: `geom` through Arrow, or packed rings in a
    broadcast (`bc_metrics`), whose join carries no `geom`."""
    import re

    from extract_sf_r_parallel_spark.operators.range_join import (
        broadcast_pair_metrics_udf,
        range_join_pairs,
    )
    # built over range(), not a local relation, so the optimizer cannot
    # fold the projections into the data
    x0 = "CAST(id AS DOUBLE)"
    ring = f"{x0}, 0.0D, 50.0D, 0.0D, 50.0D, 50.0D, 0.0D, 50.0D, {x0}, 0.0D"
    polys = spark.range(1, 3).selectExpr(
        "id AS feature_id", f"array(array({ring})) AS geom")
    points = spark.range(1).selectExpr("CAST(id AS DOUBLE) + 10.0D AS x",
                                       "CAST(id AS DOUBLE) + 20.0D AS y")
    arrow = range_join_pairs(points, polys, 1000.0)
    bc = range_join_pairs(points, polys, 1000.0,
                          bc_metrics=broadcast_pair_metrics_udf(spark, polys))
    for pairs in (arrow, bc):
        plan = _plan(pairs)
        assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1
        # the bbox is computed once per feature: not copied into the
        # cover's corner expressions, nor into an inferred isnotnull
        # filter
        opt = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("array_min(") == opt.count("array_max(") == 2
    assert "geom" in _join_inputs(arrow)
    assert "geom" not in _join_inputs(bc)
    assert "BroadcastHashJoin" in _plan(bc)
    rows = [sorted(p.select("feature_id", "dist").collect())
            for p in (arrow, bc)]
    assert rows[0] == rows[1] and len(rows[0]) == 2


def test_areadist_left_defaults_edge_cases(spark):
    """FIXTURES.md §6 micro-cases: temporal filter empties candidates →
    full defaults; circle fully inside a big polygon → AREA=π_lit·r²·…
    exact values."""
    import numpy as np
    import pandas as pd

    big = np.array([[0, 0], [4000, 0], [4000, 4000], [0, 4000], [0, 0]], float)
    layers = pd.DataFrame([{
        "feature_id": 1, "layer": "big", "YEAR": 2015,
        "geom": [big.ravel().tolist()], "is_valid_truth": True,
    }])
    pts = pd.DataFrame([{
        "image_id": "p1", "bytes": b"", "w": 1, "h": 1, "fmt": "raw",
        "caption": "", "phash": 0, "x": 2000.0, "y": 2000.0,
        "YEAR": 2020, "PKEY": "p1", "SS": "p1",
    }, {
        "image_id": "p2", "bytes": b"", "w": 1, "h": 1, "fmt": "raw",
        "caption": "", "phash": 0, "x": 2000.0, "y": 2000.0,
        "YEAR": 2010,  # poly YEAR 2015 ≥ 2010 → temporally excluded
        "PKEY": "p2", "SS": "p2",
    }])
    sdf_p = spark.createDataFrame(pts, GEOTAGGED_SCHEMA)
    sdf_l = spark.createDataFrame(layers, LAYER_SCHEMA)
    got = areadist(sdf_p, sdf_l).toPandas().set_index("PKEY")
    # p1: circle fully inside → AREA150 = π·150² (true π), PROP = π/3.14
    assert got.loc["p1", "AREA150"] == pytest.approx(np.pi * 150**2, rel=1e-12)
    assert got.loc["p1", "PROP150"] == pytest.approx(np.pi / 3.14, rel=1e-12)
    assert got.loc["p1", "NEAR_DIST"] == 0.0
    assert got.loc["p1", "MEANAGE_150"] == pytest.approx(5.0)
    # p2: temporal filter removed everything → defaults (C_…R:99,116,159)
    assert got.loc["p2", "AREA150"] == 0.0
    assert got.loc["p2", "NEAR_DIST"] == 1000.0
    assert np.isnan(got.loc["p2", "MEANAGE_150"])


def test_sessions_batch_twin_is_pure_jvm(spark):
    """The sessionization batch twin (gaps-and-islands) must be window
    functions only — zero Python stages."""
    from extract_sf_r_parallel_spark.plans.registry import q_sessions
    plan = _plan(q_sessions(spark, SF_DIR))
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_reproject_is_arrow_vectorized(spark):
    """CRS reprojection runs as one Arrow-batched projection over the
    scan — vectorized Python (ArrowEvalPython), never row-at-a-time
    (BatchEvalPython), no shuffle."""
    from extract_sf_r_parallel_spark.plans.spatial_queries import q_reproject
    plan = _plan(q_reproject(spark, SF_DIR))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # one exchange only: the deliberate single-file → cluster spread
    assert plan.count("+- Exchange") <= 1


def test_dissolve_query_is_single_stage_fused(spark):
    """The exact-dissolve query runs the fused broadcast plan: one
    narrow mapInPandas, correction pseudo-features inside the
    broadcast index — no join, no shuffle, no row-at-a-time Python.
    (The join path's dissolve plan is exercised in
    tests/test_dissolve_exact.py.)"""
    from extract_sf_r_parallel_spark.plans.spatial_queries import (
        q_areadist_dissolve,
    )
    plan = _plan(q_areadist_dissolve(spark, SF_DIR))
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    # the only exchange is the deliberate single-file probe spread
    assert plan.count("+- Exchange") <= 1


def test_salted_join_key_in_plan_and_result_identical(spark):
    """Skew salting (north-rule row, SURVEY §4): with salt=k the
    shuffle join key must include the _salt column (polys replicated
    k ways, points routed by hash) and the pair set must be identical
    to the unsalted join."""
    from extract_sf_r_parallel_spark.operators.range_join import (
        range_join_pairs,
    )
    sf = "/root/testdata/sf0.001"
    pts = spatial_queries.points_df(spark, sf)
    polys = spatial_queries.rects_df(spark, sf).select(
        F.col("fid").alias("feature_id"), "geom")
    salted = range_join_pairs(pts, polys, 1000.0, salt=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "salted join key missing from the physical plan"
    unsalted = range_join_pairs(pts, polys, 1000.0, salt=0)
    a = {(r.pid, r.feature_id) for r in
         salted.select("pid", "feature_id").collect()}
    b = {(r.pid, r.feature_id) for r in
         unsalted.select("pid", "feature_id").collect()}
    assert a == b and len(a) > 0


def test_auto_salt_engages_on_skew_only(spark):
    """VERDICT r04 #3: salt='auto' must detect a hot cell from the
    sampled histogram and salt the join key with NO caller hint — and
    must stay un-salted (zero replication) on a uniform layout. Result
    set identical either way."""
    from extract_sf_r_parallel_spark.operators import range_join as RJ

    sf = "/root/testdata/sf0.01"  # sf0.001 has no rect near the hot point
    # one-hot-cell shape: every point lands in the same hex cell
    pts = spatial_queries.points_df(spark, sf).select(
        "pid",
        (F.lit(10000.0) + F.pmod("pid", F.lit(40)) / 10.0).alias("x"),
        (F.lit(10000.0) + F.pmod("pid", F.lit(37)) / 10.0).alias("y"))
    polys = spatial_queries.rects_df(spark, sf).select(
        F.col("fid").alias("feature_id"), "geom")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        old = RJ.AUTO_SALT_PAIRS_PER_TASK
        # sf0.001 is tiny — drop the task budget so the fixture's hot
        # cell crosses it (the decision logic, not the constant, is
        # under test)
        RJ.AUTO_SALT_PAIRS_PER_TASK = 50
        try:
            auto = RJ.range_join_pairs(pts, polys, 1000.0, salt="auto")
            plan = auto._jdf.queryExecution().executedPlan().toString()
            assert "_salt" in plan, "auto salt did not engage on the hot cell"
            raw = RJ.range_join_pairs(pts, polys, 1000.0, salt=0)
            a = {(r.pid, r.feature_id) for r in
                 auto.select("pid", "feature_id").collect()}
            b = {(r.pid, r.feature_id) for r in
                 raw.select("pid", "feature_id").collect()}
            assert a == b and len(a) > 0
        finally:
            RJ.AUTO_SALT_PAIRS_PER_TASK = old
        # uniform layout at the REAL budget: no hot cell -> no salt
        upts = spatial_queries.points_df(spark, sf)
        quiet = RJ.range_join_pairs(upts, polys, 1000.0, salt="auto")
        qplan = quiet._jdf.queryExecution().executedPlan().toString()
        assert "_salt" not in qplan, "auto salt fired on a uniform layout"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_salt_applies_to_the_shuffle_join_only(spark):
    """`bc_metrics` makes the join broadcast, where salting only pays
    replication: a salt passed with it raises instead of being
    ignored."""
    from extract_sf_r_parallel_spark.operators.range_join import (
        broadcast_pair_metrics_udf,
        range_join_pairs,
    )
    polys = spark.createDataFrame(
        [(1, [[0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 0.0]])],
        "feature_id long, geom array<array<double>>")
    points = spark.range(1).selectExpr("0.5D AS x", "0.5D AS y")
    bc = broadcast_pair_metrics_udf(spark, polys)
    for salt in (8, "auto"):
        with pytest.raises(ValueError, match="salt applies to the shuffle"):
            range_join_pairs(points, polys, 10.0, salt=salt, bc_metrics=bc)
