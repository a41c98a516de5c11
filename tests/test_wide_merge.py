"""The capstone wide-merge artifact (C_…R:1194-1208, D_…R:595-608):
14 footprint layers (temporal + age) + 5 wetland classes (neither) as
<layer>_<METRIC> columns, one row per (PKEY, SS, YEAR). The reference
asserts its final table keeps exactly one row per point (83,439 —
C_…R:707-709); this is that invariant at fixture scale, plus the full
column inventory. Both routes — one fused pass over the union of the
two feature sides, and two areadist calls pivoted and key-joined —
give the same table."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.operators import areadist_fused as AF
from extract_sf_r_parallel_spark.plans import registry, spatial_queries
from extract_sf_r_parallel_spark.plans.registry import (
    _WM_CLASSES,
    _WM_LAYERS,
    q_wide_merge,
)

SF_DIR = "/root/testdata/sf0.001"


def test_wide_merge_row_invariant_and_columns(spark):
    out = q_wide_merge(spark, SF_DIR)
    n_points = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderkey") % 10 == 0).count())
    # the inner merge must preserve the point count: both sides emit
    # every point densely (LEFT semantics), so nothing drops
    assert out.count() == n_points

    cols = set(out.columns)
    assert {"PKEY", "SS", "YEAR"} <= cols
    want = set()
    for L in _WM_LAYERS:
        want |= {f"{L}_NEAR_DIST"}
        for r in (150, 565):
            want |= {f"{L}_AREA{r}", f"{L}_PROP{r}", f"{L}_MEANAGE_{r}"}
    for C in _WM_CLASSES:
        want |= {f"{C}_NEAR_DIST"}
        for r in (150, 565):
            want |= {f"{C}_AREA{r}", f"{C}_PROP{r}"}
    assert cols == {"PKEY", "SS", "YEAR"} | want
    assert len(cols) == 3 + 14 * 7 + 5 * 5

    # one row per key triple (the merge is keyed, not fanned out)
    assert out.select("PKEY", "SS", "YEAR").distinct().count() == n_points


@pytest.mark.parametrize("name", ["wide_merge", "wide_merge_sum"])
def test_fused_route_matches_join_route(spark, monkeypatch, name):
    fused_df = registry.QUERIES[name](spark, SF_DIR)
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Join" not in plan
    fused = fused_df.toPandas()
    monkeypatch.setattr(AF, "MAX_BROADCAST_FEATURES", 10)
    joined_df = registry.QUERIES[name](spark, SF_DIR)
    assert "Join" in joined_df._jdf.queryExecution().executedPlan().toString()
    joined = joined_df.toPandas()
    assert list(joined.columns) == list(fused.columns)
    assert len(fused) > 0
    pd.testing.assert_frame_equal(
        fused.sort_values("PKEY").reset_index(drop=True),
        joined.sort_values("PKEY").reset_index(drop=True))


def test_layer_in_both_sides_raises(spark, monkeypatch):
    monkeypatch.setattr(registry, "_WM_CLASSES",
                        ["L00", "Fen", "Marsh", "Open_Water", "Swamp"])
    with pytest.raises(ValueError, match="'L00'.* both"):
        q_wide_merge(spark, SF_DIR)


def test_one_index_per_call(spark):
    AF.clear_index_cache()
    try:
        q_wide_merge(spark, SF_DIR)
        assert len(AF._IDX_CACHE) == 1
    finally:
        AF.clear_index_cache()


def test_raster_fallback_layer_stays_on_fused_route(spark, monkeypatch,
                                                    tmp_path):
    """12 mutually overlapping squares at one point put L00 beyond the
    exact union: the fused pass still answers all 19 layers, and equals
    the join route value for value."""
    p = spatial_queries._keyed_points(spark, SF_DIR).first()
    geoms = [[[p.x - 25 + i, p.y - 25 + i, p.x + 25 + i, p.y - 25 + i,
               p.x + 25 + i, p.y + 25 + i, p.x - 25 + i, p.y + 25 + i,
               p.x - 25 + i, p.y - 25 + i]] for i in range(12)]
    pq.write_table(pa.table({
        "feature_id": pa.array(range(10**9, 10**9 + 12), pa.int64()),
        "layer": ["L00"] * 12,
        "YEAR": pa.array([1900] * 12, pa.int32()),
        "geom": geoms}), str(tmp_path / "stair.parquet"))

    def foot_polys():
        return spatial_queries._pair_rect_polys(
            spark, SF_DIR, foot14=True).unionByName(
            spark.read.parquet(str(tmp_path / "stair.parquet")))

    def wet_polys():
        return spatial_queries._pair_rect_polys(
            spark, SF_DIR, with_class=True, classes=tuple(_WM_CLASSES),
            layer_col="CWCS_Class")

    def run():
        return registry._wide_merge(spark, SF_DIR, foot_polys, wet_polys,
                                    dissolve="auto")

    AF.clear_index_cache()
    try:
        fused_df = run()
        plan = fused_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "Join" not in plan
        fused = fused_df.toPandas()
        ((idx, _),) = AF._IDX_CACHE.values()
        assert [n for n, r in zip(idx.layers, idx.raster) if r] == ["L00"]
    finally:
        AF.clear_index_cache()
    monkeypatch.setattr(AF, "MAX_BROADCAST_FEATURES", 10)
    joined = run().toPandas()
    assert list(joined.columns) == list(fused.columns)
    pd.testing.assert_frame_equal(
        fused.sort_values("PKEY").reset_index(drop=True),
        joined.sort_values("PKEY").reset_index(drop=True))
    # the point's L00 union is the stair's raster union, not Σ of clips
    row = fused.set_index("PKEY").loc[p.PKEY]
    assert row["L00_AREA150"] < 12 * 2500 / 2
