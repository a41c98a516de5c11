"""The per-point rect queries (range_near, areadist_square,
spatial_antijoin) answer from one points scan and keep the oracle's
empty-candidate defaults. The geotag key tables are read with a
declared one-column schema, so building a rect query's plan launches no
Spark job, and a key the file lacks fails the scan by name instead of
yielding null rows."""

import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E

from extract_sf_r_parallel_spark.plans import registry
from extract_sf_r_parallel_spark.plans import spatial_queries as SQ

@pytest.fixture(scope="module")
def sparse_dir(tmp_path_factory):
    """600 points and 30 rectangles over the 20 km window: most points
    have no candidate, so their rows carry the LEFT-join NULLs."""
    d = tmp_path_factory.mktemp("sparse")
    rng = np.random.default_rng(5)
    okeys = np.sort(rng.choice(2_000_000, 600, replace=False) + 1)
    pkeys = np.sort(rng.choice(40_000, 30, replace=False) + 1)
    pq.write_table(pa.table({"o_orderkey": okeys.astype(np.int64)}),
                   str(d / "orders.parquet"))
    pq.write_table(pa.table({"p_partkey": pkeys.astype(np.int64)}),
                   str(d / "part.parquet"))
    return str(d)


def test_rect_query_plan_build_runs_no_spark_job(spark, sparse_dir):
    tracker = spark.sparkContext.statusTracker()
    for name in ("range_near", "areadist_square", "knn3",
                 "spatial_antijoin"):
        before = set(tracker.getJobIdsForGroup(None))
        registry.QUERIES[name](spark, sparse_dir)
        assert set(tracker.getJobIdsForGroup(None)) == before, name


def test_rect_queries_scan_the_points_once(spark, sparse_dir):
    for name in ("range_near", "areadist_square", "spatial_antijoin"):
        df = registry.QUERIES[name](spark, sparse_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = re.findall(r"Location: \w+\(\d+ paths\)\[[^\]]*/orders\.parquet\]",
                           plan)
        assert len(scans) == 1, name


def test_sparse_layer_keeps_oracle_defaults(spark, sparse_dir):
    # the no-candidate rows must reach the defaults (n_cand 0,
    # near_dist maxdist, area 0), never a 0-distance or full-window pair
    con = duckdb.connect()
    for t in ("orders", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sparse_dir}/{t}.parquet')")
    oracle = E.oracle_sql()
    for name in ("range_near", "areadist_square", "spatial_antijoin",
                 "knn3"):
        got = registry.QUERIES[name](spark, sparse_dir).toPandas()
        want = con.sql(oracle[name]).df()
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols, name
        got = got[cols].sort_values(cols).reset_index(drop=True)
        want = want[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      obj=name)
        if name == "range_near":  # the defaults are exercised
            assert (got["n_cand"] == 0).sum() > 100


def test_missing_key_fails_by_table_name(spark, tmp_path):
    pq.write_table(pa.table({"o_custkey": pa.array([1, 2], pa.int64())}),
                   str(tmp_path / "orders.parquet"))
    with pytest.raises(Exception, match="orders.parquet: null or missing "
                                        "o_orderkey"):
        SQ.points_df(spark, str(tmp_path)).collect()


def test_null_key_fails_by_table_name(spark, tmp_path):
    pq.write_table(pa.table({"p_partkey": pa.array([1, None], pa.int64())}),
                   str(tmp_path / "part.parquet"))
    with pytest.raises(Exception, match="part.parquet: null or missing "
                                        "p_partkey"):
        SQ.rects_df(spark, str(tmp_path)).collect()


def test_int32_key_still_reads(spark, tmp_path):
    pq.write_table(pa.table({"o_orderkey": pa.array([7, 10], pa.int32())}),
                   str(tmp_path / "orders.parquet"))
    got = sorted(r["pid"] for r in SQ.points_df(spark, str(tmp_path))
                 .select("pid").collect())
    assert got == [7, 10]


def test_string_key_raises(spark, tmp_path):
    pq.write_table(pa.table({"o_orderkey": pa.array(["7", "10"])}),
                   str(tmp_path / "orders.parquet"))
    with pytest.raises(Exception):
        SQ.points_df(spark, str(tmp_path)).collect()
