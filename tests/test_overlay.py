"""Feature×feature overlay join: reference-point dedup correctness."""

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.operators.overlay import rect_overlay_pairs


def _layer(spark, pdf):
    df = spark.createDataFrame(pdf)
    ring = F.array(
        F.col("rxmin"), F.col("rymin"), F.col("rxmax"), F.col("rymin"),
        F.col("rxmax"), F.col("rymax"), F.col("rxmin"), F.col("rymax"),
        F.col("rxmin"), F.col("rymin"))
    return df.withColumn("geom", F.array(ring))


def _brute(a, b, closed=True):
    out = []
    for ra in a.itertuples():
        for rb in b.itertuples():
            if closed:
                hit = (ra.rxmin <= rb.rxmax and rb.rxmin <= ra.rxmax
                       and ra.rymin <= rb.rymax and rb.rymin <= ra.rymax)
            else:
                hit = (ra.rxmin < rb.rxmax and rb.rxmin < ra.rxmax
                       and ra.rymin < rb.rymax and rb.rymin < ra.rymax)
            if hit:
                iw = min(ra.rxmax, rb.rxmax) - max(ra.rxmin, rb.rxmin)
                ih = min(ra.rymax, rb.rymax) - max(ra.rymin, rb.rymin)
                out.append((ra.fid, rb.fid, iw * ih))
    return sorted(out)


def _mk(rng, n, lo, hi, max_w):
    x0 = rng.integers(lo, hi, n).astype(float)
    y0 = rng.integers(lo, hi, n).astype(float)
    return pd.DataFrame({
        "fid": range(n),
        "rxmin": x0, "rymin": y0,
        "rxmax": x0 + rng.integers(1, max_w, n),
        "rymax": y0 + rng.integers(1, max_w, n)})


def test_overlay_exactly_once_small_cells(spark):
    """Features spanning MANY cells (max_w 3000 ≫ edge 250) meet in
    dozens of shared cells; every true pair must come out exactly
    once with the exact intersection area."""
    rng = np.random.default_rng(13)
    a, b = _mk(rng, 60, 0, 8000, 3000), _mk(rng, 60, 0, 8000, 3000)
    got = rect_overlay_pairs(_layer(spark, a), _layer(spark, b),
                             cell_edge=250.0) \
        .select("fid_a", "fid_b", "inter_area").toPandas()
    got_t = sorted(map(tuple, got.to_numpy().tolist()))
    want = _brute(a, b)
    assert len(want) > 150  # dense fixture really is dense
    assert got_t == want


def test_overlay_boundary_contact_and_open_mode(spark):
    a = pd.DataFrame({"fid": [0], "rxmin": [0.0], "rymin": [0.0],
                      "rxmax": [10.0], "rymax": [10.0]})
    b = pd.DataFrame({"fid": [0, 1],
                      "rxmin": [10.0, 20.0], "rymin": [0.0, 0.0],
                      "rxmax": [15.0, 25.0], "rymax": [10.0, 10.0]})
    da, db = _layer(spark, a), _layer(spark, b)
    closed = rect_overlay_pairs(da, db, cell_edge=50.0).toPandas()
    assert len(closed) == 1 and closed["inter_area"].iloc[0] == 0.0
    open_ = rect_overlay_pairs(da, db, cell_edge=50.0,
                               closed=False).toPandas()
    assert len(open_) == 0


def test_overlay_payload_columns_ride_along(spark):
    rng = np.random.default_rng(7)
    a = _mk(rng, 20, 0, 2000, 400)
    a["tag"] = [f"a{i}" for i in range(20)]
    b = _mk(rng, 20, 0, 2000, 400)
    got = rect_overlay_pairs(_layer(spark, a), _layer(spark, b),
                             cell_edge=300.0).toPandas()
    assert "tag" in got.columns  # unshared column keeps its name
    assert {"fid_a", "fid_b", "inter_area"} <= set(got.columns)
    assert sorted(map(tuple, got[["fid_a", "fid_b", "inter_area"]]
                      .to_numpy().tolist())) == _brute(a, b)


_PLAN_SCRIPT = """
import re, sys
sys.path.insert(0, sys.argv[1])
from extract_sf_r_parallel_spark.session import get_spark
from extract_sf_r_parallel_spark.plans import registry
spark = get_spark(app="overlay_plan", master="local[1]")
df = registry.QUERIES["layer_overlay"](spark, sys.argv[2])
qe = df._jdf.queryExecution()
seen = {}
print(df.columns)
for plan in (qe.analyzed().toString(), qe.optimizedPlan().toString()):
    print(re.sub(r"#\\d+", lambda m: seen.setdefault(m.group(0), f"#{len(seen)}"),
                 plan))
spark.stop()
"""


def test_layer_overlay_plan_does_not_depend_on_hash_seed(tmp_path):
    """The shared-column renames follow the input's column order, so
    two processes with different string-hash seeds build one plan."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pq.write_table(pa.table({"p_partkey": np.arange(200, dtype=np.int64)}),
                   str(tmp_path / "part.parquet"))
    outs = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, SPARK_GRAFT_CPUS="1",
                   SPARK_DRIVER_MEM="1g")
        p = subprocess.run([sys.executable, "-c", _PLAN_SCRIPT, repo,
                            str(tmp_path)],
                           capture_output=True, text=True, timeout=600,
                           env=env)
        assert p.returncode == 0, p.stderr[-4000:]
        outs.append(p.stdout)
    assert "rxmin_a" in outs[0]
    assert outs[0] == outs[1]
