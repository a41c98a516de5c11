"""Round-2 fixes (VERDICT/ADVICE r01):

- all-sentinel-YEAR layers: MEANAGE null-contribution semantics agree
  across oracle, join path, and fused path (ADVICE r01 #3), and the
  fused path emits SQL NULL (not NaN);
- the areadist planner picks the fused vs join kernel from the feature
  count (VERDICT wrong-#3), result-identical either way;
- matmul_topk routes oversize corpora to the distributed JVM brute
  force instead of collecting to the driver (VERDICT wrong-#1);
- ngram_jaccard_pairs caps oversized blocks (VERDICT wrong-#2);
- every areadist path rejects duplicate feature_ids (ADVICE #4).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.operators import areadist_fused as AF
from extract_sf_r_parallel_spark.operators import dedup as D
from extract_sf_r_parallel_spark.operators import similarity as S
from extract_sf_r_parallel_spark.operators.areadist import (
    areadist,
    areadist_join,
)
from extract_sf_r_parallel_spark.operators.areadist_fused import areadist_fused
from extract_sf_r_parallel_spark.oracle import areadist_oracle

from .conftest import GEOTAGGED_SCHEMA, LAYER_SCHEMA

METRICS = ["NEAR_DIST", "AREA150", "PROP150", "MEANAGE_150",
           "AREA565", "PROP565", "MEANAGE_565"]


@pytest.fixture(scope="module")
def frames():
    images = synth.geotag_images_pdf(synth.images_pdf(100))
    layers = synth.footprint_layers_pdf(200)
    # make one whole layer all-sentinel (no real construction year)
    lname = sorted(layers["layer"].unique())[0]
    layers = layers.copy()
    layers.loc[layers["layer"] == lname, "YEAR"] = 0
    return images, layers, lname


def _cmp(got, want):
    g = got.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    w = want.sort_values(["PKEY", "layer"]).reset_index(drop=True)
    assert len(g) == len(w)
    for c in METRICS:
        np.testing.assert_allclose(
            g[c].to_numpy(float), w[c].to_numpy(float),
            rtol=1e-9, atol=1e-9, equal_nan=True, err_msg=c)


def test_all_sentinel_year_layer_agrees(spark, frames):
    images, layers, lname = frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    fused_df = areadist_fused(pts, pls)
    fused = fused_df.toPandas()
    join = areadist_join(pts, pls).toPandas()
    want = areadist_oracle(images, layers)
    _cmp(fused, want)
    _cmp(join, want)
    # the sentinel layer: MEANAGE must be undefined everywhere, even
    # where footprint area exists (ages are unknowable, not year+1)
    sub = fused[fused.layer == lname]
    assert sub["AREA565"].gt(0).any(), "fixture: sentinel layer hits nothing"
    assert sub["MEANAGE_565"].isna().all()
    # fused emits SQL NULL, never NaN (join-path/LEFT-join parity)
    n_nan = fused_df.filter(F.isnan("MEANAGE_565")).count()
    assert n_nan == 0
    n_null = fused_df.filter(F.isnull("MEANAGE_565")).count()
    assert n_null == join[np.isnan(join["MEANAGE_565"].to_numpy(float))].shape[0]


def test_areadist_gates_on_feature_count(spark, frames, monkeypatch):
    images, layers, _ = frames
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    # under the gate → fused single-stage plan (no Exchange)
    small = areadist(pts, pls)
    assert "Exchange" not in small._jdf.queryExecution().executedPlan().toString()
    # over the gate → the join kernel's shuffle branch
    monkeypatch.setattr(AF, "MAX_BROADCAST_FEATURES", 10)
    big = areadist(pts, pls)
    assert "Exchange" in big._jdf.queryExecution().executedPlan().toString()
    _cmp(small.toPandas(), big.toPandas())


def test_matmul_topk_routes_oversize_to_brute_force(spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    fast = S.matmul_topk(vecs, vecs, k=2, round_dp=6).toPandas()
    routed = S.matmul_topk(vecs, vecs, k=2, round_dp=6,
                           max_broadcast_rows=10).toPandas()
    assert (set(zip(fast.qid, fast.rk, fast.nid))
            == set(zip(routed.qid, routed.rk, routed.nid)))


def test_ngram_jaccard_block_cap(spark):
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    # oversized block "big": 30 docs incl. a planted dup pair
    for i in range(30):
        rows.append((i, " ".join(rng.choice(vocab, 40)), "big"))
    rows.append((1000, rows[0][1], "big"))
    # small block with a planted dup pair
    rows.append((50, " ".join(rng.choice(vocab, 40)), "small"))
    rows.append((1050, rows[-1][1], "small"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "blk"]))
    out = D.ngram_jaccard_pairs(df, threshold=0.9, block_col="blk",
                                max_bucket=20).toPandas()
    found = set(zip(out.id_a, out.id_b))
    assert (50, 1050) in found          # small block verified
    assert (0, 1000) not in found       # oversized block dropped, not scanned
    uncapped = D.ngram_jaccard_pairs(df, threshold=0.9, block_col="blk",
                                     max_bucket=500).toPandas()
    assert (0, 1000) in set(zip(uncapped.id_a, uncapped.id_b))


def test_broadcast_index_rejects_duplicate_fids(spark, frames, monkeypatch):
    images, layers, _ = frames
    dup = pd.concat([layers, layers.iloc[[0]]], ignore_index=True)
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA)
    pls = spark.createDataFrame(dup, LAYER_SCHEMA)
    with pytest.raises(Exception, match="duplicate feature_id"):
        areadist_join(pts, pls, broadcast_polys=True).collect()
    # the planner's fused kernel, both dissolve modes
    for dissolve in ("auto", "sum"):
        with pytest.raises(ValueError, match="duplicate feature_id"):
            areadist(pts, pls, dissolve=dissolve)
    # the join kernel's shuffle branch, directly and through the planner
    for dissolve in ("auto", "sum"):
        with pytest.raises(ValueError, match="duplicate feature_id"):
            areadist_join(pts, pls, dissolve=dissolve)
    monkeypatch.setattr(AF, "MAX_BROADCAST_FEATURES", 10)
    with pytest.raises(ValueError, match="duplicate feature_id"):
        areadist(pts, pls, dissolve="sum")
