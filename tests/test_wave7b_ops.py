"""Brute-force pins for the second late-r07 wave: moran_i (vs a
direct PySAL-style double computation), raster_equalize (vs a numpy
LUT), stay_segments / od_matrix (vs sequential scans), interval
concurrency (vs a day-by-day counter), substring window duplication
(vs a dict), and ycbcr_stats (vs whole-array numpy on the decoded
pixels)."""

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.operators.focal import (
    moran_i, raster_equalize)
from extract_sf_r_parallel_spark.operators.trajectory import (
    od_matrix, stay_segments)


def grid_df(spark, v: np.ndarray):
    H, W = v.shape
    rows = [(xx, yy, int(v[yy, xx])) for yy in range(H) for xx in range(W)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cx", "cy", "v"]))


def test_moran_i_matches_direct(spark):
    rng = np.random.default_rng(23)
    v = rng.integers(0, 100, (9, 9)).astype(np.int64)
    got = moran_i(grid_df(spark, v), x="cx", y="cy", value="v").toPandas()
    n = v.size
    xbar = v.mean()
    dev = v - xbar
    num = 0.0
    w = 0
    for yy in range(9):
        for xx in range(9):
            for oy, ox in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                ny, nx = yy + oy, xx + ox
                if 0 <= ny < 9 and 0 <= nx < 9:
                    num += dev[yy, xx] * dev[ny, nx]
                    w += 1
    want = (n / w) * num / (dev * dev).sum()
    r = got.iloc[0]
    assert (r.n, r.w_pairs) == (n, w)
    assert r.s_sum == v.sum()
    # integer components scale by n²: num_int = n²·num, den_int = n²·den
    assert r.num == round(num * n * n)
    assert r.den == round((dev * dev).sum() * n * n)
    assert abs(r.moran - want) < 1e-9
    # checkerboard → strong negative autocorrelation
    cb = np.fromfunction(lambda y, x: (x + y) % 2 * 100, (8, 8)).astype(
        np.int64)
    m = moran_i(grid_df(spark, cb), x="cx", y="cy", value="v").toPandas()
    assert m.iloc[0].moran < -0.9


def test_raster_equalize_matches_numpy(spark):
    rng = np.random.default_rng(29)
    v = rng.integers(0, 50, (10, 10)).astype(np.int64)  # few levels → ties
    got = raster_equalize(grid_df(spark, v), levels=50,
                          x="cx", y="cy", value="v", block=5).toPandas()
    hist = np.bincount(v.ravel(), minlength=50)
    cdf = hist.cumsum()
    cdf_min = cdf[hist.nonzero()[0][0]]
    lut = np.where(cdf.sum() and cdf.max() > cdf_min,
                   (cdf - cdf_min) * 49 // (cdf.max() - cdf_min), 0)
    eq = lut[v]
    exp = {}
    for yy in range(10):
        for xx in range(10):
            k = (xx // 5, yy // 5)
            n, s, m = exp.get(k, (0, 0, -1))
            exp[k] = (n + 1, s + int(eq[yy, xx]), max(m, int(eq[yy, xx])))
    got_map = {(r.bx, r.by): (r.n_cells, r.sum_eq, r.max_eq)
               for r in got.itertuples()}
    assert got_map == exp
    # darkest present level maps to 0, brightest to levels-1
    assert eq[v == v.min()].min() == 0
    assert got[["max_eq"]].max().iloc[0] == 49


def _pings(spark, rows):
    return spark.createDataFrame(pd.DataFrame(
        rows, columns=["user_id", "ts", "eid", "x", "y"]))


def test_stay_segments_brute(spark):
    t0 = dt.datetime(2026, 1, 1)
    mk = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        # user 1: stay of 3 pts (2h), jump, singleton
        (1, mk(0), 1, 0.0, 0.0),
        (1, mk(3600), 2, 10.0, 10.0),
        (1, mk(7200), 3, 5.0, 0.0),
        (1, mk(7300), 4, 9000.0, 0.0),      # jump > 5000
        # user 2: two pts within box but 10s apart → segment, NOT a stay
        (2, mk(0), 5, 0.0, 0.0),
        (2, mk(10), 6, 100.0, 100.0),
    ]
    got = stay_segments(_pings(spark, rows), jump=5000.0, min_pts=2,
                        min_dur_s=3600.0, ts="ts", tiebreak="eid"
                        ).toPandas().set_index("user_id")
    assert got.loc[1].n_segs == 2
    assert got.loc[1].n_stays == 1
    assert got.loc[1].stay_pts == 3
    assert got.loc[1].stay_dur_s == 7200.0
    assert got.loc[2].n_segs == 1 and got.loc[2].n_stays == 0
    assert got.loc[2].stay_dur_s == 0.0


def test_od_matrix_brute(spark):
    t0 = dt.datetime(2026, 1, 1)
    mk = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = [(1, mk(0), 1, 0, 0), (1, mk(1), 2, 1, 0), (1, mk(2), 3, 1, 0),
            (1, mk(3), 4, 0, 0), (2, mk(0), 5, 1, 0), (2, mk(1), 6, 0, 0)]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["user_id", "ts", "eid", "tx", "ty"]))
    got = od_matrix(df, tiebreak="eid").toPandas()
    m = {(r.from_tx, r.from_ty, r.to_tx, r.to_ty): (r.n_trips, r.n_users)
         for r in got.itertuples()}
    # self-loop (1,0)→(1,0) excluded; (1,0)→(0,0) by both users
    assert m == {(0, 0, 1, 0): (1, 1), (1, 0, 0, 0): (2, 2)}


def test_interval_overlap_query_matches_daily_counter(spark):
    from extract_sf_r_parallel_spark.plans.registry import QUERIES as RQ
    sf = "/root/testdata/sf0.001"
    got = RQ["interval_overlap"](spark, sf).toPandas().set_index("l_suppkey")
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    li["d0"] = li.l_shipdate.astype("datetime64[us]").astype(np.int64) \
        // 86_400_000_000
    li["len"] = (li.l_orderkey * 7 + li.l_linenumber) % 20 + 1
    for sk, g in li.groupby("l_suppkey"):
        lo, hi = g.d0.min(), (g.d0 + g.len).max()
        days = np.zeros(hi - lo + 1, dtype=np.int64)
        for r in g.itertuples():
            days[r.d0 - lo:r.d0 + r.len - lo + 1] += 1
        assert got.loc[sk].max_open == days.max(), sk
        assert got.loc[sk].n_intervals == len(g)


def test_substring_dups_planted(spark):
    from extract_sf_r_parallel_spark.plans.registry import QUERIES as TQ
    import extract_sf_r_parallel_spark.plans.textops as T

    phrase = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [phrase + " tail one two three",
                 "lead in words " + phrase,
                 "totally unrelated words here that never repeat at all"],
    })
    sdf = spark.createDataFrame(docs)
    orig = T._docs
    T._docs = lambda spark_, sf_: sdf
    try:
        got = TQ["substring_dups"](spark, "ignored").toPandas() \
            .set_index("doc_id")
    finally:
        T._docs = orig
    # doc1: 12 tokens → 5 windows, 1 dup (the planted phrase);
    # doc2: 11 tokens → 4 windows, 1 dup
    assert (got.loc[1].n_win, got.loc[1].n_dup_win) == (5, 1)
    assert (got.loc[2].n_win, got.loc[2].n_dup_win) == (4, 1)
    assert (got.loc[3].n_win, got.loc[3].n_dup_win) == (2, 0)


def test_ycbcr_matches_numpy(spark):
    from extract_sf_r_parallel_spark.data import codec, synth
    from extract_sf_r_parallel_spark.operators.multimodal import ycbcr_stats

    pdf = synth.images_pdf(6)
    got = ycbcr_stats(spark.createDataFrame(pdf)).toPandas() \
        .set_index("image_id")
    for r in pdf.itertuples():
        img = codec.decode_image(bytes(r.bytes), r.fmt, r.w, r.h) \
            .astype(np.int64)
        y = 77 * img[..., 0] + 150 * img[..., 1] + 29 * img[..., 2]
        cb = -43 * img[..., 0] - 85 * img[..., 1] + 128 * img[..., 2]
        cr = 128 * img[..., 0] - 107 * img[..., 1] - 21 * img[..., 2]
        row = got.loc[r.image_id]
        assert (row.sum_y, row.min_y, row.max_y) == \
            (y.sum(), y.min(), y.max())
        assert (row.sum_cb, row.sum_cr) == (cb.sum(), cr.sum())


def test_waveform_stats_matches_numpy(spark):
    from extract_sf_r_parallel_spark.data import codec, synth
    from extract_sf_r_parallel_spark.operators.multimodal import (
        waveform_stats)

    pdf = synth.audio_pdf(10)
    dec = pdf[pdf.fmt == "s16le"]
    got = waveform_stats(spark.createDataFrame(dec)).toPandas() \
        .set_index("clip_id")
    assert len(got) == len(dec)
    for r in dec.itertuples():
        s = codec.decode_audio(bytes(r.bytes), r.fmt,
                               int(r.n_samples)).astype(np.int64)
        row = got.loc[r.clip_id]
        assert row.n_samples == len(s)
        assert row.max_abs == np.abs(s).max()
        assert row.sum_abs == np.abs(s).sum()
        assert row.zero_cross == int(((s[:-1] * s[1:]) < 0).sum())
        assert row.energy == (s * s).sum()
        nf = len(s) // 1024
        fe = (s[: nf * 1024] ** 2).reshape(nf, 1024).sum(axis=1)
        assert row.n_frames == nf
        assert row.n_voiced == int((fe >= 358_000_000 * 1024).sum())


def test_decode_audio_stub_raises(spark):
    from extract_sf_r_parallel_spark.data import codec
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        codec.decode_audio(b"\x00\x00", "opus", 1)


def test_trend_mk_brute(spark):
    # deterministic planted series on two tiles: one rising, one flat
    from extract_sf_r_parallel_spark.plans import registry as S
    import itertools
    t0 = dt.datetime(2024, 1, 1)
    # brute Mann-Kendall on the q_trend_mk output at sf0.001
    got = S.QUERIES["trend_mk"](spark, "/root/testdata/sf0.001").toPandas()
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    tx = ((ev.event_id * 48271 + 13) % 999983 % 20000) // 2000
    ty = ((ev.event_id * 69621 + 7) % 999979 % 20000) // 2000
    day = ev.ts.astype("datetime64[us]").astype(np.int64) // 86_400_000_000
    cube = pd.DataFrame({"tx": tx, "ty": ty, "day": day}) \
        .groupby(["tx", "ty", "day"]).size().rename("c").reset_index()
    all_days = sorted(cube.day.unique())
    exp = {}
    for (gx, gy), g in cube.groupby(["tx", "ty"]):
        cs = g.set_index("day").c.reindex(all_days, fill_value=0).to_numpy()
        s = sum(int(np.sign(cs[j] - cs[i]))
                for i, j in itertools.combinations(range(len(cs)), 2))
        exp[(gx, gy)] = (s, len(cs) * (len(cs) - 1) // 2,
                         len(cs), int(cs.sum()))
    got_map = {(r.tx, r.ty): (r.s_mk, r.n_pairs, r.n_days, r.total)
               for r in got.itertuples()}
    assert got_map == exp
