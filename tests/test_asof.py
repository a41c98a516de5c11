"""As-of join semantics on a controlled fixture: backward-inclusive
match, no-match nulls, tolerance aging, and left-row preservation."""

import pandas as pd

from extract_sf_r_parallel_spark.operators.asof import asof_join

T0 = pd.Timestamp("2025-01-01 00:00:00")


def _ts(mins):
    return T0 + pd.Timedelta(minutes=mins)


def test_asof_backward_inclusive_and_tolerance(spark):
    right = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": _ts(10), "value": 10.0},
        {"user_id": 1, "ts": _ts(20), "value": 20.0},
        {"user_id": 2, "ts": _ts(5), "value": 5.0},
    ]))
    left = spark.createDataFrame(pd.DataFrame([
        {"probe": "a", "user_id": 1, "ts": _ts(9)},    # before first → null
        {"probe": "b", "user_id": 1, "ts": _ts(10)},   # exact ts → inclusive
        {"probe": "c", "user_id": 1, "ts": _ts(15)},   # between → 10.0
        {"probe": "d", "user_id": 1, "ts": _ts(99)},   # after last → 20.0
        {"probe": "e", "user_id": 3, "ts": _ts(50)},   # unseen key → null
    ]))
    got = asof_join(left, right, on="user_id", payload=("value",)) \
        .toPandas().set_index("probe")
    assert pd.isna(got.loc["a", "value_asof"])
    assert got.loc["b", "value_asof"] == 10.0
    assert got.loc["c", "value_asof"] == 10.0
    assert got.loc["d", "value_asof"] == 20.0
    assert got.loc["d", "ts_asof"] == _ts(20)
    assert pd.isna(got.loc["e", "value_asof"])
    assert len(got) == 5  # left rows never drop

    tol = asof_join(left, right, on="user_id", payload=("value",),
                    tolerance_seconds=600).toPandas().set_index("probe")
    assert tol.loc["c", "value_asof"] == 10.0        # 5 min old → fresh
    assert pd.isna(tol.loc["d", "value_asof"])       # 79 min old → aged out
    assert pd.isna(tol.loc["d", "ts_asof"])


def test_asof_directions_match_pandas_merge_asof(spark):
    """Random tie-free fixture: all three directions must agree with
    pandas.merge_asof row-for-row (values and matched timestamps)."""
    import numpy as np
    rng = np.random.default_rng(31)
    right = pd.DataFrame({
        "user_id": rng.integers(0, 5, 60),
        "ts": [T0 + pd.Timedelta(seconds=int(s))
               for s in rng.choice(100_000, 60, replace=False)],
        "value": rng.normal(size=60).round(3),
    })
    left = pd.DataFrame({
        "probe": range(40),
        "user_id": rng.integers(0, 6, 40),  # user 5 never in right
        "ts": [T0 + pd.Timedelta(seconds=int(s))
               for s in rng.choice(100_000, 40, replace=False)],
    })
    R, L = spark.createDataFrame(right), spark.createDataFrame(left)
    for direction in ("backward", "forward", "nearest"):
        got = asof_join(L, R, on="user_id", payload=("value",),
                        direction=direction).toPandas() \
            .sort_values("probe").reset_index(drop=True)
        want = pd.merge_asof(
            left.sort_values("ts"), right.sort_values("ts"),
            on="ts", by="user_id", direction=direction) \
            .sort_values("probe").reset_index(drop=True)
        gv = got["value_asof"].to_numpy(float)
        wv = want["value"].to_numpy(float)
        import numpy.testing as npt
        assert (pd.isna(gv) == pd.isna(wv)).all(), direction
        npt.assert_allclose(gv[~pd.isna(gv)], wv[~pd.isna(wv)],
                            err_msg=direction)


def test_asof_forward_tolerance(spark):
    right = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": _ts(30), "value": 30.0}]))
    left = spark.createDataFrame(pd.DataFrame([
        {"probe": "x", "user_id": 1, "ts": _ts(0)},
        {"probe": "y", "user_id": 1, "ts": _ts(28)}]))
    got = asof_join(left, right, on="user_id", payload=("value",),
                    direction="forward", tolerance_seconds=300) \
        .toPandas().set_index("probe")
    assert pd.isna(got.loc["x", "value_asof"])   # 30 min ahead > 5 min tol
    assert got.loc["y", "value_asof"] == 30.0    # 2 min ahead → fresh


def test_asof_duplicate_timestamp_tie_breaker(spark):
    """Right rows sharing an exact (key, ts): the greatest tie_breaker
    wins, both directions (VERDICT r04 #4 — replayed-feed
    reproducibility)."""
    right = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": _ts(10), "event_id": 7, "value": 70.0},
        {"user_id": 1, "ts": _ts(10), "event_id": 9, "value": 90.0},
        {"user_id": 1, "ts": _ts(10), "event_id": 8, "value": 80.0},
        {"user_id": 1, "ts": _ts(40), "event_id": 3, "value": 30.0},
        {"user_id": 1, "ts": _ts(40), "event_id": 5, "value": 50.0},
    ]))
    left = spark.createDataFrame(pd.DataFrame([
        {"probe": "p", "user_id": 1, "ts": _ts(20)},
    ]))
    for _ in range(3):  # deterministic across replays
        back = asof_join(left, right, on="user_id",
                         payload=("event_id", "value"),
                         tie_breaker="event_id").toPandas()
        assert back.loc[0, "event_id_asof"] == 9
        assert back.loc[0, "value_asof"] == 90.0
        fwd = asof_join(left, right, on="user_id",
                        payload=("event_id", "value"),
                        direction="forward",
                        tie_breaker="event_id").toPandas()
        assert fwd.loc[0, "event_id_asof"] == 5
        assert fwd.loc[0, "value_asof"] == 50.0


def test_asof_null_payload_is_atomic(spark):
    """A matched right row whose payload is NULL must yield NULL — not
    an older row's value (ADVICE r04: the match record is one struct,
    filled atomically)."""
    right = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": _ts(10), "value": 10.0},
        {"user_id": 1, "ts": _ts(20), "value": None},
    ]))
    left = spark.createDataFrame(pd.DataFrame([
        {"probe": "a", "user_id": 1, "ts": _ts(15)},   # matches t=10
        {"probe": "b", "user_id": 1, "ts": _ts(25)},   # matches t=20 (NULL!)
    ]))
    got = asof_join(left, right, on="user_id", payload=("value",)) \
        .toPandas().set_index("probe")
    assert got.loc["a", "value_asof"] == 10.0
    assert got.loc["a", "ts_asof"] == _ts(10)
    assert pd.isna(got.loc["b", "value_asof"])       # NOT 10.0
    assert got.loc["b", "ts_asof"] == _ts(20)        # ts from the match
    # pandas merge_asof agrees
    want = pd.merge_asof(
        pd.DataFrame({"user_id": [1, 1], "ts": [_ts(15), _ts(25)]}),
        pd.DataFrame({"user_id": [1, 1], "ts": [_ts(10), _ts(20)],
                      "value": [10.0, None]}),
        on="ts", by="user_id")
    assert want["value"].tolist()[0] == 10.0 and pd.isna(want["value"][1])


def test_asof_split_matches_unsplit_all_directions(spark):
    """The hot-key split path (split_seconds) must be byte-identical
    to the single-window plan on a random fixture with duplicate
    timestamps, a tie-breaker, tolerance, and a 90%-one-key skew —
    for every direction, at a chunk width that forces many boundary
    carries."""
    import numpy as np
    rng = np.random.default_rng(47)
    n_r, n_l = 400, 300
    # 90% of rows on user 7, coarse second grid → plenty of exact ties
    r_users = np.where(rng.random(n_r) < 0.9, 7, rng.integers(0, 5, n_r))
    l_users = np.where(rng.random(n_l) < 0.9, 7,
                       rng.integers(0, 6, n_l))  # user 5 absent in right
    right = pd.DataFrame({
        "user_id": r_users,
        "ts": [T0 + pd.Timedelta(seconds=int(s))
               for s in rng.integers(0, 5_000, n_r)],
        "value": rng.normal(size=n_r).round(3),
        "eid": rng.permutation(n_r),
    })
    left = pd.DataFrame({
        "probe": range(n_l),
        "user_id": l_users,
        "ts": [T0 + pd.Timedelta(seconds=int(s))
               for s in rng.integers(0, 5_000, n_l)],
    })
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 300):
            plain = asof_join(ldf, rdf, on="user_id", payload=("value",),
                              direction=direction, tolerance_seconds=tol,
                              tie_breaker="eid") \
                .toPandas().sort_values("probe").reset_index(drop=True)
            split = asof_join(ldf, rdf, on="user_id", payload=("value",),
                              direction=direction, tolerance_seconds=tol,
                              tie_breaker="eid", split_seconds=120) \
                .toPandas().sort_values("probe").reset_index(drop=True)
            pd.testing.assert_frame_equal(
                plain, split, check_like=True,
                obj=f"direction={direction} tol={tol}")


def test_asof_split_empty_chunks_and_single_row_chunks(spark):
    """Chunks with probes but no right rows must still receive the
    carry from an earlier (backward) / later (forward) chunk."""
    right = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": _ts(0), "value": 1.0},
        {"user_id": 1, "ts": _ts(500), "value": 2.0},
    ]))
    left = spark.createDataFrame(pd.DataFrame([
        {"probe": "far", "user_id": 1, "ts": _ts(300)},   # empty chunk
        {"probe": "pre", "user_id": 1, "ts": _ts(-60)},   # before all
    ]))
    got = asof_join(left, right, on="user_id", payload=("value",),
                    split_seconds=600).toPandas().set_index("probe")
    assert got.loc["far", "value_asof"] == 1.0
    assert pd.isna(got.loc["pre", "value_asof"])
    fwd = asof_join(left, right, on="user_id", payload=("value",),
                    direction="forward", split_seconds=600) \
        .toPandas().set_index("probe")
    assert fwd.loc["far", "value_asof"] == 2.0
    assert fwd.loc["pre", "value_asof"] == 1.0


def test_asof_split_auto_decision(spark, monkeypatch):
    """split_seconds='auto' must engage on a hot key (plan partitions
    by _ck, result equals the unsplit plan) and stay off on a uniform
    small input; a typo string fails loudly. The hot key's rows tie on
    ts, so both plans name a tie-breaker."""
    import extract_sf_r_parallel_spark.operators.asof as A
    import numpy as np
    import pytest
    rng = np.random.default_rng(31)
    n = 4000
    users = np.where(rng.random(n) < 0.95, 7, rng.integers(0, 4, n))
    right = pd.DataFrame({
        "user_id": users,
        "ts": [T0 + pd.Timedelta(seconds=int(s))
               for s in rng.integers(0, 50_000, n)],
        "value": rng.normal(size=n).round(3),
        "eid": np.arange(n)})
    left = pd.DataFrame({
        "probe": range(500),
        "user_id": np.where(rng.random(500) < 0.95, 7,
                            rng.integers(0, 4, 500)),
        "ts": [T0 + pd.Timedelta(seconds=int(s))
               for s in rng.integers(0, 50_000, 500)]})
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    monkeypatch.setattr(A, "AUTO_SPLIT_ROWS_PER_CHUNK", 500)
    auto = A.asof_join(ldf, rdf, on="user_id", payload=("value",),
                       tie_breaker="eid", split_seconds="auto")
    assert "_ck" in auto._jdf.queryExecution().analyzed().toString()
    plain = A.asof_join(ldf, rdf, on="user_id", payload=("value",),
                        tie_breaker="eid") \
        .toPandas().sort_values("probe").reset_index(drop=True)
    got = auto.toPandas().sort_values("probe").reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, got, check_like=True)
    # uniform + under budget → single-window plan
    monkeypatch.setattr(A, "AUTO_SPLIT_ROWS_PER_CHUNK", 4_000_000)
    cool = A.asof_join(ldf, rdf, on="user_id", payload=("value",),
                       split_seconds="auto")
    assert "_ck" not in cool._jdf.queryExecution().analyzed().toString()
    with pytest.raises(ValueError, match="'auto'"):
        A.asof_join(ldf, rdf, on="user_id", split_seconds="Auto")


def test_asof_split_plan_partitions_by_chunk(spark):
    """The split plan's fill window must partition by (key, chunk) —
    the property that bounds the largest sort partition to one chunk
    of one key. (A timing assert would be dishonest at test scale:
    single-partition sorts only hurt at many millions of rows per
    key, so the plan shape is the testable contract.)"""
    import contextlib
    import io
    right = spark.createDataFrame(pd.DataFrame([
        {"user_id": 1, "ts": _ts(0), "value": 1.0}]))
    left = spark.createDataFrame(pd.DataFrame([
        {"probe": "p", "user_id": 1, "ts": _ts(5)}]))
    df = asof_join(left, right, on="user_id", payload=("value",),
                   split_seconds=600)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    fills = [ln for ln in plan.splitlines()
             if "windowspecdefinition" in ln and "last(_r" in ln]
    assert fills and all("_ck" in ln for ln in fills), \
        f"fill window does not partition by chunk:\n{plan[:2000]}"
