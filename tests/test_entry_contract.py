"""Local replica of the driver's correctness gate: every queries()
entry with an oracle_sql() is executed on Spark and on DuckDB at
sf0.001 and compared exactly — row count, column names, and values
(rows sorted by all columns, columns sorted by name). Rows-only
entries get a schema/rows smoke check."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float") or df[c].dtype == object and \
                df[c].map(lambda v: isinstance(v, float)).all():
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _compare_exact(got: pd.DataFrame, want: pd.DataFrame, name: str):
    assert sorted(got.columns) == sorted(want.columns), f"{name}: columns differ"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f":
            ga, wa = gv.to_numpy(), wv.to_numpy(float)
            ok = (ga == wa) | (np.isnan(ga) & np.isnan(wa))
            assert ok.all(), (
                f"{name}.{c}: {int((~ok).sum())} mismatches, first at "
                f"{np.argmax(~ok)}: {ga[np.argmax(~ok)]!r} vs {wa[np.argmax(~ok)]!r}")
        else:
            assert gv.astype(str).equals(wv.astype(str)), f"{name}.{c}: value mismatch"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.sql(ORACLES[name]).df()
    _compare_exact(got, want, name)


ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_smoke(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    cols = set(df.columns)
    assert {"PKEY", "AREA150", "PROP565", "NEAR_DIST", "MEANAGE_150"} <= cols


def test_registry_is_every_q_function():
    """QUERIES is derived from the plan modules' ``q_<name>`` functions:
    each has an oracle, and none is left out."""
    from extract_sf_r_parallel_spark.plans import (
        registry, relational, spatial_queries, textops)

    assert set(registry.QUERIES) == set(registry.ORACLE)
    for mod in (registry, relational, spatial_queries, textops):
        for name, fn in vars(mod).items():
            if name.startswith("q_") and fn.__module__ == mod.__name__:
                assert registry.QUERIES[name[2:]] is fn, name


def test_registry_rejects_an_oracle_defined_twice():
    """ORACLE is the union of the plan modules' oracles; a name defined
    in two of them raises instead of one silently replacing the other."""
    from types import SimpleNamespace

    from extract_sf_r_parallel_spark.plans import registry

    a = SimpleNamespace(ORACLE={"q1": "SELECT 1", "q2": "SELECT 2"})
    b = SimpleNamespace(ORACLE={"q2": "SELECT 3"})
    with pytest.raises(ValueError, match="'q2'"):
        registry._all_oracles((a, b))


def test_gate_order_never_recorded_first():
    """Regression for the r06 gate-starvation bug: every query that has
    never received a driver CORRECTNESS row must sit inside the
    driver's ~50-row budget, i.e. within the first 50 keys of
    queries(). The order must not depend on the order the registry
    was built in."""
    import random

    keys = list(QUERIES)
    assert set(keys) == set(entrymod._GATE_FIRST), \
        "every registered query is ranked in _GATE_FIRST"
    shuffled = list(keys)
    random.Random(0).shuffle(shuffled)
    assert entrymod._gate_order(shuffled) == keys
    last_seen = entrymod._gate_last_seen()
    never = [k for k in keys if k not in last_seen]
    # The no-PERMANENT-starvation invariant: every never-recorded query
    # sorts BEFORE every recorded one except the pricing_summary
    # warm-up absorber (pinned to position 0 by design). When more
    # than ~50 queries are new in one round, the overflow simply waits
    # one round (it is still never-recorded, so it sorts first again) —
    # that is rotation working, not the r06 bug (which placed late
    # registrations permanently PAST the budget, after recorded rows).
    if never:
        last_never = max(i for i, k in enumerate(keys) if k in set(never))
        starved = [k for k in keys[:last_never]
                   if k not in set(never) and k != "pricing_summary"]
        assert not starved, \
            f"recorded queries ahead of never-recorded ones: {starved}"
    if len(never) <= 49:
        assert all(k in set(keys[:50]) for k in never)
