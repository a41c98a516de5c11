"""Output checks: a per-job row count and order-insensitive value hash
taken inside the sink's own pass, and an exact comparison against the
repository's DuckDB oracle SQL on a reduced input slice."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_P = 2_147_483_647  # keeps the summed hashes far from BIGINT overflow


def sink(df: DataFrame, fmt: str, out_dir: str | None = None):
    """Write `df` to the workload's sink and return (rows, value hash).

    The count and the hash are observed metrics of the write itself, so
    they cost no extra pass and see exactly the rows the sink received.
    The hash is Σ pmod(xxhash64(row), 2³¹−1): equal multisets of rows
    give equal hashes whatever the row order or partitioning."""
    obs = Observation()
    row_hash = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]),
                      F.lit(_P))
    w = df.observe(obs, F.count(F.lit(1)).alias("n"),
                   F.sum(row_hash).alias("h")).write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(out_dir)
    else:
        w.format("noop").save()
    got = obs.get
    return int(got["n"]), int(got["h"] or 0)


def _is_float(s: pd.Series) -> bool:
    return s.dtype.kind == "f" or (
        s.dtype == object and s.dropna().map(lambda v: isinstance(v, float)).all()
        and s.notna().any())


def _rounding_flip(diff: np.ndarray) -> np.ndarray:
    """|a−b| is one unit of some decimal place 10⁻¹…10⁻⁸: both engines
    rounded the same exact value, one just above and one just below a
    rounding boundary."""
    flip = np.zeros(len(diff), dtype=bool)
    for dp in range(1, 9):
        flip |= np.abs(diff - 10.0 ** -dp) <= 1e-9
    return flip


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` equals `want` as a multiset of rows, else the
    first difference found. Floats must agree to 1e-9 relative; a
    value may differ by exactly one unit of a rounded decimal place
    (both sides ROUND a value that sits on a boundary), for at most one
    float value in ten thousand (and at least one)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    floats = [c for c in cols if _is_float(got[c]) or _is_float(want[c])]
    order = [c for c in cols if c not in floats] + floats

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[order].copy()
        for c in order:
            if c in floats:
                df[c] = pd.to_numeric(df[c], errors="coerce").astype("float64")
            elif df[c].dtype.kind in "iu" or str(df[c].dtype).startswith("Int"):
                df[c] = df[c].astype("Int64")
            else:
                df[c] = df[c].astype("string")
        return df.sort_values(order, na_position="last").reset_index(drop=True)

    g, w = norm(got), norm(want)
    flips = 0
    for c in order:
        if c in floats:
            a, b = g[c].to_numpy(), w[c].to_numpy()
            nan = np.isnan(a) & np.isnan(b)
            diff = np.abs(a - b)
            ok = nan | (diff <= 1e-9 * np.maximum(1.0, np.abs(b)))
            flip = ~ok & ~np.isnan(diff) & _rounding_flip(diff)
            bad = ~ok & ~flip
            flips += int(flip.sum())
            if bad.any():
                i = int(np.argmax(bad))
                return f"{c}: {int(bad.sum())} rows differ, first {a[i]!r} != {b[i]!r}"
        else:
            eq = (g[c] == w[c]).fillna(False) | (g[c].isna() & w[c].isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                return f"{c}: {int((~eq).sum())} rows differ, first {g[c].iloc[i]!r} != {w[c].iloc[i]!r}"
    if flips > max(1, len(g) * len(floats) // 10_000):
        return f"{flips} rounding flips in {len(g)} rows"
    return None
