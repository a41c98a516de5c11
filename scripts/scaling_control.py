"""Pure-NumPy scaling control (VERDICT r01 #4): the SAME fused kernel
work the Spark benchmark runs (hex-cell lookup → bbox prefilter →
packed circle∩polygon metrics → per-point reduceat aggregation), with
NO Spark, NO JVM, NO Arrow — one Python process per worker over
pre-partitioned point chunks.

If this control stops scaling at the same thread counts the Spark job
does, the wall is the machine (one socket's memory bandwidth / core
budget), not the engine. If it scales ≥0.8 where Spark doesn't,
Spark-side contention is real and must be found.

Usage: python scripts/scaling_control.py [worker counts…]
Prints one JSON line per count.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = int(os.environ.get("SCALING_REPLICATION", "16"))


def _build_inputs():
    """Same points/rects the Spark benchmark derives (SQL-parity LCG
    over orders/part keys, ×REP shifted replication)."""
    import duckdb

    from extract_sf_r_parallel_spark.data import geotag as G

    con = duckdb.connect()
    pts = con.sql(f"""
      SELECT {G.sql_point_x('o_orderkey')} AS x,
             {G.sql_point_y('o_orderkey')} AS y,
             {G.sql_point_year('o_orderkey')} AS pyear
      FROM read_parquet('{SF_DIR}/orders.parquet')
    """).fetchnumpy()
    r = G.sql_rect("p_partkey")
    rects = con.sql(f"""
      SELECT p_partkey AS fid, {r['rxmin']} AS rxmin, {r['rymin']} AS rymin,
             {r['rxmax']} AS rxmax, {r['rymax']} AS rymax, {r['ryear']} AS ryear
      FROM read_parquet('{SF_DIR}/part.parquet')
    """).fetchnumpy()
    reps = np.arange(REP, dtype=np.float64)
    px = (pts["x"][:, None] + reps[None, :] * 173.0).ravel()
    py = (pts["y"][:, None] + reps[None, :] * 91.0).ravel()
    pyear = np.repeat(pts["pyear"].astype(np.int64), REP)
    return px, py, pyear, rects


def _make_index(rects):
    import pandas as pd

    from extract_sf_r_parallel_spark.geo import index as I
    from extract_sf_r_parallel_spark.operators.areadist_fused import _FeatureIndex

    rings = []
    for i in range(len(rects["fid"])):
        x0, y0 = rects["rxmin"][i], rects["rymin"][i]
        x1, y1 = rects["rxmax"][i], rects["rymax"][i]
        rings.append([[x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]])
    pdf = pd.DataFrame({
        "feature_id": rects["fid"], "layer": "rects",
        "poly_year": rects["ryear"].astype(np.int64), "geom": rings,
    })
    code = I.code_for_radius(max(1000.0 / 4.0, I.RESOLUTIONS[0]))
    return _FeatureIndex(pdf, 1000.0, code), code


_IDX = None
_CODE = None
_PTS = None


def _init(idx, code, pts):
    global _IDX, _CODE, _PTS
    _IDX = idx
    _CODE = code
    _PTS = pts
    # one BLAS/OMP thread per worker — the Spark Python workers run
    # single-threaded NumPy too
    os.environ["OMP_NUM_THREADS"] = "1"


def _run_chunk(bounds):
    import importlib

    fused_mod = importlib.import_module(
        "extract_sf_r_parallel_spark.operators.areadist_fused")
    lo, hi = bounds
    px, py, pyear = (_PTS[0][lo:hi], _PTS[1][lo:hi], _PTS[2][lo:hi])
    n_pairs = 0
    chunk = 512
    for s in range(0, len(px), chunk):
        e = min(s + chunk, len(px))
        cells = __import__(
            "extract_sf_r_parallel_spark.geo.index", fromlist=["xy_to_cell"]
        ).xy_to_cell(px[s:e], py[s:e], _CODE)
        fx = _IDX
        import numpy as np
        if len(fx.ucells):
            pos = np.searchsorted(fx.ucells, cells)
            pos_c = np.minimum(pos, len(fx.ucells) - 1)
            found = fx.ucells[pos_c] == cells
            cnt = np.where(found, fx.ucounts[pos_c], 0)
            ppi = np.repeat(np.arange(e - s), cnt)
            entry = fused_mod._grouped_ranges(
                np.where(found, fx.ustarts[pos_c], 0), cnt)
            ridx = fx.centries[entry]
        else:
            continue
        keep = fx.years[ridx] < pyear[s:e][ppi]
        ppi, ridx = ppi[keep], ridx[keep]
        bb = fx.bbox[ridx]
        qx, qy = px[s:e][ppi], py[s:e][ppi]
        dx = np.maximum(np.maximum(bb[:, 0] - qx, qx - bb[:, 2]), 0.0)
        dy = np.maximum(np.maximum(bb[:, 1] - qy, qy - bb[:, 3]), 0.0)
        keep = (dx * dx + dy * dy) < 1000.0 * 1000.0
        ppi, ridx = ppi[keep], ridx[keep]
        from extract_sf_r_parallel_spark.geo import kernels as K
        m = K.packed_pair_metrics(qx[keep], qy[keep], ridx, fx.packed,
                                  (150.0, 565.0))
        # per-point reduction (same reduceat pattern as the fused UDF)
        order = np.argsort(ppi, kind="stable")
        if len(order):
            uk, ks = np.unique(ppi[order], return_index=True)
            np.minimum.reduceat(m["dist"][order], ks)
            np.add.reduceat(m["a150"][order], ks)
            np.add.reduceat(m["a565"][order], ks)
        n_pairs += len(ridx)
    return n_pairs


def measure(nworkers: int, px, py, pyear, idx, code) -> dict:
    n = len(px)
    # many small chunks → dynamic balancing like Spark tasks
    nchunks = nworkers * 8
    cuts = np.linspace(0, n, nchunks + 1).astype(int)
    bounds = list(zip(cuts[:-1], cuts[1:]))
    with mp.get_context("fork").Pool(
            nworkers, initializer=_init, initargs=(idx, code, (px, py, pyear))
    ) as pool:
        pool.map(_run_chunk, bounds[:nworkers])  # warmup
        t0 = time.time()
        pairs = sum(pool.map(_run_chunk, bounds))
        wall = time.time() - t0
    return {"workers": nworkers, "wall_s": round(wall, 3), "pairs": int(pairs),
            "points_per_s": round(n / wall)}


def main():
    counts = [int(a) for a in sys.argv[1:]] or [2, 4, 8, 16, 32]
    px, py, pyear, rects = _build_inputs()
    idx, code = _make_index(rects)
    out = []
    for c in counts:
        r = measure(c, px, py, pyear, idx, code)
        out.append(r)
        print(json.dumps(r), flush=True)
    return out


if __name__ == "__main__":
    main()
