"""Planar hex cell index (H3-style, from scratch, NumPy-vectorized).

Replaces the reference's 100×100 fishnet grid + 10,000-iteration tile
loop (/root/reference/1_scripts/C_…R:219-252): instead of a grid
*table*, the cell is a deterministic int64 *function* of (x, y), so
"assign point to tile" is `withColumn` and "process tiles" is one
shuffle on the cell-id column.

Design (public H3 ideas, reimplemented for a planar CRS):
- pointy-top hexagons on axial coordinates (q, r);
- resolution = hex edge length in metres (continuous, not a fixed
  aperture hierarchy — planar CRS makes arbitrary edges exact);
- cell id packs (resolution code, q, r) into one int64 so ids from
  different resolutions never collide;
- cover_bbox_many gives each polygon's candidate cells: the cover of
  its bbox dilated by the search radius (the 1000 m cap, C_…R:112) —
  the explode side of the spatial join (J2 in SURVEY.md §2.4).

Every function is vectorized over NumPy arrays; none touch Spark.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "RESOLUTIONS",
    "edge_for_code",
    "xy_to_cell",
    "cell_to_center",
    "cell_to_axial",
    "cover_bbox_many",
    "cell_ring_vertices",
]

# registered edge lengths (metres); code = index. The engine picks the
# smallest edge ≥ maxdist/4 (code_for_radius): finer cells tighten the
# dilated-bbox cover.
RESOLUTIONS: tuple[float, ...] = (
    16.0, 32.0, 64.0, 128.0, 256.0, 512.0, 1024.0, 2048.0, 4096.0, 8192.0,
)

_SQRT3 = float(np.sqrt(3.0))
_BIAS = 1 << 28  # axial coords offset to non-negative before packing


def code_for_radius(radius: float) -> int:
    """Index of the smallest registered edge ≥ radius (the largest
    when none is)."""
    for i, e in enumerate(RESOLUTIONS):
        if e >= radius:
            return i
    return len(RESOLUTIONS) - 1


def edge_for_code(code: int) -> float:
    return RESOLUTIONS[int(code)]


def _axial_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cube-rounding of fractional axial coordinates."""
    sf = -qf - rf
    q = np.rint(qf)
    r = np.rint(rf)
    s = np.rint(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def _pack(code: int, q: np.ndarray, r: np.ndarray) -> np.ndarray:
    return (
        (np.int64(code) << np.int64(58))
        | ((q + _BIAS).astype(np.int64) << np.int64(29))
        | (r + _BIAS).astype(np.int64)
    )


def cell_to_axial(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    code = cell >> np.int64(58)
    q = ((cell >> np.int64(29)) & np.int64((1 << 29) - 1)) - _BIAS
    r = (cell & np.int64((1 << 29) - 1)) - _BIAS
    return code, q, r


def xy_to_cell(x: np.ndarray, y: np.ndarray, code: int) -> np.ndarray:
    """Vectorized (x, y) → hex cell id at resolution `code`. Total and
    single-valued: a point on a cell boundary gets exactly one cell
    (documented divergence from the reference's st_intersection, which
    can emit boundary points twice — C_…R:235, SURVEY.md J1)."""
    e = edge_for_code(code)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / e
    rf = (2.0 / 3.0 * y) / e
    q, r = _axial_round(qf, rf)
    return _pack(code, q, r)


def cell_to_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    code, q, r = cell_to_axial(cell)
    e = np.array(RESOLUTIONS, dtype=np.float64)[code]
    x = e * (_SQRT3 * q + _SQRT3 / 2.0 * r)
    y = e * (1.5 * r)
    return x, y


def cover_bbox_many(
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray,
    code: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Cell ids covering each axis-aligned bbox (a superset; the
    refinement kernel is exact): (cells, counts), cells the concatenated
    covers, counts[i] the length of bbox i's. One NumPy pass — no
    per-feature Python loop (the driver-side index build and the cover
    UDF batch thousands of features)."""
    e = edge_for_code(code)
    n = len(xmin)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    xs = np.stack([xmin, xmax, xmin, xmax])  # (4, n) corners
    ys = np.stack([ymin, ymin, ymax, ymax])
    qf = (_SQRT3 / 3.0 * xs - ys / 3.0) / e
    rf = (2.0 / 3.0 * ys) / e
    q, r = _axial_round(qf.ravel(), rf.ravel())
    q = q.reshape(4, n)
    r = r.reshape(4, n)
    q0, q1 = q.min(axis=0) - 1, q.max(axis=0) + 1
    r0, r1 = r.min(axis=0) - 1, r.max(axis=0) + 1
    nq = (q1 - q0 + 1).astype(np.int64)
    nr = (r1 - r0 + 1).astype(np.int64)
    sizes = nq * nr
    total = int(sizes.sum())
    owner = np.repeat(np.arange(n), sizes)
    # local index within each bbox's (nq × nr) grid
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    local = np.arange(total, dtype=np.int64) - np.repeat(starts, sizes)
    qq = np.repeat(q0, sizes) + local // np.repeat(nr, sizes)
    rr = np.repeat(r0, sizes) + local % np.repeat(nr, sizes)
    # prune hexes whose centre is farther than the circumradius from
    # the bbox — keeps the cover tight for thin features
    cx = e * (_SQRT3 * qq + _SQRT3 / 2.0 * rr)
    cy = e * (1.5 * rr)
    pad = e
    keep = (
        (cx >= np.repeat(xmin, sizes) - pad)
        & (cx <= np.repeat(xmax, sizes) + pad)
        & (cy >= np.repeat(ymin, sizes) - pad)
        & (cy <= np.repeat(ymax, sizes) + pad)
    )
    cells = _pack(code, qq[keep], rr[keep])
    counts = np.bincount(owner[keep], minlength=n).astype(np.int64)
    return cells, counts


def cell_ring_vertices(cell: int) -> np.ndarray:
    """The hexagon's 6 vertices (closed ring, 7×2) — for tests/plots."""
    code, q, r = cell_to_axial(np.array([cell]))
    e = edge_for_code(int(code[0]))
    cx = e * (_SQRT3 * int(q[0]) + _SQRT3 / 2.0 * int(r[0]))
    cy = e * (1.5 * int(r[0]))
    ang = np.radians(np.arange(7) * 60.0 + 30.0)
    return np.stack([cx + e * np.cos(ang), cy + e * np.sin(ang)], axis=1)
