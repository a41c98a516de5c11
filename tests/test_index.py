"""Property tests for the hex cell index (SURVEY.md §7 step 2)."""

import numpy as np
import pytest

from extract_sf_r_parallel_spark.geo import index as I
from extract_sf_r_parallel_spark.geo import kernels as K


def test_pack_roundtrip():
    rng = np.random.default_rng(1)
    x = rng.uniform(300000, 900000, 5000)
    y = rng.uniform(5.9e6, 6.5e6, 5000)
    for code in (0, 6, 9):
        cell = I.xy_to_cell(x, y, code)
        c2, q, r = I.cell_to_axial(cell)
        assert (c2 == code).all()
        repacked = I.xy_to_cell(*I.cell_to_center(cell), code)
        assert (repacked == cell).all()


def test_center_within_circumradius():
    rng = np.random.default_rng(2)
    x = rng.uniform(0, 100000, 20000)
    y = rng.uniform(0, 100000, 20000)
    code = 5  # edge 512
    cell = I.xy_to_cell(x, y, code)
    cx, cy = I.cell_to_center(cell)
    d = np.hypot(x - cx, y - cy)
    assert d.max() <= I.edge_for_code(code) + 1e-6  # circumradius = edge


def test_total_single_valued_on_boundary():
    # a boundary-ish point maps to exactly one cell (J1 divergence note)
    cell = I.xy_to_cell(np.array([0.0]), np.array([0.0]), 3)
    assert cell.shape == (1,)


def test_cover_bbox_superset():
    """Every point inside the bbox maps to a cell in the cover."""
    rng = np.random.default_rng(4)
    code = 4
    x0, y0 = rng.uniform(0, 30000, (2, 50))
    w, h = rng.uniform(10, 8000, (2, 50))
    cells, counts = I.cover_bbox_many(x0, y0, x0 + w, y0 + h, code)
    assert counts.sum() == len(cells)
    covers = np.split(cells, np.cumsum(counts)[:-1])
    for i in range(50):
        sx = rng.uniform(x0[i], x0[i] + w[i], 200)
        sy = rng.uniform(y0[i], y0[i] + h[i], 200)
        got = I.xy_to_cell(sx, sy, code)
        assert set(got.tolist()) <= set(covers[i].tolist())


def test_cell_vertices_area():
    c = int(I.xy_to_cell(np.array([1234.0]), np.array([5678.0]), 2)[0])
    ring = I.cell_ring_vertices(c)
    e = I.edge_for_code(2)
    assert abs(K.ring_area(ring)) == pytest.approx(3 * np.sqrt(3) / 2 * e * e, rel=1e-9)


def test_code_for_radius():
    assert I.edge_for_code(I.code_for_radius(1000.0)) == 1024.0
    assert I.edge_for_code(I.code_for_radius(150.0)) == 256.0
