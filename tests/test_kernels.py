"""Closed-form unit tests for the NumPy geometry kernels (SURVEY.md §5:
known-answer geometry replaces the reference's visual inspection)."""

import numpy as np
import pytest

from extract_sf_r_parallel_spark.geo import kernels as K


SQ = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)


def test_ring_area_square_ccw():
    assert K.ring_area(SQ) == pytest.approx(100.0)


def test_ring_area_cw_negative():
    assert K.ring_area(SQ[::-1]) == pytest.approx(-100.0)


def test_point_in_ring():
    px = np.array([5.0, 15.0, -1.0, 9.999])
    py = np.array([5.0, 5.0, 5.0, 9.999])
    assert K.point_in_ring(px, py, SQ).tolist() == [True, False, False, True]


def test_point_segment_distance():
    d = K.point_segment_distance(
        np.array([0.0, 5.0, 20.0]), np.array([5.0, 5.0, 0.0]),
        np.zeros(3), np.zeros(3), np.array([10.0] * 3), np.zeros(3),
    )
    assert d == pytest.approx([5.0, 5.0, 10.0])


class TestCirclePolygonArea:
    def test_circle_inside_polygon(self):
        # circle fully inside → π r² (FIXTURES.md §6 row 1, true-π kernel)
        a = K.circle_polygon_area(5.0, 5.0, 2.0, SQ)
        assert a == pytest.approx(np.pi * 4.0, rel=1e-12)

    def test_polygon_inside_circle(self):
        a = K.circle_polygon_area(5.0, 5.0, 100.0, SQ)
        assert a == pytest.approx(100.0, rel=1e-12)

    def test_half_overlap(self):
        # circle centred on polygon edge → half disc (edge far from corners)
        big = np.array([[0, -100], [200, -100], [200, 100], [0, 100], [0, -100]], float)
        a = K.circle_polygon_area(0.0, 0.0, 5.0, big)
        assert a == pytest.approx(np.pi * 25.0 / 2.0, rel=1e-9)

    def test_disjoint(self):
        assert K.circle_polygon_area(100.0, 100.0, 3.0, SQ) == pytest.approx(0.0, abs=1e-9)

    def test_quarter(self):
        # circle centred on a corner → quarter disc
        a = K.circle_polygon_area(0.0, 0.0, 4.0, SQ)
        assert a == pytest.approx(np.pi * 16.0 / 4.0, rel=1e-9)

    def test_cw_ring_same_magnitude(self):
        a = K.circle_polygon_area(5.0, 5.0, 2.0, SQ[::-1])
        assert a == pytest.approx(np.pi * 4.0, rel=1e-12)

    def test_pairs_batch_matches_single(self):
        rng = np.random.default_rng(42)
        rings, cx, cy, rr = [], [], [], []
        for _ in range(200):
            n = rng.integers(3, 9)
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            rad = rng.uniform(1, 6, n)
            ring = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
            ring += rng.uniform(-5, 5, 2)
            rings.append(np.vstack([ring, ring[:1]]))
            cx.append(rng.uniform(-8, 8))
            cy.append(rng.uniform(-8, 8))
            rr.append(rng.uniform(0.5, 7))
        got = K.pairs_circle_polygon_area(np.array(cx), np.array(cy), np.array(rr), rings)
        want = [K.circle_polygon_area(cx[i], cy[i], rr[i], rings[i]) for i in range(200)]
        np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-10)

    def test_monte_carlo_cross_check(self):
        # deterministic quasi-MC sanity on an L-shaped (concave) polygon
        L = np.array([[0, 0], [8, 0], [8, 3], [3, 3], [3, 8], [0, 8], [0, 0]], float)
        cxy, r = (2.5, 2.5), 3.0
        a = K.circle_polygon_area(*cxy, r, L)
        g = np.linspace(-r, r, 801)
        gx, gy = np.meshgrid(g + cxy[0], g + cxy[1])
        inc = (gx - cxy[0]) ** 2 + (gy - cxy[1]) ** 2 <= r * r
        inp = K.point_in_ring(gx.ravel(), gy.ravel(), L).reshape(gx.shape)
        approx = (inc & inp).sum() * (g[1] - g[0]) ** 2
        assert a == pytest.approx(approx, rel=5e-3)


class TestPairsPointPolygonDistance:
    def test_inside_zero_outside_positive(self):
        d = K.pairs_point_polygon_distance(
            np.array([5.0, 15.0, 10.0]), np.array([5.0, 5.0, 5.0]), [SQ, SQ, SQ]
        )
        assert d[0] == 0.0
        assert d[1] == pytest.approx(5.0)
        assert d[2] == pytest.approx(0.0)  # on the boundary → distance 0

    def test_corner_distance(self):
        d = K.pairs_point_polygon_distance(np.array([13.0]), np.array([14.0]), [SQ])
        assert d[0] == pytest.approx(5.0)


class TestValidity:
    def test_valid_square(self):
        assert K.ring_is_valid(SQ)

    def test_unclosed(self):
        assert not K.ring_is_valid(SQ[:-1])

    def test_bowtie(self):
        bow = np.array([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], float)
        assert not K.ring_is_valid(bow)

    def test_nonfinite(self):
        bad = SQ.copy()
        bad[1, 0] = np.nan
        assert not K.ring_is_valid(bad)

    def test_zero_area(self):
        line = np.array([[0, 0], [5, 5], [0, 0], [0, 0]], float)
        assert not K.ring_is_valid(line)


def test_tmerc_roundtrip():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-120, -110, 1000)
    lat = rng.uniform(49, 60, 1000)
    x, y = K.tmerc_forward(lon, lat)
    lon2, lat2 = K.tmerc_inverse(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # the reference extent (C_…R:209-213) is inside the forward range
    assert x.min() > 0 and y.min() > 5.4e6


def test_raster_vector_roundtrip_exact_rectangle():
    # grid-aligned rectangle → exact round-trip (FIXTURES.md §6 last row)
    ring = np.array([[2, 3], [7, 3], [7, 6], [2, 6], [2, 3]], float)
    mask = K.rasterize(ring, 0.0, 0.0, 1.0, 10, 10)
    assert mask.sum() == 15
    rings = K.vectorize_mask(mask, 0.0, 0.0, 1.0)
    assert len(rings) == 1
    assert abs(K.ring_area(rings[0])) == pytest.approx(15.0)
    # IoU == 1 for grid-aligned
    mask2 = K.rasterize(rings[0], 0.0, 0.0, 1.0, 10, 10)
    assert (mask2 == mask).all()


def test_raster_vector_roundtrip_iou():
    ang = np.linspace(0, 2 * np.pi, 13)
    ring = np.stack([50 + 30 * np.cos(ang), 50 + 30 * np.sin(ang)], axis=1)
    mask = K.rasterize(ring, 0.0, 0.0, 1.0, 100, 100)
    rings = K.vectorize_mask(mask, 0.0, 0.0, 1.0)
    mask2 = np.zeros_like(mask)
    for r in rings:
        mask2 |= K.rasterize(r, 0.0, 0.0, 1.0, 100, 100)
    iou = (mask & mask2).sum() / (mask | mask2).sum()
    assert iou >= 0.99


# ---------------------------------------------------------------------------
# ear-clip triangulation (the r03 non-convex dissolve decomposition)
# ---------------------------------------------------------------------------

def test_ear_clip_star_area_and_coverage():
    import numpy as np
    from extract_sf_r_parallel_spark.geo import kernels as K
    rng = np.random.default_rng(5)
    for _ in range(25):
        k = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        if np.diff(np.concatenate([ang, ang[:1] + 2 * np.pi])).max() >= np.pi:
            continue  # keep the ring simple (star-shaped about origin)
        rad = rng.uniform(5.0, 30.0, k)
        ring = np.stack([rad * np.cos(ang), rad * np.sin(ang)], 1)
        tris = K.ear_clip_triangulate(ring)
        assert len(tris) <= k - 2
        area = abs(K.ring_area(ring))
        tri_area = sum(abs(K.ring_area(t)) for t in tris)
        assert tri_area == pytest.approx(area, rel=1e-12)
        # triangles are disjoint and inside: random points classify
        # identically vs even-odd on the original ring
        pts = rng.uniform(-35, 35, (200, 2))
        inside = K.point_in_ring(pts[:, 0], pts[:, 1], np.vstack([ring, ring[:1]]))
        cnt = np.zeros(len(pts), dtype=int)
        for t in tris:
            cnt += K.point_in_ring(pts[:, 0], pts[:, 1],
                                   np.vstack([t, t[:1]])).astype(int)
        # boundary-adjacent points may land either side; demand 97%
        assert (cnt == inside.astype(int)).mean() > 0.97


def test_ear_clip_concave_L():
    import numpy as np
    from extract_sf_r_parallel_spark.geo import kernels as K
    L = np.array([[0, 0], [4, 0], [4, 1], [1, 1], [1, 3], [0, 3]], float)
    tris = K.ear_clip_triangulate(L)
    assert sum(abs(K.ring_area(t)) for t in tris) == pytest.approx(
        abs(K.ring_area(L)), rel=1e-12)
    assert len(tris) == 4


def test_triangulate_with_holes_random():
    import numpy as np
    from extract_sf_r_parallel_spark.geo import kernels as K
    rng = np.random.default_rng(11)
    for trial in range(20):
        W, H = rng.uniform(40, 80), rng.uniform(40, 80)
        outer = np.array([[0, 0], [W, 0], [W, H], [0, H], [0, 0]], float)
        holes, occupied = [], []
        for _ in range(int(rng.integers(1, 3))):
            for _attempt in range(20):
                w, h = rng.uniform(4, 12), rng.uniform(4, 12)
                x = rng.uniform(2, W - w - 2)
                y = rng.uniform(2, H - h - 2)
                box = (x, y, x + w, y + h)
                if all(box[2] + 2 < o[0] or box[0] > o[2] + 2
                       or box[3] + 2 < o[1] or box[1] > o[3] + 2
                       for o in occupied):
                    occupied.append(box)
                    holes.append(np.array(
                        [[x, y], [x + w, y], [x + w, y + h], [x, y + h],
                         [x, y]], float))
                    break
        parts = [outer, *holes]
        tris = K.triangulate_with_holes(parts)
        want = W * H - sum((b[2] - b[0]) * (b[3] - b[1]) for b in occupied)
        got = sum(abs(K.ring_area(t)) for t in tris)
        assert got == pytest.approx(want, rel=1e-10), trial


def _packed_by_ring(feats):
    """Per-ring reference for PackedRings: each closed part oriented
    with orient_ccw (holes reversed after it), open parts with only the
    closing duplicate dropped, each part's last vertex wrapping to its
    first (closed) or to itself (open)."""
    V, counts, nxt, closed = [], [], [], []
    for f in feats:
        n0 = sum(len(v) for v in V)
        cnt, all_closed = 0, True
        for j, p in enumerate(f):
            if K.ring_is_closed(p):
                o = K.orient_ccw(p)
                o = o if j == 0 else o[::-1]
            else:
                o, all_closed = K._open_ring(p), False
            start = n0 + cnt
            nxt += list(range(start + 1, start + len(o)))
            nxt.append(start if K.ring_is_closed(p) else start + len(o) - 1)
            V.append(o)
            cnt += len(o)
        counts.append(cnt)
        closed.append(all_closed)
    return np.concatenate(V), np.array(counts), np.array(nxt), np.array(closed)


def test_packed_rings_match_per_ring_orientation():
    """The vectorized packing orients every ring exactly as orient_ccw
    does, down to zero- and denormal-area rings."""
    rng = np.random.default_rng(11)
    feats = []
    for _ in range(3000):
        parts = []
        for _ in range(rng.integers(1, 4)):
            pts = rng.normal(size=(int(rng.integers(1, 12)), 2)) * 100
            if rng.random() < 0.2:
                pts = np.round(pts / 100)  # collinear / repeated vertices
            if rng.random() < 0.7:
                pts = np.vstack([pts, pts[:1]])
            parts.append(pts)
        feats.append(parts)
    for w in (0.0, 1e-310, 3.0):
        feats.append([np.array([[5.0, 5.0], [5.0 + w, 5.0], [5.0 + w, 7.0],
                                [5.0, 7.0], [5.0, 5.0]])])
    pk = K.PackedRings(feats)
    V, counts, nxt, closed = _packed_by_ring(feats)
    assert np.array_equal(pk.V, V)
    assert np.array_equal(pk.counts, counts)
    assert np.array_equal(pk.offsets, np.cumsum(counts) - counts)
    assert np.array_equal(pk.nxt, nxt)
    assert np.array_equal(pk.closed, closed)
