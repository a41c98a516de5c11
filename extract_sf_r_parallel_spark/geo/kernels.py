"""Pure-NumPy geometry kernels.

These are the vectorized replacements for the reference's sf calls
(st_area, st_distance, st_intersection, st_buffer, st_is_valid,
st_transform — /root/reference/1_scripts/C_…R:96-117, 317, 33). No
shapely/GEOS: everything is closed-form math over flat float64 arrays
so it runs inside Arrow-batched pandas UDFs with zero per-row Python.

Polygon representation: a ring is an (n, 2) float64 array of vertices;
closed rings (first == last vertex) are accepted and the duplicate
vertex is ignored. Multi-edge batch layout: "pair arrays" — for a batch
of (point, polygon) candidate pairs we flatten every polygon edge into
parallel arrays tagged with the pair index, compute per-edge terms
vectorized, and reduce per pair with ``np.add.reduceat`` /
``np.minimum.reduceat`` (see packed_pair_metrics).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "ring_area",
    "point_in_ring",
    "point_segment_distance",
    "circle_polygon_area",
    "pairs_point_polygon_distance",
    "PackedRings",
    "packed_pair_metrics",
    "ring_is_valid",
    "ear_clip_triangulate",
    "triangulate_with_holes",
    "overlap_corrections",
    "union_circle_area",
    "tmerc_forward",
    "tmerc_inverse",
    "rasterize",
    "vectorize_mask",
]


# ---------------------------------------------------------------------------
# basic ring helpers
# ---------------------------------------------------------------------------

def _open_ring(ring: np.ndarray) -> np.ndarray:
    """Drop the closing duplicate vertex if present."""
    ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(ring) >= 2 and np.all(ring[0] == ring[-1]):
        ring = ring[:-1]
    return ring


def ring_is_closed(ring: np.ndarray) -> bool:
    """Geometry-kind convention (matches shapefiles): a POLYGON ring
    repeats its first vertex last; an open POLYLINE (e.g. the
    reference's seismic-line layers) does not. Closed rings have area
    and an inside; polylines have zero area and distance-only
    semantics."""
    r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    return len(r) >= 4 and bool(np.all(r[0] == r[-1]))


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive). Replaces st_area
    (C_…R:98) for whole polygons."""
    r = _open_ring(ring)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return float(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def point_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd point-in-polygon test for many points against
    one ring. Points exactly on an edge may land either side (callers
    that care use distance==0 instead)."""
    r = _open_ring(ring)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    n = len(r)
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    for i in range(n):  # loop over edges (few), vectorized over points (many)
        cond = (y1[i] > py) != (y2[i] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[i] + (py - y1[i]) * (x2[i] - x1[i]) / (y2[i] - y1[i])
        inside ^= cond & (px < xint)
    return inside


def point_segment_distance(
    px: np.ndarray, py: np.ndarray,
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray,
) -> np.ndarray:
    """Elementwise distance from points (px,py) to segments (a,b)."""
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / seg2
    t = np.where(seg2 > 0, np.clip(t, 0.0, 1.0), 0.0)
    cx, cy = ax + t * dx, ay + t * dy
    return np.hypot(px - cx, py - cy)


# ---------------------------------------------------------------------------
# circle ∩ polygon exact area (Green's theorem per edge)
# ---------------------------------------------------------------------------

def _edge_circle_contrib(
    p1x: np.ndarray, p1y: np.ndarray, p2x: np.ndarray, p2y: np.ndarray, r: np.ndarray
) -> np.ndarray:
    """Per-edge contribution to area(circle(0,r) ∩ polygon).

    For each directed edge p1→p2 (coordinates already translated so the
    circle is centred at the origin) the contribution is the signed area
    swept from the origin: sub-segments inside the circle contribute the
    triangle term cross(a,b)/2, sub-segments outside contribute the
    circular-sector term r²·Δθ/2. Summed over a closed CCW ring this
    yields exactly area(circle ∩ polygon) — the engine's replacement for
    st_intersection(...) %>% st_area() (C_…R:97-99).

    Fully vectorized: each edge expands into exactly 3 sub-segments
    split at the (clipped) segment–circle intersection parameters.
    """
    dx, dy = p2x - p1x, p2y - p1y
    a = dx * dx + dy * dy
    b = 2.0 * (p1x * dx + p1y * dy)
    c1 = p1x * p1x + p1y * p1y - r * r
    c2 = p2x * p2x + p2y * p2y - r * r
    disc = b * b - 4.0 * a * c1

    total = np.empty_like(p1x)
    cross = p1x * p2y - p2x * p1y
    # fast path 1: both endpoints inside (circle convex ⇒ whole edge
    # inside) → pure triangle term, no trig
    both_in = (c1 <= 0) & (c2 <= 0)
    # fast path 2: segment never enters the disc within t∈[0,1] and
    # endpoints outside → pure sector term, one arctan2
    sq = np.sqrt(np.maximum(disc, 0.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        t1 = np.where(a > 0, (-b - sq) / (2.0 * a), 0.0)
        t2 = np.where(a > 0, (-b + sq) / (2.0 * a), 0.0)
    misses = (disc <= 0) | (t2 <= 0) | (t1 >= 1) | (a == 0)
    both_out = ~both_in & misses
    split = ~both_in & ~misses

    total[both_in] = 0.5 * cross[both_in]
    if both_out.any():
        ang = np.arctan2(cross[both_out],
                         p1x[both_out] * p2x[both_out] + p1y[both_out] * p2y[both_out])
        total[both_out] = 0.5 * r[both_out] * r[both_out] * ang

    if split.any():
        # general case (edge crosses the circle): split at the clipped
        # intersection parameters into ≤3 sub-segments
        s1x, s1y, s2x, s2y = p1x[split], p1y[split], p2x[split], p2y[split]
        sdx, sdy = dx[split], dy[split]
        rr = r[split]
        st1 = np.clip(t1[split], 0.0, 1.0)
        st2 = np.clip(t2[split], 0.0, 1.0)
        acc = np.zeros_like(s1x)
        bounds = (np.zeros_like(st1), st1, st2, np.ones_like(st1))
        for k in range(3):
            ta, tb = bounds[k], bounds[k + 1]
            ax_, ay_ = s1x + ta * sdx, s1y + ta * sdy
            bx_, by_ = s1x + tb * sdx, s1y + tb * sdy
            mx, my = 0.5 * (ax_ + bx_), 0.5 * (ay_ + by_)
            inside = mx * mx + my * my <= rr * rr
            crs = ax_ * by_ - bx_ * ay_
            tri = 0.5 * crs
            ang = np.arctan2(crs, ax_ * bx_ + ay_ * by_)
            sec = 0.5 * rr * rr * ang
            acc += np.where(tb > ta, np.where(inside, tri, sec), 0.0)
        total[split] = acc
    return total


def circle_polygon_area(cx: float, cy: float, r: float, ring: np.ndarray) -> float:
    """Exact area of circle((cx,cy), r) ∩ polygon(ring). Single-pair
    convenience wrapper over the vectorized edge kernel."""
    if not ring_is_closed(ring):
        return 0.0  # open polylines have zero clip area
    ring = _open_ring(ring)
    if len(ring) < 3 or r <= 0:
        return 0.0
    p1 = ring - np.array([cx, cy])
    p2 = np.roll(p1, -1, axis=0)
    rr = np.full(len(p1), float(r))
    area = float(np.sum(_edge_circle_contrib(p1[:, 0], p1[:, 1], p2[:, 0], p2[:, 1], rr)))
    # CW rings yield negative area; normalize to magnitude of intersection
    return abs(area)


def circle_feature_area(cx: float, cy: float, r: float, parts) -> float:
    """Exact area of circle((cx,cy), r) ∩ a (possibly holed) feature:
    signed Green's-theorem sum with part 0 CCW and later closed parts
    CW, so hole clips subtract. `parts` is a list of ring arrays (or a
    single ring array). Open parts contribute nothing."""
    if isinstance(parts, np.ndarray) and parts.ndim == 2:
        parts = [parts]
    total = 0.0
    for i, raw in enumerate(parts):
        raw = np.asarray(raw, np.float64).reshape(-1, 2)
        if not ring_is_closed(raw):
            continue
        a = circle_polygon_area(cx, cy, r, raw)
        total += a if i == 0 else -a
    return max(total, 0.0)


def pairs_point_polygon_distance(
    px: np.ndarray, py: np.ndarray, rings: list
) -> np.ndarray:
    """Vectorized st_distance(point, geometry) (C_…R:117): 0 when the
    point is inside a closed feature (even-odd parity over ALL rings,
    so points in a hole are outside), else min distance to any edge of
    any part. Open polylines (first ≠ last vertex) measure to the open
    edge chain — no closing edge, no inside. Elements of `rings` may
    be single (n, 2) arrays or lists of part arrays (holes, multipart
    lines) — one pair per feature. Implementation independent of the
    packed batch kernel (this is the serial oracle's primitive)."""
    n = len(rings)
    out = np.full(n, np.inf, dtype=np.float64)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    for i in range(n):
        f = rings[i]
        parts = ([f] if isinstance(f, np.ndarray) and f.ndim == 2
                 else [np.asarray(p, np.float64).reshape(-1, 2) for p in f])
        best = np.inf
        ncross = 0
        areal = True
        for raw in parts:
            closed = ring_is_closed(raw)
            areal &= closed
            r = _open_ring(raw)
            if len(r) < 2:
                continue
            a = r
            b = np.roll(r, -1, axis=0) if closed else r[1:]
            if not closed:
                a = r[:-1]
            d = point_segment_distance(
                np.full(len(a), px[i]), np.full(len(a), py[i]),
                a[:, 0], a[:, 1], b[:, 0], b[:, 1])
            best = min(best, float(d.min()))
            if closed and len(r) >= 3:
                cond = (a[:, 1] > py[i]) != (b[:, 1] > py[i])
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = a[:, 0] + (py[i] - a[:, 1]) * (b[:, 0] - a[:, 0]) \
                        / (b[:, 1] - a[:, 1])
                ncross += int((cond & (px[i] < xint)).sum())
        if areal and ncross % 2 == 1:
            best = 0.0
        out[i] = best
    return out


# ---------------------------------------------------------------------------
# packed-ring batch kernel (the hot path inside the spatial-join UDF)
# ---------------------------------------------------------------------------

def feature_parts(geom) -> list[np.ndarray]:
    """A geometry column value (list of flat part arrays) → list of
    (n, 2) part arrays. Part 0 is the outer ring; further CLOSED parts
    are holes (multipolygons are separate features); open parts are
    polyline segments."""
    return [np.asarray(p, dtype=np.float64).reshape(-1, 2) for p in geom]


class PackedRings:
    """Unique features of one Arrow batch packed into flat arrays so
    the per-pair kernel is pure vectorized gather — zero per-pair
    Python. A candidate pair references its feature by index; the same
    feature joined against many points is parsed exactly once per
    batch.

    Features may have MULTIPLE parts: part 0 is the outer ring, later
    closed parts are interior holes (packed with opposite winding so
    the signed edge sum subtracts them; the even-odd crossing parity
    over all edges makes hole interiors "outside"). Open polylines
    (first ≠ last raw vertex, :func:`ring_is_closed`) are first-class:
    their edge chains do NOT wrap around (the last vertex's `nxt` is
    itself — a degenerate zero-length segment whose distance is the
    vertex distance, already dominated by the real segments), they
    have no inside, and their circle-clip area is 0. A feature is
    areal iff all its parts are closed."""

    __slots__ = ("V", "offsets", "counts", "nxt", "closed")

    def __init__(self, features: list):
        # normalize: a bare (n,2) array is a single-ring feature
        feats = [[f] if isinstance(f, np.ndarray) and f.ndim == 2 else list(f)
                 for f in features]
        n = len(feats)
        parts = [np.asarray(p, np.float64).reshape(-1, 2) for f in feats for p in f]
        fpart = np.repeat(np.arange(n, dtype=np.int64), [len(f) for f in feats])
        nparts = np.bincount(fpart, minlength=n)
        # part index within its feature: 0 = outer ring, 1+ = holes
        pidx = np.arange(len(parts)) - np.repeat(np.cumsum(nparts) - nparts, nparts)
        lens = np.array([len(p) for p in parts], dtype=np.int64)
        raw = (np.concatenate(parts, axis=0) if parts
               else np.zeros((0, 2), dtype=np.float64))
        start = np.cumsum(lens) - lens
        # first == last vertex: the closing duplicate (_open_ring drops it;
        # a closed ring — ring_is_closed — also needs ≥ 4 raw vertices)
        ends_eq = np.zeros(len(parts), dtype=bool)
        nz = lens > 0
        ends_eq[nz] = (raw[start[nz]] == raw[start[nz] + lens[nz] - 1]).all(axis=1)
        closed = ends_eq & (lens >= 4)
        olen = lens - (ends_eq & (lens >= 2))
        # orientation of closed parts: the signed shoelace sum of
        # orient_ccw, evaluated per equal-length group so each sum is the
        # same contiguous np.sum reduction as the per-ring call
        ccw = np.ones(len(parts), dtype=bool)
        for m in np.unique(olen[closed]):
            sel = np.flatnonzero(closed & (olen == m))
            vi = start[sel][:, None] + np.arange(m)
            x, y = raw[vi, 0], raw[vi, 1]
            a = 0.5 * np.sum(x * np.roll(y, -1, axis=1)
                             - np.roll(x, -1, axis=1) * y, axis=1)
            ccw[sel] = a >= 0
        # closed outer rings CCW, closed holes CW; open parts untouched
        rev = closed & (ccw != (pidx == 0))
        ostart = np.cumsum(olen) - olen
        q = np.arange(int(olen.sum()), dtype=np.int64) - np.repeat(ostart, olen)
        ol = np.repeat(olen, olen)
        src = np.repeat(start, olen) + np.where(np.repeat(rev, olen), ol - 1 - q, q)
        self.V = raw[src]
        self.counts = np.bincount(fpart, weights=olen, minlength=n).astype(np.int64)
        self.offsets = np.concatenate(
            [[0], np.cumsum(self.counts)[:-1]]).astype(np.int64)
        self.closed = np.bincount(fpart[~closed], minlength=n) == 0
        # each part's last vertex wraps to its first (closed ring) or stays
        # put (open chain: a degenerate zero-length edge)
        nxt = np.arange(1, len(self.V) + 1, dtype=np.int64)
        last = ostart + olen - 1
        ne = olen > 0
        nxt[last[ne]] = np.where(closed[ne], ostart[ne], last[ne])
        self.nxt = nxt


def packed_pair_metrics(
    px: np.ndarray, py: np.ndarray, ridx: np.ndarray,
    packed: PackedRings, radii: tuple[float, ...],
) -> dict[str, np.ndarray]:
    """For candidate pairs (point i at (px[i], py[i]) vs ring
    packed[ridx[i]]): distance (0 inside) and exact circle∩polygon
    area per radius — one fully vectorized pass over all edges of all
    pairs. Semantics identical to pairs_point_polygon_distance and, per
    pair, circle_polygon_area (with the dist≥r → 0 area clamp)."""
    n = len(ridx)
    out_dist = np.full(n, np.inf, dtype=np.float64)
    if n == 0:
        return {"dist": out_dist, **{f"a{int(r)}": np.zeros(0) for r in radii}}
    counts = packed.counts[ridx]
    total = int(counts.sum())
    # grouped-ranges trick: vertex index per (pair, edge); pair order
    # is sorted, so per-pair reductions are reduceat over segments
    # (np.add.at/minimum.at are ~20× slower — unbuffered ufuncs)
    cum = np.concatenate([[0], np.cumsum(counts)[:-1]])
    step = np.arange(total) - np.repeat(cum, counts)
    vidx = np.repeat(packed.offsets[ridx], counts) + step
    p1 = packed.V[vidx]
    p2 = packed.V[packed.nxt[vidx]]
    ppx = np.repeat(np.asarray(px, np.float64), counts)
    ppy = np.repeat(np.asarray(py, np.float64), counts)
    valid = counts > 0
    seg_starts = cum[valid]

    d = point_segment_distance(ppx, ppy, p1[:, 0], p1[:, 1], p2[:, 0], p2[:, 1])
    out_dist[valid] = np.minimum.reduceat(d, seg_starts) if len(d) else np.inf
    # inside test: even-odd crossing parity (closed rings only — an
    # open polyline has no inside)
    cond = (p1[:, 1] > ppy) != (p2[:, 1] > ppy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = p1[:, 0] + (ppy - p1[:, 1]) * (p2[:, 0] - p1[:, 0]) / (p2[:, 1] - p1[:, 1])
    crossing = (cond & (ppx < xint)).astype(np.int64)
    ncross = np.zeros(n, dtype=np.int64)
    ncross[valid] = np.add.reduceat(crossing, seg_starts)
    pair_closed = packed.closed[ridx]
    out_dist[(ncross % 2 == 1) & (counts >= 3) & pair_closed] = 0.0

    out: dict[str, np.ndarray] = {"dist": out_dist}
    q1x, q1y = p1[:, 0] - ppx, p1[:, 1] - ppy
    q2x, q2y = p2[:, 0] - ppx, p2[:, 1] - ppy
    for r in radii:
        # area is non-zero only where dist < r — evaluate the (trig-
        # heavy) circle kernel on that pair subset only (2-30% of
        # pairs at the reference radii vs the 1000 m candidate cap).
        # Open polylines have zero clip area by definition.
        hit = (out_dist < r) & pair_closed
        a = np.zeros(n, dtype=np.float64)
        if hit.any():
            hcounts = counts[hit]
            hedge = np.repeat(hit, counts)
            hv = hcounts > 0
            hstarts = np.concatenate([[0], np.cumsum(hcounts)[:-1]])[hv]
            rr = np.full(int(hcounts.sum()), float(r))
            contrib = _edge_circle_contrib(
                q1x[hedge], q1y[hedge], q2x[hedge], q2y[hedge], rr)
            acc = np.zeros(int(hit.sum()), dtype=np.float64)
            acc[hv] = np.add.reduceat(contrib, hstarts) if len(contrib) else 0.0
            a[hit] = np.abs(acc)
        out[f"a{int(r)}"] = a
    return out


# ---------------------------------------------------------------------------
# exact dissolved union (st_union before st_area, C_…R:99,154):
# inclusion–exclusion over pairwise/k-wise polygon intersections
# computed by Sutherland–Hodgman clipping against convex clip polygons
# ---------------------------------------------------------------------------

class DissolveFallback(Exception):
    """Raised when the exact union needs a non-convex clip polygon (or
    the overlap component is too entangled) — callers switch to the
    supersampled raster union for that layer."""


def orient_ccw(ring: np.ndarray) -> np.ndarray:
    """Open ring, oriented counter-clockwise."""
    r = _open_ring(ring)
    x, y = r[:, 0], r[:, 1]
    a = 0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    return r if a >= 0 else r[::-1]


def is_convex(ring: np.ndarray) -> bool:
    """All turns of the (CCW-oriented) open ring are left or straight."""
    r = orient_ccw(ring)
    if len(r) < 3:
        return False
    d = np.roll(r, -1, axis=0) - r
    cross = d[:, 0] * np.roll(d[:, 1], -1) - d[:, 1] * np.roll(d[:, 0], -1)
    return bool((cross >= -1e-9 * np.abs(cross).max()).all()) if len(d) else False


def convex_clip(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip an arbitrary simple `subject` ring by a
    CONVEX `clip` ring. Returns the open intersection ring (may be
    empty). Correct area for any simple subject; the clip side must be
    convex (checked by callers)."""
    out = orient_ccw(subject)
    cl = orient_ccw(clip)
    n = len(cl)
    for i in range(n):
        if len(out) < 3:
            return np.zeros((0, 2))
        ax, ay = cl[i]
        bx, by = cl[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        px, py = out[:, 0], out[:, 1]
        side = ex * (py - ay) - ey * (px - ax)   # ≥0 = inside (left)
        inside = side >= 0.0
        nxt_i = np.roll(np.arange(len(out)), -1)
        res: list[np.ndarray] = []
        for j in range(len(out)):
            k = nxt_i[j]
            if inside[j]:
                res.append(out[j])
            if inside[j] != inside[k]:
                # edge crosses the clip line: parametric intersection
                denom = side[j] - side[k]
                t = side[j] / denom
                res.append(out[j] + t * (out[k] - out[j]))
        out = np.array(res) if res else np.zeros((0, 2))
    return out


def _axis_rect_of(opened: np.ndarray) -> tuple | None:
    """(x0, y0, x1, y1) when the open ring is an axis-aligned
    rectangle (any vertex order), else None — the O(1) clip fast path
    for rect-dominated footprint layers."""
    if len(opened) != 4:
        return None
    xs, ys = opened[:, 0], opened[:, 1]
    ux, uy = np.unique(xs), np.unique(ys)
    if len(ux) != 2 or len(uy) != 2:
        return None
    # each vertex must be a distinct corner
    if len({(float(x), float(y)) for x, y in opened}) != 4:
        return None
    return (float(ux[0]), float(uy[0]), float(ux[1]), float(uy[1]))


def _rect_ring(r: tuple) -> np.ndarray:
    x0, y0, x1, y1 = r
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])


def ear_clip_triangulate(ring: np.ndarray) -> list[np.ndarray]:
    """Simple-polygon triangulation by ear clipping (public textbook
    algorithm, O(n²)): open CCW ring → list of CCW triangles (open
    3-vertex arrays) covering the polygon exactly. Degenerate
    (zero-area) ears are dropped. The dissolve machinery uses it to
    decompose non-convex features into convex pieces — intersection
    then reduces to convex∩convex clips and the inclusion–exclusion
    terms stay exact (area is additive over the disjoint pieces)."""
    pts = orient_ccw(np.asarray(ring, np.float64))
    idx = list(range(len(pts)))
    tris: list[np.ndarray] = []

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    guard = 0
    while len(idx) > 3 and guard < 4 * len(pts) * len(pts):
        guard += 1
        n = len(idx)
        for pos in range(n):
            i0, i1, i2 = idx[pos - 1], idx[pos], idx[(pos + 1) % n]
            a, b, c = pts[i0], pts[i1], pts[i2]
            ar2 = cross(a, b, c)
            if ar2 <= 0.0:
                continue  # reflex or degenerate corner
            # no other remaining vertex strictly inside the candidate ear
            ok = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                p = pts[j]
                if (cross(a, b, p) > 0 and cross(b, c, p) > 0
                        and cross(c, a, p) > 0):
                    ok = False
                    break
            if ok:
                tris.append(np.array([a, b, c]))
                idx.pop(pos)
                break
        else:
            raise DissolveFallback(
                "ear clipping found no ear (degenerate/self-intersecting ring)")
    if len(idx) == 3:
        a, b, c = pts[idx[0]], pts[idx[1]], pts[idx[2]]
        if cross(a, b, c) > 0.0:
            tris.append(np.array([a, b, c]))
    return tris


def triangulate_with_holes(parts: list[np.ndarray]) -> list[np.ndarray]:
    """Polygon-with-holes → CCW triangles, by hole bridging + ear
    clipping (the standard earcut decomposition, public knowledge):
    each hole (CW) is spliced into the outer ring (CCW) through a
    mutually visible vertex pair — two coincident bridge edges keep
    the result weakly simple with zero added area — then the single
    spliced ring ear-clips. Lets holed features participate in exact
    overlap corrections instead of forcing the raster fallback.

    Bridge selection is brute force (closest visible pair, checked
    against every edge of the outer ring and every hole): O(n²·E),
    fine for footprint-sized rings; raises DissolveFallback when no
    visible pair exists (degenerate input)."""
    outer = orient_ccw(_open_ring(parts[0]))
    holes = [_open_ring(h) for h in parts[1:]]
    holes = [h[::-1] if ring_area(h) > 0 else h for h in holes]  # CW

    def visible(p, q, poly, all_holes):
        # the open segment p→q must not properly cross any edge
        for ring in [poly, *all_holes]:
            a = ring
            b = np.roll(ring, -1, axis=0)
            hit = _segments_properly_intersect(
                np.full(len(a), p[0]), np.full(len(a), p[1]),
                np.full(len(a), q[0]), np.full(len(a), q[1]),
                a[:, 0], a[:, 1], b[:, 0], b[:, 1])
            if hit.any():
                return False
        m = (p + q) / 2.0
        if not bool(point_in_ring(np.array([m[0]]), np.array([m[1]]),
                                  np.vstack([poly, poly[:1]]))[0]):
            return False
        for h in all_holes:
            if bool(point_in_ring(np.array([m[0]]), np.array([m[1]]),
                                  np.vstack([h, h[:1]]))[0]):
                return False
        return True

    poly = outer
    # bridge right-most holes first (earcut's order: their bridges
    # can't cross holes further left)
    pending = sorted(holes, key=lambda h: -h[:, 0].max())
    for hi, hole in enumerate(pending):
        rest = pending[hi + 1:]
        # candidate pairs by ascending distance
        d2 = ((poly[:, None, :] - hole[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=None)
        spliced = False
        for flat in order:
            i, j = int(flat // len(hole)), int(flat % len(hole))
            if visible(poly[i], hole[j], poly, [hole, *rest]):
                H = np.roll(hole, -j, axis=0)
                poly = np.concatenate(
                    [poly[:i + 1], H, H[:1], poly[i:]])
                spliced = True
                break
        if not spliced:
            raise DissolveFallback("no visible bridge vertex for hole")
    return ear_clip_triangulate(poly)


def overlap_corrections(
    rings: list[np.ndarray], years: np.ndarray, *,
    max_terms: int = 512,
    with_owner: bool = False,
) -> list[tuple]:
    """Inclusion–exclusion correction polygons for an overlapping layer:
    for every subset S (|S| ≥ 2) of mutually intersecting features,
    the intersection polygon I_S with weight (−1)^{|S|+1} and theta
    year max(YEAR_i, i∈S) — so that for any region R (here: a circle),

        area(R ∩ ⋃ rings) = Σ_i area(R ∩ ring_i)
                          + Σ_{|S|≥2} weight_S · area(R ∩ I_S).

    Corrections are FEATURE-STATIC: computed once per layer, they ride
    the same cell-indexed join as real features, so per-point dissolve
    cost stays O(local candidates) at any point count. Raises
    DissolveFallback when an intersection needs a non-convex clip
    polygon or the component explodes combinatorially.

    Open polylines carry no area, so only CLOSED rings participate —
    a polyline layer yields no corrections. Multi-part (holed) areal
    features participate exactly (r03): hole-bridged ear clipping
    (triangulate_with_holes) decomposes outer−holes into convex
    pieces, so their subset intersections are ordinary convex piece
    products like everything else.

    `max_terms` bounds the subset count PER CONNECTED overlap
    component (a clique of k mutually-overlapping features can emit
    2^k−k−1 terms); the total across disjoint components is unbounded —
    that is ordinary linear work. Axis-aligned rectangles intersect in
    O(1) without the general clipping pass.

    `with_owner=True` appends each term's OWNER CORNER — the exact
    (max of member bbox minx, max of member bbox miny) pair, pure
    maxima of input doubles, so every replica of the same subset
    computes the identical corner regardless of which coarse tile it
    runs in. The distributed correction build keys exactly-once
    emission on it (operators/areadist.dissolve_corrections_df)."""
    feats = [[f] if isinstance(f, np.ndarray) and f.ndim == 2
             else [np.asarray(p, np.float64).reshape(-1, 2) for p in f]
             for f in rings]
    areal = [i for i, f in enumerate(feats)
             if f and all(ring_is_closed(p) for p in f)]
    if len(areal) < len(feats):
        feats = [feats[i] for i in areal]
        years = np.asarray(years)[areal]
    n = len(feats)
    multi = np.array([len(f) > 1 for f in feats], dtype=bool)
    opened = [orient_ccw(f[0]) for f in feats]
    bb = np.array([
        [min(p[:, 0].min() for p in f), min(p[:, 1].min() for p in f),
         max(p[:, 0].max() for p in f), max(p[:, 1].max() for p in f)]
        for f in feats
    ]) if n else np.zeros((0, 4))
    # clip everything in a local frame to keep coordinates small
    # (coords ~4e5 in the fixture CRS would cost ~1e-8 area noise)
    origin = bb[:, :2].min(axis=0) if n else np.zeros(2)
    local = [r - origin for r in opened]
    convex = [is_convex(r) for r in opened]

    # pairwise bbox-overlap candidates via x-interval sweep: O(n log n
    # + pairs), never the O(n²) all-pairs scan (20k-feature layers)
    lb = bb - np.array([*origin, *origin])
    order = np.argsort(lb[:, 0], kind="stable")
    xs = lb[order, 0]
    adj: dict[int, list[int]] = {i: [] for i in range(n)}
    for pos in range(n):
        i = int(order[pos])
        hi = int(np.searchsorted(xs, lb[i, 2], side="right"))
        js = order[pos + 1:hi]
        js = js[(lb[js, 1] <= lb[i, 3]) & (lb[js, 3] >= lb[i, 1])]
        for j in js:
            a, b = (i, int(j)) if i < j else (int(j), i)
            adj[a].append(b)
            adj[b].append(a)

    # union-find over overlap pairs → per-component term budgets
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(n):
        for j in adj[i]:
            ra, rb = find(i), find(int(j))
            if ra != rb:
                parent[ra] = rb

    rect = [_axis_rect_of(r) for r in local]
    comp_terms: dict[int, int] = {}
    out: list[tuple] = []

    # each feature is a list of CONVEX pieces (rect tuple or open CCW
    # ring): rects and convex rings are singletons; non-convex simple
    # rings triangulate (ear clipping); holed features hole-bridge then
    # triangulate (outer−holes exactly). Every pairwise clip below is
    # convex-convex and a subset intersection is a DISJOINT piece list.
    # Inclusion-exclusion is linear in area, so each piece is emitted
    # as its own correction row -- exact; no raster fallback for
    # non-convex or holed overlaps any more (VERDICT r02 next-#5/
    # missing-#3). Lazy per-feature cache: only features actually in
    # an overlap pair pay for decomposition.
    pieces_cache: dict[int, list] = {}

    def get_pieces(i: int) -> list:
        if i not in pieces_cache:
            if multi[i]:
                pieces_cache[i] = triangulate_with_holes(
                    [p - origin for p in feats[i]])
            elif rect[i] is not None:
                pieces_cache[i] = [rect[i]]
            elif convex[i]:
                pieces_cache[i] = [local[i]]
            else:
                pieces_cache[i] = ear_clip_triangulate(local[i])
        return pieces_cache[i]

    max_pieces = 256  # per-subset piece cap (triangle products)

    def bump(i: int) -> None:
        root = find(i)
        comp_terms[root] = comp_terms.get(root, 0) + 1
        if comp_terms[root] > max_terms:
            raise DissolveFallback(
                f"overlap component of feature {i} too entangled "
                f"(> {max_terms} inclusion-exclusion terms)")

    def _clip_pair(p, q):
        """p, q: rect tuple or open convex ring -> their intersection
        (same representations), or None when empty."""
        if isinstance(p, tuple) and isinstance(q, tuple):
            x0, y0 = max(p[0], q[0]), max(p[1], q[1])
            x1, y1 = min(p[2], q[2]), min(p[3], q[3])
            return (x0, y0, x1, y1) if x0 < x1 and y0 < y1 else None
        a = _rect_ring(p) if isinstance(p, tuple) else p
        b = _rect_ring(q) if isinstance(q, tuple) else q
        inter = convex_clip(a, b)
        if len(inter) < 3 or abs(ring_area(inter)) <= 0.0:
            return None
        return inter

    def intersect(pieces: list, k: int) -> list:
        """Disjoint convex piece list ∩ feature k -> disjoint convex
        piece list ([] = no overlap)."""
        res = []
        for p in pieces:
            for q in get_pieces(k):
                c = _clip_pair(p, q)
                if c is not None:
                    res.append(c)
        if len(res) > max_pieces:
            raise DissolveFallback(
                f"subset intersection fragmented into > {max_pieces} pieces "
                f"(feature {k})")
        return res

    def emit(pieces: list, sub: tuple[int, ...]) -> None:
        w = 1.0 if len(sub) % 2 == 1 else -1.0
        y = int(years[list(sub)].max())
        owner = None
        if with_owner:
            ids = list(sub)
            owner = (float(bb[ids, 0].max()), float(bb[ids, 1].max()))
        for poly in pieces:
            ring = _rect_ring(poly) if isinstance(poly, tuple) else poly
            # store CLOSED (first vertex repeated): correction polygons
            # are areal, not polylines (ring_is_closed)
            closed = np.vstack([ring, ring[:1]]) + origin
            term = (closed, y, w)
            if with_owner:
                term += (owner,)
            out.append(term)

    def _pieces_bbox(pieces: list) -> tuple:
        bbs = []
        for p in pieces:
            if isinstance(p, tuple):
                bbs.append(p)
            else:
                bbs.append((p[:, 0].min(), p[:, 1].min(),
                            p[:, 0].max(), p[:, 1].max()))
        arr = np.array(bbs)
        return (arr[:, 0].min(), arr[:, 1].min(),
                arr[:, 2].max(), arr[:, 3].max())

    # frontier of subsets: (member tuple, disjoint convex piece list)
    frontier: list[tuple[tuple[int, ...], list]] = []
    for i in range(n):
        for k in sorted(set(adj[i])):
            if k <= i:
                continue
            inter = intersect(get_pieces(i), k)
            if not inter:
                continue
            bump(i)
            emit(inter, (i, k))
            frontier.append(((i, k), inter))

    while frontier:
        nxt = []
        for members, pieces in frontier:
            last = members[-1]
            pb = _pieces_bbox(pieces)
            for k in sorted(set(adj[members[0]])):
                if k <= last:
                    continue
                if (lb[k, 0] > pb[2] or lb[k, 2] < pb[0]
                        or lb[k, 1] > pb[3] or lb[k, 3] < pb[1]):
                    continue
                inter = intersect(pieces, k)
                if not inter:
                    continue
                sub = members + (k,)
                bump(members[0])
                emit(inter, sub)
                nxt.append((sub, inter))
        frontier = nxt
    return out


def union_circle_area(cx: float, cy: float, r: float,
                      rings: list[np.ndarray],
                      years: np.ndarray | None = None,
                      point_year: int | None = None) -> float:
    """Exact area(circle ∩ ⋃ rings) — serial-oracle counterpart of the
    correction machinery (optionally theta-filtered). Raises
    DissolveFallback like overlap_corrections."""
    if years is None:
        years = np.zeros(len(rings), dtype=np.int64)
    keep = np.ones(len(rings), dtype=bool)
    if point_year is not None:
        keep = years < point_year
    rs = [rg for rg, k in zip(rings, keep) if k]
    ys = years[keep]
    total = sum(circle_feature_area(cx, cy, r, rg) for rg in rs)
    for poly, _y, w in overlap_corrections(rs, ys):
        total += w * circle_polygon_area(cx, cy, r, poly)
    return float(total)


# ---------------------------------------------------------------------------
# validity (st_is_valid, C_…R:317)
# ---------------------------------------------------------------------------

def _segments_properly_intersect(
    ax, ay, bx, by, cx, cy, dx, dy
) -> np.ndarray:
    """Vectorized proper-intersection test for segment pairs."""
    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    o1 = orient(ax, ay, bx, by, cx, cy)
    o2 = orient(ax, ay, bx, by, dx, dy)
    o3 = orient(cx, cy, dx, dy, ax, ay)
    o4 = orient(cx, cy, dx, dy, bx, by)
    return (o1 * o2 < 0) & (o3 * o4 < 0)


def polyline_is_valid(ring: np.ndarray) -> bool:
    """Open-chain validity: ≥2 vertices, finite coords, no repeated
    consecutive vertex (zero-length segment)."""
    r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(r) < 2 or not np.isfinite(r).all():
        return False
    return bool((np.abs(np.diff(r, axis=0)).sum(axis=1) > 0).all())


def ring_is_valid(ring: np.ndarray) -> bool:
    """Closed, ≥4 raw vertices, finite coords, non-zero area, and no
    self-intersection between non-adjacent edges."""
    raw = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(raw) < 4 or not np.isfinite(raw).all():
        return False
    if not np.all(raw[0] == raw[-1]):
        return False
    r = raw[:-1]
    if len(r) < 3 or abs(ring_area(raw)) <= 0.0:
        return False
    n = len(r)
    p2 = np.roll(r, -1, axis=0)
    i, j = np.triu_indices(n, k=2)
    keep = ~((i == 0) & (j == n - 1))  # first/last edges are adjacent
    i, j = i[keep], j[keep]
    hit = _segments_properly_intersect(
        r[i, 0], r[i, 1], p2[i, 0], p2[i, 1],
        r[j, 0], r[j, 1], p2[j, 0], p2[j, 1],
    )
    return not bool(hit.any())


# ---------------------------------------------------------------------------
# transverse Mercator (st_transform, C_…R:33) — pure series math
# ---------------------------------------------------------------------------

_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101


def tmerc_forward(
    lon_deg: np.ndarray, lat_deg: np.ndarray,
    lon0: float = -115.0, k0: float = 0.9992,
    x0: float = 500000.0, y0: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Forward transverse Mercator on GRS80 (the reference's 10TM CRS,
    C_…R:33: "+proj=tmerc +lat_0=0 +lon_0=-115 +k=0.9992 +x_0=500000").
    Standard Redfearn-style series; round-trip with tmerc_inverse is
    sub-mm within ±2° of the central meridian (the fixture window),
    dl⁶-truncation-limited to ~cm at the extent's ±5° fringe."""
    a, f = _GRS80_A, _GRS80_F
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    dlon = np.radians(np.asarray(lon_deg, dtype=np.float64) - lon0)
    sin_l, cos_l = np.sin(lat), np.cos(lat)
    N = a / np.sqrt(1 - e2 * sin_l**2)
    T = (sin_l / cos_l) ** 2
    C = ep2 * cos_l**2
    A = dlon * cos_l
    # meridian arc
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * lat
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * lat)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * lat)
        - (35 * e2**3 / 3072) * np.sin(6 * lat)
    )
    x = x0 + k0 * N * (
        A + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = y0 + k0 * (
        M + N * (sin_l / cos_l) * (
            A**2 / 2 + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return x, y


def tmerc_inverse(
    x: np.ndarray, y: np.ndarray,
    lon0: float = -115.0, k0: float = 0.9992,
    x0: float = 500000.0, y0: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse transverse Mercator on GRS80 (round-trip partner of
    :func:`tmerc_forward`)."""
    a, f = _GRS80_A, _GRS80_F
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    e1 = (1 - np.sqrt(1 - e2)) / (1 + np.sqrt(1 - e2))
    M = (np.asarray(y, dtype=np.float64) - y0) / k0
    mu = M / (a * (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256))
    lat1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1 = np.sin(lat1), np.cos(lat1)
    C1 = ep2 * cos1**2
    T1 = (sin1 / cos1) ** 2
    N1 = a / np.sqrt(1 - e2 * sin1**2)
    R1 = a * (1 - e2) / (1 - e2 * sin1**2) ** 1.5
    D = (np.asarray(x, dtype=np.float64) - x0) / (N1 * k0)
    lat = lat1 - (N1 * sin1 / cos1 / R1) * (
        D**2 / 2 - (5 + 3 * T1 + 10 * C1 - 4 * C1**2 - 9 * ep2) * D**4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1**2 - 252 * ep2 - 3 * C1**2) * D**6 / 720
    )
    lon = np.radians(lon0) + (
        D - (1 + 2 * T1 + C1) * D**3 / 6
        + (5 - 2 * C1 + 28 * T1 - 3 * C1**2 + 8 * ep2 + 24 * T1**2) * D**5 / 120
    ) / cos1
    return np.degrees(lon), np.degrees(lat)


# ---------------------------------------------------------------------------
# raster ↔ vector (north-star round-trip; reference G9, C_…R:209-216)
# ---------------------------------------------------------------------------

def rasterize(
    ring: np.ndarray, x0: float, y0: float, cell: float, nx: int, ny: int
) -> np.ndarray:
    """Rasterize a polygon ring onto an (ny, nx) boolean grid whose cell
    (i, j) covers [x0+j·cell, x0+(j+1)·cell) × [y0+i·cell, y0+(i+1)·cell).
    A cell is filled iff its centre is inside the ring."""
    jj, ii = np.meshgrid(np.arange(nx), np.arange(ny))
    cx = x0 + (jj.ravel() + 0.5) * cell
    cy = y0 + (ii.ravel() + 0.5) * cell
    return point_in_ring(cx, cy, ring).reshape(ny, nx)


def vectorize_mask(
    mask: np.ndarray, x0: float, y0: float, cell: float
) -> list[np.ndarray]:
    """Trace a binary mask back to closed rectilinear rings by chaining
    the unit boundary edges between filled and empty cells. Exact
    inverse of :func:`rasterize` for rasterized shapes (outer rings
    CCW). Returns a list of closed (n,2) rings in world coordinates."""
    ny, nx = mask.shape
    # directed boundary edges, keyed by start vertex (grid coords)
    edges: dict[tuple[int, int], tuple[int, int]] = {}
    f = np.zeros((ny + 2, nx + 2), dtype=bool)
    f[1:-1, 1:-1] = mask
    for i in range(ny + 1):
        for j in range(nx):
            below, above = f[i, j + 1], f[i + 1, j + 1]
            if below != above:
                if above:  # filled above → edge runs left-to-right (CCW outer)
                    edges[(j, i)] = (j + 1, i)
                else:
                    edges[(j + 1, i)] = (j, i)
    for j in range(nx + 1):
        for i in range(ny):
            left, right = f[i + 1, j], f[i + 1, j + 1]
            if left != right:
                if right:  # filled right → edge runs top-to-bottom
                    edges[(j, i + 1)] = (j, i)
                else:
                    edges[(j, i)] = (j, i + 1)
    rings: list[np.ndarray] = []
    while edges:
        start, nxt = next(iter(edges.items()))
        ring = [start]
        cur = start
        while True:
            nx_v = edges.pop(cur)
            ring.append(nx_v)
            cur = nx_v
            if cur == start:
                break
        arr = np.array(ring, dtype=np.float64)
        arr[:, 0] = x0 + arr[:, 0] * cell
        arr[:, 1] = y0 + arr[:, 1] * cell
        rings.append(arr)
    return rings
