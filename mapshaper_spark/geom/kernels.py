"""Vectorized numpy geometry kernels.

These reproduce the *semantics* of the reference's geometry library exactly
(tie-break rules, operation order for float parity) while being implemented
as array programs suitable for Arrow-batched pandas UDFs. Citations point at
the reference implementation whose behavior each kernel matches:

- ray cast / point-in-ring:  /root/reference/src/geom/mapshaper-shape-geom.js:145-223
- point-in-polygon:          /root/reference/src/geom/mapshaper-shape-geom.js:68-82
- planar path area:          /root/reference/src/geom/mapshaper-shape-geom.js:270-288
- spherical path area:       /root/reference/src/geom/mapshaper-shape-geom.js:225-243
- path centroid:             /root/reference/src/points/mapshaper-polygon-centroid.js
- Visvalingam:               /root/reference/src/simplify/mapshaper-visvalingam.js:5-146
  (heap tie-break by index:  /root/reference/src/simplify/mapshaper-heap.js greaterThan)
- Douglas-Peucker:           /root/reference/src/simplify/mapshaper-dp.js:12-77
- apex distance:             /root/reference/src/geom/mapshaper-geom.js apexDistSq
"""

from __future__ import annotations

import math

import numpy as np

NEG_INF = -np.inf


# ---------------------------------------------------------------------------
# Ray casting / point-in-ring / point-in-polygon
# ---------------------------------------------------------------------------

def ray_intersections(px: np.ndarray, py: np.ndarray, ax, ay, bx, by):
    """Vectorized port of geom.getRayIntersection (vertical ray up from p).

    px, py: (n, 1) point coords; ax..by: (1, m) segment endpoint coords
    (or any broadcastable shapes). Returns (crossing, on_boundary) boolean
    arrays of broadcast shape: crossing=True where the ray crosses the
    segment, on_boundary=True where the point touches the segment.

    The special endpoint rules (score a hit only when px aligns with the
    *rightmost* endpoint and the point is below it) are copied verbatim from
    mapshaper-shape-geom.js:177-223 so congruent-polygon fixtures match.
    """
    # case: p entirely left/right/above the segment -> no hit
    miss = ((px < ax) & (px < bx)) | ((px > ax) & (px > bx)) | ((py > ay) & (py > by))

    on_b = np.zeros(np.broadcast(px, ax).shape, dtype=bool)
    crossing = np.zeros_like(on_b)

    eq_a = px == ax
    eq_b = px == bx
    aligned = eq_a | eq_b

    # vertical or collapsed segment: px == ax == bx
    both = eq_a & eq_b & ~miss
    on_seg = (py == ay) | (py == by) | ((py > ay) != (py > by))
    on_b |= both & on_seg

    # px == ax only
    a_only = eq_a & ~eq_b & ~miss
    on_b |= a_only & (py == ay)
    crossing |= a_only & (py != ay) & (bx < ax) & (py < ay)

    # px == bx only
    b_only = eq_b & ~eq_a & ~miss
    on_b |= b_only & (py == by)
    crossing |= b_only & (py != by) & (ax < bx) & (py < by)

    # px strictly between endpoints
    between = ~aligned & ~miss
    with np.errstate(divide="ignore", invalid="ignore"):
        y_int = ay + (px - ax) * (by - ay) / (bx - ax)
    crossing |= between & (y_int > py)
    on_b |= between & (y_int == py)

    return crossing, on_b


def points_in_ring(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray,
                   chunk: int = 262144) -> np.ndarray:
    """testPointInRing for many points vs one closed ring.

    Returns int8 array: 0 outside, 1 inside, -1 on boundary
    (mapshaper-shape-geom.js:145-164).
    """
    n = len(px)
    out = np.zeros(n, dtype=np.int8)
    if len(rx) < 2 or n == 0:
        return out
    ax, ay = rx[:-1], ry[:-1]
    bx, by = rx[1:], ry[1:]
    m = len(ax)
    # process in chunks to bound the (points x segments) matrix
    step = max(1, chunk // max(m, 1))
    for s in range(0, n, step):
        e = min(n, s + step)
        p_x = px[s:e, None]
        p_y = py[s:e, None]
        crossing, on_b = ray_intersections(p_x, p_y, ax[None, :], ay[None, :],
                                           bx[None, :], by[None, :])
        is_on = on_b.any(axis=1)
        is_in = (crossing.sum(axis=1) & 1).astype(bool)
        res = np.where(is_on, -1, np.where(is_in, 1, 0)).astype(np.int8)
        out[s:e] = res
    return out


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """testPointInPolygon over a list of (rx, ry) closed rings.

    Even-odd XOR across rings; on-boundary => inside
    (mapshaper-shape-geom.js:68-82). Returns bool array.
    """
    n = len(px)
    is_in = np.zeros(n, dtype=bool)
    is_on = np.zeros(n, dtype=bool)
    for rx, ry in rings:
        r = points_in_ring(px, py, np.asarray(rx, dtype=np.float64),
                           np.asarray(ry, dtype=np.float64))
        is_in ^= r == 1
        is_on |= r == -1
    return is_on | is_in


# ---------------------------------------------------------------------------
# Areas / lengths / centroids
# ---------------------------------------------------------------------------

def planar_path_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Signed shoelace with first-point offset for float precision.

    Mirrors getPlanarPathArea (mapshaper-shape-geom.js:270-288): every vertex
    is translated by (-x0, -y0) before accumulation. CW ring => positive.
    """
    if len(xs) < 2:
        return 0.0
    x = xs - xs[0]
    y = ys - ys[0]
    s = float(np.sum(x[1:] * y[:-1] - x[:-1] * y[1:]))
    return s / 2.0


def spherical_path_area(xs: np.ndarray, ys: np.ndarray, R: float = 6378137.0) -> float:
    """getSphericalPathArea (mapshaper-shape-geom.js:225-243)."""
    if len(xs) < 2:
        return 0.0
    d2r = math.pi / 180.0
    x = xs * d2r
    siny = np.sin(ys * d2r)
    s = float(np.sum((x[1:] - x[:-1]) * (2.0 + siny[1:] + siny[:-1])))
    return s / 2.0 * R * R


def path_centroid(xs: np.ndarray, ys: np.ndarray):
    """getPathCentroid (mapshaper-polygon-centroid.js): area-weighted ring
    centroid; degenerate (zero-area) rings fall back to vertex average with
    the close-point handling of getAvgPathXY (shape-geom.js:42-64)."""
    if len(xs) == 0:
        return None
    ax, ay = xs[:-1], ys[:-1]
    bx, by = xs[1:], ys[1:]
    tmp = ax * by - ay * bx
    s = float(np.sum(tmp))
    area = s / 2.0
    if area == 0.0:
        # average of vertices, skipping the duplicated closing point
        n = len(xs)
        if n > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
            return float(np.sum(xs[1:]) / (n - 1)), float(np.sum(ys[1:]) / (n - 1))
        return float(np.sum(xs) / n), float(np.sum(ys) / n)
    sum_x = float(np.sum(tmp * (bx + ax)))
    sum_y = float(np.sum(tmp * (by + ay)))
    return sum_x / (6.0 * area), sum_y / (6.0 * area)


def path_length_planar(xs: np.ndarray, ys: np.ndarray) -> float:
    dx = np.diff(xs)
    dy = np.diff(ys)
    return float(np.sum(np.sqrt(dx * dx + dy * dy)))


# ---------------------------------------------------------------------------
# Point-to-segment distance (apex formula)
# ---------------------------------------------------------------------------

def apex_dist_sq(ab2, bc2, ac2):
    """apexDistSq (mapshaper-geom.js:283-299), vectorized.

    Given squared lengths: ab2 = |PA|^2, bc2 = |PC|^2 swapped per caller —
    we keep the reference's calling convention from pointSegDistSq:
    apexDistSq(|AB|^2, |AC|^2, |BC|^2) where B is the point, A/C the segment.
    """
    ab2 = np.asarray(ab2, dtype=np.float64)
    bc2 = np.asarray(bc2, dtype=np.float64)
    ac2 = np.asarray(ac2, dtype=np.float64)
    dval = ab2 + ac2 - bc2
    with np.errstate(divide="ignore", invalid="ignore"):
        interior = ab2 - dval * dval / ac2 * 0.25
    out = np.where(ac2 == 0, ab2,
                   np.where(ab2 >= bc2 + ac2, bc2,
                            np.where(bc2 >= ab2 + ac2, ab2, interior)))
    return np.maximum(out, 0.0)


def point_seg_dist_sq(px, py, ax, ay, cx, cy):
    """pointSegDistSq (mapshaper-geom.js:301-306): point (px,py), segment A-C.

    apex_dist_sq receives (|PA|^2, |PC|^2, |AC|^2) — point-to-endpoint
    distances first, segment length last.
    """
    pa2 = (ax - px) ** 2 + (ay - py) ** 2
    pc2 = (px - cx) ** 2 + (py - cy) ** 2
    seg2 = (ax - cx) ** 2 + (ay - cy) ** 2
    return apex_dist_sq(pa2, pc2, seg2)


def point_to_path_dist_sq(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> float:
    """min squared distance from one point to a polyline (shape-geom.js:85-122)."""
    if len(xs) == 0:
        return math.inf
    if len(xs) == 1:
        return float((xs[0] - px) ** 2 + (ys[0] - py) ** 2)
    d = point_seg_dist_sq(px, py, xs[:-1], ys[:-1], xs[1:], ys[1:])
    return float(np.min(d))


# ---------------------------------------------------------------------------
# Simplification kernels
# ---------------------------------------------------------------------------

def _triangle_area(ax, ay, bx, by, cx, cy) -> float:
    return abs(((ay - cy) * (bx - cx) + (by - cy) * (cx - ax)) / 2.0)


R_SPHERE = 6378137.0


def lnglat_to_xyz(lng: np.ndarray, lat: np.ndarray, r: float = R_SPHERE):
    """lngLatToXYZ (mapshaper-geom.js:171-179): degrees -> 3D sphere coords."""
    d2r = math.pi / 180.0
    lam = np.asarray(lng, dtype=np.float64) * d2r
    phi = np.asarray(lat, dtype=np.float64) * d2r
    cos_lat = np.cos(phi)
    return (np.cos(lam) * cos_lat * r, np.sin(lam) * cos_lat * r, np.sin(phi) * r)


def _det_sq(ax, ay, bx, by, cx, cy) -> float:
    det = ax * by - ax * cy + bx * cy - bx * ay + cx * ay - cx * by
    return det * det


def _triangle_area_3d(ax, ay, az, bx, by, bz, cx, cy, cz) -> float:
    """triangleArea3D (mapshaper-geom.js:271-275)."""
    return 0.5 * math.sqrt(_det_sq(ax, ay, bx, by, cx, cy) +
                           _det_sq(ax, az, bx, bz, cx, cz) +
                           _det_sq(ay, az, by, bz, cy, cz))


def _cosine_3d(ax, ay, az, bx, by, bz, cx, cy, cz) -> float:
    """cosine3D (mapshaper-geom.js:260-268)."""
    den = (math.sqrt((ax - bx) ** 2 + (ay - by) ** 2 + (az - bz) ** 2) *
           math.sqrt((bx - cx) ** 2 + (by - cy) ** 2 + (bz - cz) ** 2))
    if den > 0:
        cos = ((ax - bx) * (cx - bx) + (ay - by) * (cy - by) + (az - bz) * (cz - bz)) / den
        return min(1.0, max(-1.0, cos))
    return 0.0


def _point_seg_dist_sq_3d(bx, by, bz, ax, ay, az, cx, cy, cz):
    """pointSegDistSq3D (mapshaper-geom.js:308-313): point B, segment A-C.
    Vectorized over B."""
    ab2 = (ax - bx) ** 2 + (ay - by) ** 2 + (az - bz) ** 2
    ac2 = (ax - cx) ** 2 + (ay - cy) ** 2 + (az - cz) ** 2
    bc2 = (bx - cx) ** 2 + (by - cy) ** 2 + (bz - cz) ** 2
    return apex_dist_sq(ab2, bc2, ac2)


def _cosine(ax, ay, bx, by, cx, cy) -> float:
    den = math.sqrt((ax - bx) ** 2 + (ay - by) ** 2) * math.sqrt((bx - cx) ** 2 + (by - cy) ** 2)
    if den > 0:
        cos = ((ax - bx) * (cx - bx) + (ay - by) * (cy - by)) / den
        return min(1.0, max(-1.0, cos))
    return 0.0


class _IndexedMinHeap:
    """Indexed binary min-heap with ties broken by smaller value-index.

    Same pop order as the reference heap (mapshaper-heap.js greaterThan:
    ``val1 > val2 || val1 === val2 && idx1 > idx2``) which is required for
    bit-identical Visvalingam thresholds.
    """

    __slots__ = ("vals", "heap", "pos", "n")

    def __init__(self, values):
        self.vals = values
        n = len(values)
        self.n = n
        self.heap = list(range(n))
        self.pos = list(range(n))
        for i in range((n - 2) >> 1, -1, -1):
            self._down(i)

    def _greater(self, a: int, b: int) -> bool:
        i1, i2 = self.heap[a], self.heap[b]
        v1, v2 = self.vals[i1], self.vals[i2]
        return v1 > v2 or (v1 == v2 and i1 > i2)

    def _swap(self, a: int, b: int):
        h = self.heap
        h[a], h[b] = h[b], h[a]
        self.pos[h[a]] = a
        self.pos[h[b]] = b

    def _up(self, i: int) -> int:
        while i > 0:
            parent = (i - 1) >> 1
            if self._greater(i, parent):
                break
            self._swap(i, parent)
            i = parent
        return i

    def _down(self, i: int):
        while True:
            a = 2 * i + 1
            b = a + 1
            m = i
            if a < self.n and self._greater(m, a):
                m = a
            if b < self.n and self._greater(m, b):
                m = b
            if m == i:
                return
            self._swap(i, m)
            i = m

    def pop(self) -> int:
        top = self.heap[0]
        self.n -= 1
        last = self.heap[self.n]
        self.heap[0] = last
        self.pos[last] = 0
        self._down(0)
        return top

    def update(self, vi: int, val: float):
        self.vals[vi] = val
        self._down(self._up(self.pos[vi]))

    def size(self) -> int:
        return self.n


def visvalingam_arc(xs, ys, weighted: bool = False, weighting: float = 0.7,
                    zs=None) -> np.ndarray:
    """Per-vertex Visvalingam removal thresholds for one arc.

    Port of Visvalingam.getArcCalculator + scaledSimplify
    (mapshaper-visvalingam.js:20-80,138-146): min-heap removal of smallest
    effective triangle area, monotonic clamp (a removed point never gets a
    threshold below the previously removed one), optional inverse-cosine
    weighting ``(-cos*k + 1) * area``, then ``sqrt(v) * 0.65`` linearization
    of interior thresholds. Endpoints get +inf.

    ``zs``: third coordinate for spherical simplification (the reference's
    is3D path with standardMetric3D / weightedMetric3D) — pass the XYZ from
    ``lnglat_to_xyz``.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    kk = [0.0] * n
    if n == 0:
        return np.array([], dtype=np.float64)

    if zs is not None:
        zz = np.asarray(zs, dtype=np.float64)
        if weighted:
            def metric(b, c, d):
                area = _triangle_area_3d(xs[b], ys[b], zz[b], xs[c], ys[c], zz[c],
                                         xs[d], ys[d], zz[d])
                cos = _cosine_3d(xs[b], ys[b], zz[b], xs[c], ys[c], zz[c],
                                 xs[d], ys[d], zz[d])
                return (-cos * weighting + 1.0) * area
        else:
            def metric(b, c, d):
                return _triangle_area_3d(xs[b], ys[b], zz[b], xs[c], ys[c], zz[c],
                                         xs[d], ys[d], zz[d])
    elif weighted:
        def metric(b, c, d):
            area = _triangle_area(xs[b], ys[b], xs[c], ys[c], xs[d], ys[d])
            cos = _cosine(xs[b], ys[b], xs[c], ys[c], xs[d], ys[d])
            return (-cos * weighting + 1.0) * area
    else:
        def metric(b, c, d):
            return _triangle_area(xs[b], ys[b], xs[c], ys[c], xs[d], ys[d])

    nxt = list(range(1, n + 1))
    prv = list(range(-1, n - 1))
    for c in range(n):
        if c == 0 or c == n - 1:
            kk[c] = math.inf
        else:
            kk[c] = metric(c - 1, c, c + 1)

    heap = _IndexedMinHeap(kk)
    max_val = -math.inf
    while heap.size() > 0:
        c = heap.pop()
        val = kk[c]
        if val == math.inf:
            break
        if val < max_val:
            kk[c] = max_val  # monotonic clamp (visvalingam.js:59-64)
        else:
            max_val = val
        b = prv[c]
        d = nxt[c]
        if b > 0:
            heap.update(b, metric(prv[b], b, d))
        if d < n - 1:
            heap.update(d, metric(b, d, nxt[d]))
        nxt[b] = d
        prv[d] = b

    out = np.array(kk, dtype=np.float64)
    if n > 2:
        out[1:-1] = np.sqrt(out[1:-1]) * 0.65  # scaledSimplify
    return out


def douglas_peucker_arc(xs, ys, zs=None) -> np.ndarray:
    """Per-vertex DP removal thresholds (mapshaper-dp.js:12-77).

    Includes the parent-threshold clamp (child max distance capped at the
    parent segment's) and the island-ring special case at depth 1.
    Iterative explicit stack (post-order) so deep arcs don't hit Python's
    recursion limit; identical arithmetic to the reference.
    ``zs``: third coordinate -> metricSq3D (spherical path).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    zz = None if zs is None else np.asarray(zs, dtype=np.float64)
    n = len(xs)
    dest = np.zeros(n, dtype=np.float64)
    if n == 0:
        return dest
    dest[0] = dest[n - 1] = math.inf
    if n <= 2:
        return dest

    def max_dist(s: int, e: int):
        ax, ay, cx, cy = xs[s], ys[s], xs[e], ys[e]
        if zz is None:
            seg = point_seg_dist_sq(xs[s + 1:e], ys[s + 1:e], ax, ay, cx, cy)
        else:
            seg = _point_seg_dist_sq_3d(xs[s + 1:e], ys[s + 1:e], zz[s + 1:e],
                                        ax, ay, zz[s], cx, cy, zz[e])
        # reference keeps the *last* index attaining the max (>= comparison)
        rev_arg = len(seg) - 1 - int(np.argmax(seg[::-1]))
        return s + 1 + rev_arg, float(seg[rev_arg])

    # emulate procSegment(0, n-1, 1, MAX_VALUE) with an explicit stack
    # frame: [s, e, depth, dist_sq_prev, phase, max_idx, max_dist_sq, left, right]
    FMAX = float(np.finfo(np.float64).max)
    result = 0.0
    stack = [[0, n - 1, 1, FMAX, 0, -1, 0.0, 0.0, 0.0]]
    while stack:
        fr = stack[-1]
        s, e, depth, prev, phase = fr[0], fr[1], fr[2], fr[3], fr[4]
        if phase == 0:
            mi, md = max_dist(s, e)
            if prev < md:
                md = prev
            fr[5], fr[6] = mi, md
            fr[4] = 1
            if mi - s > 1:
                stack.append([s, mi, depth + 1, md, 0, -1, 0.0, 0.0, 0.0])
                continue
        if fr[4] == 1:
            if fr[5] - s > 1:
                fr[7] = result  # left child's return value
            fr[4] = 2
            if e - fr[5] > 1:
                stack.append([fr[5], e, depth + 1, fr[6], 0, -1, 0.0, 0.0, 0.0])
                continue
        # phase 2: finalize
        if e - fr[5] > 1:
            fr[8] = result  # right child's return value
        md = fr[6]
        if depth == 1 and xs[s] == xs[e] and ys[s] == ys[e]:
            md = max(fr[7], fr[8])  # island-ring case (dp.js:70-72)
        dest[fr[5]] = math.sqrt(md)
        result = fr[6]
        stack.pop()
    return dest


def threshold_by_pct(zz: np.ndarray, pct: float) -> float:
    """setRetainedPct semantics (mapshaper-arcs.js:492-498 + getThresholdByPct
    :540-557, findValueByRank = rank-th smallest, clampIntervalByPct).

    zz: all per-vertex thresholds (endpoints = +inf are excluded, matching
    getRemovableThresholds :504-515).
    """
    if pct >= 1:
        return 0.0
    removable = np.sort(zz[zz != math.inf])
    n = len(removable)
    rank = 0 if n == 0 else int(math.floor((1.0 - pct) * (n + 2)))
    if rank <= 0:
        z = 0.0
    elif rank > n:
        z = math.inf
    else:
        z = float(removable[rank - 1])
    if pct <= 0:
        z = math.inf
    return z


def nearest_point_on_path(px: float, py: float, xs: np.ndarray, ys: np.ndarray):
    """Nearest point on a polyline to (px, py): returns (dist_sq, qx, qy)
    (the projection used by getPointToPathInfo for gap closing,
    mapshaper-gaps.js findUndershootTarget)."""
    ax, ay = xs[:-1], ys[:-1]
    bx, by = xs[1:], ys[1:]
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / seg2
    t = np.where(seg2 == 0, 0.0, np.clip(t, 0.0, 1.0))
    qx = ax + dx * t
    qy = ay + dy * t
    d2 = (qx - px) ** 2 + (qy - py) ** 2
    k = int(np.argmin(d2))
    return float(d2[k]), float(qx[k]), float(qy[k])


# ---------------------------------------------------------------------------
# bbox path clipping (viewport style)
# ---------------------------------------------------------------------------

def _bbox_sector(x: float, y: float, bbox) -> int:
    """getPointSector (mapshaper-bbox-clipping.js:36-49): 3x3 grid sector
    of a point relative to the clipping box; 8 = inside, corners even,
    edges odd, counter-clockwise from bottom-left = 0."""
    bl, tr = bbox[0], bbox[2]
    if x > tr[0]:
        return 4 if y > tr[1] else (5 if y >= bl[1] else 6)
    if x >= bl[0]:
        return 3 if y > tr[1] else (8 if y >= bl[1] else 7)
    return 2 if y > tr[1] else (1 if y >= bl[1] else 0)


def _bbox_seg_hits(points: list, a, b, bbox) -> bool:
    """addSegmentBoundsIntersection: push every segment x bbox-edge
    intersection (reference edge order), return whether any hit."""
    from mapshaper_spark.operators.topology import _seg_intersections
    hits: list = []
    for c, d in ((bbox[0], bbox[1]), (bbox[0], bbox[3]),
                 (bbox[1], bbox[2]), (bbox[2], bbox[3])):
        hits.extend(_seg_intersections(a[0], a[1], b[0], b[1],
                                       c[0], c[1], d[0], d[1]))
    if hits:
        points.extend([list(h) for h in hits])
        return True
    return False


def clip_iter_by_bounds(path: list, bbox4: tuple) -> list:
    """clipIterByBounds (mapshaper-bbox-clipping.js:7-27 + sector walk
    :36-221): clip a point path to a bbox for viewport drawing, deflecting
    outside excursions along the box edges/corners so the result stays
    connected (bbox-clipping-test.js goldens). ``path`` = [[x, y], ...],
    ``bbox4`` = (xmin, ymin, xmax, ymax)."""
    xmin, ymin, xmax, ymax = bbox4
    bbox0 = [[xmin, ymin], [xmin, ymax], [xmax, ymax], [xmax, ymin]]

    def rotate_box(i, bb):
        a, b, c, d = bb
        return [bb, [b, c, d, a], [c, d, a, b], [d, a, b, c]][i]

    def rot_sector(i, q):
        return (q + 8 - i * 2) % 8 if 0 <= q < 8 else q

    def orient2d(ax, ay, bx, by, cx, cy):
        return (ax - cx) * (by - cy) - (ay - cy) * (bx - cx)

    def corner(points, q, bb):
        points.append(list(bb[q // 2]))

    def add_clipped(points, p1, p2):
        bb = bbox0
        q1 = _bbox_sector(p1[0], p1[1], bb) if p1 is not None else -1
        q2 = _bbox_sector(p2[0], p2[1], bb)
        is_corner = lambda q: q in (0, 2, 4, 6)
        if q1 == 8 and q2 == 8:
            points.append(list(p2))
        elif q1 == q2:
            pass  # fully within one outer sector
        elif q1 == -1:
            if q2 == 8:
                points.append(list(p2))
            elif is_corner(q2):
                corner(points, q2, bb)
        elif q1 == 8:
            _bbox_seg_hits(points, p1, p2, bb)
            if is_corner(q2):
                corner(points, q2, bb)
        elif q2 == 8:
            _bbox_seg_hits(points, p1, p2, bb)
            points.append(list(p2))
        else:
            rot = q1 // 2 if 1 < q1 < 8 else 0
            bb = rotate_box(rot, bb)
            q1r, q2r = rot_sector(rot, q1), rot_sector(rot, q2)
            if q1r == 0:
                if q2r in (0, 1, 7):
                    pass
                elif q2r in (2, 6):
                    corner(points, q2r, bb)
                elif q2r == 3:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        corner(points, 2, bb)
                elif q2r == 4:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        if orient2d(p1[0], p1[1], p2[0], p2[1],
                                    bb[0][0], bb[0][1]) > 1:
                            corner(points, 6, bb)
                        else:
                            corner(points, 2, bb)
                    corner(points, q2r, bb)
                elif q2r == 5:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        corner(points, 6, bb)
            elif q1r == 1:
                if q2r in (2, 0):
                    corner(points, q2r, bb)
                elif q2r == 3:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        corner(points, 2, bb)
                elif q2r == 4:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        corner(points, 2, bb)
                    corner(points, 4, bb)
                elif q2r == 5:
                    _bbox_seg_hits(points, p1, p2, bb)
                elif q2r == 6:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        corner(points, 0, bb)
                    corner(points, 6, bb)
                elif q2r == 7:
                    if not _bbox_seg_hits(points, p1, p2, bb):
                        corner(points, 0, bb)
            else:
                raise ValueError("sector error")

    points: list = []
    prev = None
    first = None
    last = None
    for xy in path:
        add_clipped(points, prev, xy)
        prev = xy
        if first is None:
            first = xy
        last = xy
    is_ring = (first is not None and last is not None and
               first[0] == last[0] and first[1] == last[1])
    if is_ring and points and points[0] != points[-1]:
        points.append(list(points[0]))
    if (is_ring and len(points) < 4) or len(points) < 2:
        points = []
    return points
