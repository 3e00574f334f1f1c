"""Polygon overlay: -clip / -erase / -slice (intersection, difference,
per-polygon cut) and the overlap-safe -dissolve2 / -clean / -mosaic.

Ring kernel (``overlay_rings``) mirrors the reference's clip pipeline
(/root/reference/src/commands/mapshaper-clip-erase.js:13,39-93 ->
addIntersectionCuts -> pathfinding,
/root/reference/src/clipping/mapshaper-polygon-clipping.js:10-99):

  1. cut: find all target x clip segment intersections (plus each set's
     SELF-intersections for dirty inputs) and insert them as vertices into
     both ring sets (the reference's addIntersectionCuts/divideArcs);
  2. classify: each sub-arc (maximal piece between consecutive cut points)
     by a 3-state test — strictly in/out by exact even-odd midpoint ray
     cast; ON-BOUNDARY arcs (and all arcs of self-intersecting sets) by
     the region-border side test (does the output region lie on exactly
     one side?), the distilled form of the reference's 8-bit route flags;
  3. stitch: walk chosen sub-arcs by endpoint matching into closed output
     rings (same walk as dissolve pass 2), winding re-derived by
     containment depth.

Tangency parity: congruent / adjacent / shared-edge / corner-touch /
spike / self-intersection figures all match the reference
(tests/test_clip_erase_goldens.py transcribes its clip-erase suite).

Distribution has two plans, each written once:

- clip plan (filter, then refine per record): ``_cell_pairs`` is the one
  candidate-pairing step (bbox covers on a shared grid, cell equi-join,
  distinct) behind -clip, -erase and -slice. ``_clip_layer`` is the one
  -clip/-erase driver: a clip layer of at most ``broadcast_limit`` rows is
  broadcast, a larger one is cell-paired; ``_clip_record`` gives every
  target its candidate rings (bbox prefilter, deterministic order,
  duplicates collapsed, erase pass-through) and calls the per-record
  kernel, ``_overlay_record`` for polygons or ``_polyline_record``.
- mosaic plan (build the arrangement, assign its faces): a feature layer
  clusters by bbox-cover overlap and each cluster runs one kernel task.
  Clusters over ``max_task_features`` take the two-level skeleton shared
  by -dissolve2/-clean (``_dissolve2_cells``) and -mosaic
  (``_mosaic_cells``): ``_grid_pieces`` cuts features into per-cell
  pieces, a cell kernel runs on ``_seam_subdivide``d pieces,
  ``_edge_cancel`` merges pieces across cells and ``_stitch_cleaned``
  rebuilds the merged rings; each engine keeps only its cell kernel and
  its post-stitch step.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark.geom import kernels as K


def _cut_rings(rings_a, rings_b):
    """Insert every A x B intersection point into both ring sets. Returns
    (new_rings_a, new_rings_b); each ring is (xs, ys) numpy closed."""
    cuts_a = [dict() for _ in rings_a]  # seg_idx -> list of t
    cuts_b = [dict() for _ in rings_b]
    for ia, (ax, ay) in enumerate(rings_a):
        for ib, (bx, by) in enumerate(rings_b):
            _collect_cuts(ax, ay, bx, by, cuts_a[ia], cuts_b[ib])
    return ([_apply_cuts(rx, ry, c) for (rx, ry), c in zip(rings_a, cuts_a)],
            [_apply_cuts(rx, ry, c) for (rx, ry), c in zip(rings_b, cuts_b)])


def _collect_cuts(ax, ay, bx, by, cuts_a, cuts_b):
    """All intersections between segment lists of ring A and ring B. The
    intersection POINT is computed once and inserted bit-identically into
    both rings (cut-point identity is what lets sub-arcs be matched by
    exact coordinates, like the reference's snapped cut vertices).
    Fully 2-D vectorized in row blocks with a bbox-overlap prefilter —
    the profiled hot spot of the mosaic kernel on real layers."""
    a0x, a0y = ax[:-1], ay[:-1]
    a1x, a1y = ax[1:], ay[1:]
    b0x, b0y = bx[:-1], by[:-1]
    b1x, b1y = bx[1:], by[1:]
    na = len(a0x)
    if na == 0 or len(b0x) == 0:
        return
    # quick rejection: segments of A whose bbox misses B's bbox entirely
    bxmin = min(b0x.min(), b1x.min()); bxmax = max(b0x.max(), b1x.max())
    bymin = min(b0y.min(), b1y.min()); bymax = max(b0y.max(), b1y.max())
    cand = ~((np.maximum(a0x, a1x) < bxmin) | (np.minimum(a0x, a1x) > bxmax) |
             (np.maximum(a0y, a1y) < bymin) | (np.minimum(a0y, a1y) > bymax))
    idx_a = np.nonzero(cand)[0]
    if len(idx_a) == 0:
        return
    d2x = b1x - b0x
    d2y = b1y - b0y
    BLOCK = max(1, 2_000_000 // max(1, len(b0x)))
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, len(idx_a), BLOCK):
            ia = idx_a[s:s + BLOCK]
            p0x = a0x[ia][:, None]
            p0y = a0y[ia][:, None]
            d1x = (a1x[ia] - a0x[ia])[:, None]
            d1y = (a1y[ia] - a0y[ia])[:, None]
            den = d1x * d2y[None, :] - d1y * d2x[None, :]
            t = ((b0x[None, :] - p0x) * d2y[None, :] -
                 (b0y[None, :] - p0y) * d2x[None, :]) / den
            u = ((b0x[None, :] - p0x) * d1y -
                 (b0y[None, :] - p0y) * d1x) / den
            ok = (den != 0) & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
            for ii, jj in zip(*np.nonzero(ok)):
                i = int(ia[ii])
                j = int(jj)
                tv = float(t[ii, jj])
                uv = float(u[ii, jj])
                px = float(a0x[i] + (a1x[i] - a0x[i]) * tv)
                py = float(a0y[i] + (a1y[i] - a0y[i]) * tv)
                if 0.0 < tv < 1.0:
                    cuts_a.setdefault(i, []).append((tv, px, py))
                if 0.0 < uv < 1.0:
                    cuts_b.setdefault(j, []).append((uv, px, py))


def _apply_cuts(rx, ry, cuts):
    if not cuts:
        return np.asarray(rx, dtype=np.float64), np.asarray(ry, dtype=np.float64)
    xs_out, ys_out = [], []
    n = len(rx)
    for i in range(n - 1):
        xs_out.append(rx[i])
        ys_out.append(ry[i])
        for t, px, py in sorted(set(cuts.get(i, []))):
            if (px, py) != (xs_out[-1], ys_out[-1]):
                xs_out.append(px)
                ys_out.append(py)
    if (rx[-1], ry[-1]) != (xs_out[-1], ys_out[-1]) or len(xs_out) == 1:
        xs_out.append(rx[-1])
        ys_out.append(ry[-1])
    return np.asarray(xs_out, dtype=np.float64), np.asarray(ys_out, dtype=np.float64)


def _sub_arcs(rings, cut_points):
    """Split each (cut-inserted) ring at any vertex in ``cut_points`` into
    maximal sub-arcs. An uncut ring is returned whole (closed)."""
    out = []
    for rx, ry in rings:
        idx = [i for i in range(len(rx) - 1)
               if (rx[i], ry[i]) in cut_points]
        if not idx:
            out.append((rx, ry))
            continue
        s = idx[0]
        rrx = np.concatenate([rx[s:-1], rx[:s + 1]])
        rry = np.concatenate([ry[s:-1], ry[:s + 1]])
        bounds = [i for i in range(len(rrx))
                  if (rrx[i], rry[i]) in cut_points]
        if bounds[-1] != len(rrx) - 1:
            bounds.append(len(rrx) - 1)
        for a, b in zip(bounds[:-1], bounds[1:]):
            if b > a:
                out.append((rrx[a:b + 1], rry[a:b + 1]))
    return out


def _arc_inside(arc, rings):
    """Classify a sub-arc by its midpoint vs a ring set (boundary=inside)."""
    xs, ys = arc
    k = (len(xs) - 1) // 2
    mx = (xs[k] + xs[k + 1]) / 2.0
    my = (ys[k] + ys[k + 1]) / 2.0
    return bool(K.points_in_polygon(np.array([mx]), np.array([my]), rings)[0])


def _arc_pos(arc, rings, diag):
    """Three-state sub-arc classification vs a ring set: 'on' (midpoint on
    the boundary within a relative tolerance), 'in', or 'out' — the distilled
    form of the reference's route-flag FWD/REV/hidden states
    (/root/reference/src/paths/mapshaper-pathfinder.js:41-115): shared-edge
    sub-arcs must be distinguishable from strictly-interior ones so erase
    can drop them while clip keeps exactly one copy."""
    xs, ys = arc
    k = (len(xs) - 1) // 2
    mx = (xs[k] + xs[k + 1]) / 2.0
    my = (ys[k] + ys[k + 1]) / 2.0
    tol2 = (1e-12 * diag) ** 2 if diag > 0 else 0.0
    for rx, ry in rings:
        if K.point_to_path_dist_sq(mx, my, np.asarray(rx), np.asarray(ry)) <= tol2:
            return "on"
    return "in" if K.points_in_polygon(np.array([mx]), np.array([my]),
                                       rings)[0] else "out"


def _arc_key(arc):
    xs, ys = arc
    fwd = tuple(xs.tolist()) + tuple(ys.tolist())
    rev = tuple(xs[::-1].tolist()) + tuple(ys[::-1].tolist())
    return min(fwd, rev)


def _stitch(arcs):
    """Walk sub-arcs into closed rings by endpoint matching; drop zero-area
    degenerates."""
    used = [False] * len(arcs)
    by_start = {}
    for i, (xs, ys) in enumerate(arcs):
        by_start.setdefault((xs[0], ys[0]), []).append(i)
        by_start.setdefault((xs[-1], ys[-1]), []).append(i)
    rings = []
    for i in range(len(arcs)):
        if used[i]:
            continue
        used[i] = True
        cx = list(arcs[i][0])
        cy = list(arcs[i][1])
        while (cx[0], cy[0]) != (cx[-1], cy[-1]):
            end = (cx[-1], cy[-1])
            cands = [k for k in by_start.get(end, []) if not used[k]]
            if not cands:
                break
            k = cands[0]
            used[k] = True
            kx, ky = arcs[k]
            if (kx[0], ky[0]) != end:
                kx, ky = kx[::-1], ky[::-1]
            cx.extend(kx[1:].tolist())
            cy.extend(ky[1:].tolist())
        if (cx[0], cy[0]) == (cx[-1], cy[-1]) and len(cx) >= 4:
            if K.planar_path_area(np.asarray(cx), np.asarray(cy)) != 0.0:
                rings.append((cx, cy))
    return rings


def _self_cut_set(rings):
    """Cut every ring of one set against ITSELF (non-adjacent segments) and
    against the other rings of the same set — the same-arc half of the
    reference's divideArcs pre-pass that makes self-intersecting ('dirty')
    inputs processable (clip-erase-test.js 'polygon with self-intersection'
    figures). Returns (new_rings, self_points) where self_points are the
    inserted/matched crossing coordinates (split + region-test trigger)."""
    cuts = [dict() for _ in rings]
    pts = set()
    for ri, (rx, ry) in enumerate(rings):
        n = len(rx) - 1
        ax, ay = rx[:-1], ry[:-1]
        bx, by_ = rx[1:], ry[1:]
        for i in range(n - 2):
            # vectorized over the non-adjacent later segments
            j0 = i + 2
            j1 = n if i > 0 else n - 1  # skip ring-adjacency across closure
            if j1 <= j0:
                continue
            sl = slice(j0, j1)
            d1x = bx[i] - ax[i]
            d1y = by_[i] - ay[i]
            d2x = bx[sl] - ax[sl]
            d2y = by_[sl] - ay[sl]
            den = d1x * d2y - d1y * d2x
            with np.errstate(divide="ignore", invalid="ignore"):
                t = ((ax[sl] - ax[i]) * d2y - (ay[sl] - ay[i]) * d2x) / den
                u = ((ax[sl] - ax[i]) * d1y - (ay[sl] - ay[i]) * d1x) / den
            ok = (den != 0) & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
            # vertex-to-vertex touches (e.g. a retraced spike) are not crossings
            ok &= ~(((t == 0.0) | (t == 1.0)) & ((u == 0.0) | (u == 1.0)))
            for k in np.nonzero(ok)[0]:
                j = j0 + int(k)
                tv = float(t[k])
                uv = float(u[k])
                px = float(ax[i] + d1x * tv)
                py = float(ay[i] + d1y * tv)
                pts.add((px, py))
                if 0.0 < tv < 1.0:
                    cuts[ri].setdefault(i, []).append((tv, px, py))
                if 0.0 < uv < 1.0:
                    cuts[ri].setdefault(j, []).append((uv, px, py))
        # cross-cuts between different rings of the same set
        for rj in range(ri + 1, len(rings)):
            before_a = {k: list(v) for k, v in cuts[ri].items()}
            _collect_cuts(np.asarray(rx), np.asarray(ry),
                          np.asarray(rings[rj][0]), np.asarray(rings[rj][1]),
                          cuts[ri], cuts[rj])
            for k, v in cuts[ri].items():
                for t, px, py in v:
                    if (t, px, py) not in before_a.get(k, ()):
                        pts.add((px, py))
    out = [_apply_cuts(np.asarray(rx), np.asarray(ry), c)
           for (rx, ry), c in zip(rings, cuts)]
    return out, pts


def overlay_rings(rings_t, rings_c, op: str = "clip"):
    """Core kernel: overlay two ring sets.

    op='clip':  keep T pieces inside C + C pieces inside T (intersection);
    op='erase': keep T pieces outside C + C pieces inside T, reversed
                (difference; clip pieces become hole boundaries).

    Self-intersecting inputs ('dirty', e.g. a ring crossing itself): the
    set is self-cut first and its sub-arcs classify by the region-border
    side test (even-odd over the whole set), so the doubly-wound pocket is
    excluded — matching the reference's 'self-intersection doesn't block'
    figures (route flags thread through the crossing point)."""
    rings_t, self_t = _self_cut_set([(np.asarray(rx, dtype=np.float64),
                                      np.asarray(ry, dtype=np.float64))
                                     for rx, ry in rings_t])
    rings_c, self_c = _self_cut_set([(np.asarray(rx, dtype=np.float64),
                                      np.asarray(ry, dtype=np.float64))
                                     for rx, ry in rings_c])
    cut_t, cut_c = _cut_rings(rings_t, rings_c)
    cut_points = set()
    for rx, ry in cut_t:
        cut_points.update(zip(rx.tolist(), ry.tolist()))
    cut_points2 = set()
    for rx, ry in cut_c:
        cut_points2.update(zip(rx.tolist(), ry.tolist()))
    shared = cut_points & cut_points2

    # dirty sets additionally split at their own self-intersection points
    arcs_t = _sub_arcs(cut_t, shared | self_t)
    arcs_c = _sub_arcs(cut_c, shared | self_c)

    allx = [v for rx, ry in rings_t + rings_c for v in rx]
    ally = [v for rx, ry in rings_t + rings_c for v in ry]
    diag = max(max(allx) - min(allx), max(ally) - min(ally)) if allx else 0.0

    # route selection (the reference's route-flag decision table,
    # mapshaper-pathfinder.js:41-115, distilled to region tests):
    #   - a strictly-interior/exterior arc keeps by its midpoint class;
    #   - an ON-BOUNDARY arc keeps iff the output region (T∩C for clip,
    #     T\C for erase) lies on exactly one of its two sides — shared
    #     edges border the intersection once and the difference only where
    #     the kept side survives (congruent-erase → empty, adjacent-erase
    #     → shared edge retained as boundary)
    keep = []
    seen = set()
    for arc in arcs_t:
        if self_t:
            # dirty target: pure region-border side test (even-odd over the
            # self-overlapping set excludes the doubly-wound pocket)
            want = _on_arc_borders_output(arc, rings_t, rings_c, op, diag)
        else:
            pos = _arc_pos(arc, rings_c, diag)
            if pos == "on":
                want = _on_arc_borders_output(arc, rings_t, rings_c, op, diag)
            else:
                want = (pos == "in") if op == "clip" else (pos == "out")
        if want:
            k = _arc_key(arc)
            if k not in seen:
                seen.add(k)
                keep.append(arc)
    for arc in arcs_c:
        if self_c:
            want = _on_arc_borders_output(arc, rings_t, rings_c, op, diag)
        else:
            pos = _arc_pos(arc, rings_t, diag)
            if pos == "on":
                want = _on_arc_borders_output(arc, rings_t, rings_c, op, diag)
            else:
                want = pos == "in"
        if want:
            k = _arc_key(arc)
            if k not in seen:
                seen.add(k)
                if op == "erase":
                    keep.append((arc[0][::-1], arc[1][::-1]))
                else:
                    keep.append(arc)
    return _normalize_winding(_stitch(keep))


def _on_arc_borders_output(arc, rings_t, rings_c, op, diag):
    """Does an on-boundary sub-arc border the output region? Sample a point
    on each side of the arc midpoint (perpendicular nudge) and test region
    membership (T∩C for clip, T\\C for erase): the arc belongs to the output
    boundary iff exactly one side is in the region."""
    xs, ys = arc
    k = (len(xs) - 1) // 2
    dx = xs[k + 1] - xs[k]
    dy = ys[k + 1] - ys[k]
    ln = float(np.hypot(dx, dy))
    if ln == 0 or diag == 0:
        return False
    nx, ny = dy / ln, -dx / ln
    mx = (xs[k] + xs[k + 1]) / 2.0
    my = (ys[k] + ys[k + 1]) / 2.0
    d = 1e-9 * diag
    sides = []
    for sgn in (1.0, -1.0):
        px = mx + sgn * nx * d
        py = my + sgn * ny * d
        it = _winding_inside(px, py, rings_t)
        ic = _winding_inside(px, py, rings_c)
        sides.append((it and ic) if op == "clip" else (it and not ic))
    return sides[0] != sides[1]


def _winding_inside(px, py, rings):
    """Nonzero-winding point-in-region over a ring set: a doubly-wound
    pocket of a self-intersecting ('dirty') ring counts as INSIDE — the
    reference's behavior for its self-intersection figures (the region is
    'covered at least once'). For simple outer+oppositely-wound-hole sets
    this equals the even-odd test."""
    wn = 0
    for rx, ry in rings:
        for i in range(len(rx) - 1):
            ax, ay = rx[i], ry[i]
            bx, by = rx[i + 1], ry[i + 1]
            if ay <= py < by:  # upward crossing candidate
                if (bx - ax) * (py - ay) - (px - ax) * (by - ay) > 0:
                    wn += 1
            elif by <= py < ay:  # downward
                if (bx - ax) * (py - ay) - (px - ax) * (by - ay) < 0:
                    wn -= 1
    return wn != 0


def _normalize_winding(rings):
    """Orient output rings by containment depth (even depth = CW/positive,
    odd = hole/negative) — the stitch walks arcs in arbitrary direction, so
    winding is re-derived exactly like repair_ring_nesting."""
    out = []
    np_rings = [(np.asarray(rx), np.asarray(ry)) for rx, ry in rings]
    for i, (rx, ry) in enumerate(np_rings):
        depth = 0
        for j, (ox, oy) in enumerate(np_rings):
            if i == j:
                continue
            if K.points_in_ring(rx[:1], ry[:1], ox, oy)[0] == 1:
                depth += 1
        area = K.planar_path_area(rx, ry)
        want_cw = depth % 2 == 0
        if (area > 0) != want_cw and area != 0:
            rx, ry = rx[::-1], ry[::-1]
        out.append((rx.tolist(), ry.tolist()))
    return out


def _bbox_cell_range(b, bbox, res):
    """JVM column exprs: inclusive (row0, row1, col0, col1) grid-cell range
    of a feature bbox struct over the global ``bbox`` at 2^res cells/axis."""
    xmin, ymin, xmax, ymax = bbox
    n = 1 << res
    w = (xmax - xmin) / n
    h = (ymax - ymin) / n
    clampc = lambda c: F.greatest(F.lit(0), F.least(F.lit(n - 1), c)).cast("int")
    c0 = clampc(F.floor((b["xmin"] - F.lit(xmin)) / F.lit(w)))
    c1 = clampc(F.floor((b["xmax"] - F.lit(xmin)) / F.lit(w)))
    r0 = clampc(F.floor((b["ymin"] - F.lit(ymin)) / F.lit(h)))
    r1 = clampc(F.floor((b["ymax"] - F.lit(ymin)) / F.lit(h)))
    return r0, r1, c0, c1


def _bbox_cells_col(bbox, res):
    """Exploded cell-id column (row * n + col) for a bbox struct column."""
    n = 1 << res
    r0, r1, c0, c1 = _bbox_cell_range(F.col("bbox"), bbox, res)
    return F.explode(F.flatten(F.transform(
        F.sequence(r0, r1),
        lambda r: F.transform(F.sequence(c0, c1),
                              lambda c: r * F.lit(n) + c))))


def _np_rings(rings_x, rings_y) -> list:
    """A feature's rings as float64 numpy (xs, ys) pairs."""
    return [(np.asarray(rx, dtype=np.float64), np.asarray(ry, dtype=np.float64))
            for rx, ry in zip(rings_x, rings_y)]


def _clip_feature(rings_x, rings_y, bbox):
    """One clip feature as the per-record kernels read it: (its rings as
    float64 numpy pairs, its (xmin, ymin, xmax, ymax))."""
    return (_np_rings(rings_x, rings_y),
            (bbox["xmin"], bbox["ymin"], bbox["xmax"], bbox["ymax"]))


def _candidate_rings(tb, clip_feats):
    """The clip rings a target of bbox ``tb`` can meet: the rings of the
    features whose bbox touches ``tb`` (of all of them when ``tb`` is
    unknown), in a deterministic order, exact duplicates collapsed."""
    if tb is not None and tb.get("xmax") is not None:
        clip_feats = [(rings, cb) for rings, cb in clip_feats
                      if cb[0] <= tb["xmax"] and cb[2] >= tb["xmin"] and
                      cb[1] <= tb["ymax"] and cb[3] >= tb["ymin"]]
    # deterministic ring order regardless of collect/collect_list order:
    # stitch/dedup of coincident shared edges is order-sensitive, and
    # collect_list order varies across runs and stage retries
    cands = sorted(clip_feats, key=lambda rc: (
        rc[1], rc[0][0][0][0] if rc[0] else 0.0,
        rc[0][0][1][0] if rc[0] else 0.0))
    # EXACT-duplicate clip rings (same ring twice, either direction) must
    # collapse: the reference dissolves the whole clip layer before
    # clipping (clipPolygons, mapshaper-polygon-clipping.js:22-23), while
    # the kernels' even-odd test counts a duplicated ring's crossings
    # twice and would classify the inside as outside
    rings_c = []
    seen_c = set()
    for rings, _cb in cands:
        for rx, ry in rings:
            k1 = (rx.tobytes(), ry.tobytes())
            k2 = (rx[::-1].tobytes(), ry[::-1].tobytes())
            if k1 in seen_c or k2 in seen_c:
                continue
            seen_c.add(k1)
            rings_c.append((rx, ry))
    return rings_c


def _clip_record(rec, clip_feats, kernel, erase: bool):
    """One target record against its candidate clip features: with no
    candidate ring, erase passes the record through and clip drops it;
    otherwise ``kernel(rec, rings_c, erase)`` gives the output record, or
    None for an empty result."""
    rings_c = _candidate_rings(rec["bbox"], clip_feats)
    if not rings_c:
        return dict(rec) if erase else None
    return kernel(rec, rings_c, erase)


def _overlay_record(rec, rings_c, erase: bool):
    """Polygon kernel of -clip/-erase/-slice: the record's rings overlaid
    with ``rings_c`` (``overlay_rings``), its bbox re-derived."""
    rings_t = _np_rings(rec["rings_x"], rec["rings_y"])
    return _with_rings(rec, overlay_rings(rings_t, rings_c,
                                          op="erase" if erase else "clip"))


def _polyline_record(rec, rings_c, erase: bool):
    """Polyline kernel of -clip/-erase: the record's open paths cut by
    ``rings_c`` (``clip_polylines_rings``), its bbox re-derived."""
    if rec.get("rings_x") is None or rec.get("rings_y") is None:
        # null geometry: nothing to clip or keep (Issue #192 — the
        # reference drops null shapes from clip output)
        return None
    return _with_rings(rec, clip_polylines_rings(
        list(zip(rec["rings_x"], rec["rings_y"])), rings_c, erase=erase))


def _with_rings(rec, rings):
    """The record with the kernel's output ``rings`` [(xs, ys)] and their
    bbox, or None when no ring is left."""
    if not rings:
        return None
    rec = dict(rec)
    rec["rings_x"] = [r[0] for r in rings]
    rec["rings_y"] = [r[1] for r in rings]
    allx = np.concatenate([np.asarray(r) for r in rec["rings_x"]])
    ally = np.concatenate([np.asarray(r) for r in rec["rings_y"]])
    rec["bbox"] = {"xmin": float(allx.min()), "ymin": float(ally.min()),
                   "xmax": float(allx.max()), "ymax": float(ally.max())}
    return rec


def _cell_pairs(left: DataFrame, lkey: str, right: DataFrame, rkey: str,
                res: int) -> DataFrame:
    """The filter step of every overlay: candidate ``(lkey, rkey)`` pairs
    of two layers with bbox columns. Each side's bbox cover is exploded
    on their union grid (2^res cells per axis), the covers equi-join on
    the cell, and a pair sharing several cells appears once."""
    gb = _union_bbox(left, right)

    def cover(df, k):
        return df.select(k, _bbox_cells_col(gb, res).alias("__cell"))
    return (cover(left, lkey).join(cover(right, rkey), "__cell")
            .select(lkey, rkey).distinct())


def _clip_layer(target: DataFrame, clip: DataFrame, kernel, erase: bool,
                key: str, res: int, broadcast_limit: int) -> DataFrame:
    """The -clip/-erase driver behind clip_polygons and clip_polylines;
    ``kernel`` is the per-record step of ``_clip_record``. One collect of
    at most ``broadcast_limit + 1`` clip rows picks the plan, and those
    rows are the broadcast payload:

    - a dimension-sized clip layer (<= broadcast_limit rows) is broadcast;
      targets outside its joint bbox skip the kernel;
    - a larger one pairs with the targets through ``_cell_pairs`` (no
      driver collect of the big side); each target gets its candidate
      clip features as one list, grouped by ``key``.

    Targets without a candidate pass through on erase and drop on clip.
    Both sides get a bbox where they lack one; one synthesized on the
    target is dropped again on output."""
    had_bbox = "bbox" in target.columns
    target = _ensure_bbox(target)
    clip = _ensure_bbox(clip).select("rings_x", "rings_y", "bbox")
    out_cols = target.columns
    rows = clip.limit(broadcast_limit + 1).collect()
    if not rows:
        # empty clip source: erase returns the target unchanged; clip
        # returns nothing (the reference errors on a missing clip layer —
        # we take the set-semantics result and leave erroring to callers)
        out = target if erase else target.limit(0)
        return out if had_bbox else out.drop("bbox")

    if len(rows) <= broadcast_limit:
        feats = [_clip_feature(*r) for r in rows]
        bc = target.sparkSession.sparkContext.broadcast(feats)
        b = F.col("bbox")
        hit = ((b["xmin"] <= max(f[1][2] for f in feats)) &
               (b["xmax"] >= min(f[1][0] for f in feats)) &
               (b["ymin"] <= max(f[1][3] for f in feats)) &
               (b["ymax"] >= min(f[1][1] for f in feats)))
        cand = target

        def feats_of(rec):
            return bc.value
    else:
        clip = clip.withColumn("__cid", F.xxhash64("rings_x", "rings_y"))
        clip_sets = (_cell_pairs(target, key, clip, "__cid", res)
                     .join(clip, "__cid")
                     .groupBy(key)
                     .agg(F.collect_list(F.struct(
                         F.col("rings_x").alias("crx"),
                         F.col("rings_y").alias("cry"),
                         F.col("bbox").alias("cbb"))).alias("__clips")))
        cand = target.join(clip_sets, key, "left")
        hit = F.col("__clips").isNotNull()

        def feats_of(rec):
            return [_clip_feature(c["crx"], c["cry"], c["cbb"])
                    for c in rec.pop("__clips")]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for rec in pdf.to_dict("records"):
                out = _clip_record(rec, feats_of(rec), kernel, erase)
                if out is not None:
                    recs.append(out)
            if recs:
                yield pd.DataFrame(recs, columns=out_cols)

    out = cand.filter(hit).mapInPandas(gen, schema=target.schema)
    if erase:
        out = out.unionByName(cand.filter(~hit).select(*out_cols))
    return out if had_bbox else out.drop("bbox")


def clip_polygons(target: DataFrame, clip: DataFrame, clip_key: str = None,
                  erase: bool = False, key: str | None = None,
                  res: int = 6, broadcast_limit: int = 10_000) -> DataFrame:
    """-clip / -erase on polygon feature layers (rings_x/rings_y [+ bbox]),
    mirroring the reference clip pipeline
    (/root/reference/src/clipping/mapshaper-polygon-clipping.js:10-99):
    ``_clip_layer`` with the ring-overlay kernel. ``key``: unique target
    row key for the cell-paired plan (defaults to the first column)."""
    return _clip_layer(target, clip, _overlay_record, erase,
                       key or target.columns[0], res, broadcast_limit)


def _ensure_bbox(df: DataFrame) -> DataFrame:
    """Derive a bbox struct column from rings_x/rings_y when absent."""
    if "bbox" in df.columns:
        return df
    return df.withColumn("bbox", F.struct(
        F.array_min(F.flatten("rings_x")).alias("xmin"),
        F.array_min(F.flatten("rings_y")).alias("ymin"),
        F.array_max(F.flatten("rings_x")).alias("xmax"),
        F.array_max(F.flatten("rings_y")).alias("ymax")))


def _union_bbox(a: DataFrame, b: DataFrame):
    """Combined (xmin, ymin, xmax, ymax) of two feature layers' bboxes."""
    u = (a.select("bbox").unionByName(b.select("bbox"))
         .agg(F.min("bbox.xmin"), F.min("bbox.ymin"),
              F.max("bbox.xmax"), F.max("bbox.ymax")).collect()[0])
    xmin, ymin, xmax, ymax = (float(v) for v in u)
    if xmax <= xmin:
        xmax = xmin + 1.0
    if ymax <= ymin:
        ymax = ymin + 1.0
    return (xmin, ymin, xmax, ymax)


# ---------------------------------------------------------------------------
# mosaic / dissolve2 / clean (overlap-safe dissolve)
# ---------------------------------------------------------------------------

def _cut_all_rings(ring_sets):
    """Cut every ring against every ring of every OTHER set (and itself is
    unnecessary for simple rings). ring_sets: list of lists of (xs, ys).
    Returns the flat list of cut rings (set structure no longer needed) and
    the per-set cut rings."""
    flat = [(si, ri, rx, ry)
            for si, rings in enumerate(ring_sets)
            for ri, (rx, ry) in enumerate(rings)]
    cuts = [dict() for _ in flat]
    for a in range(len(flat)):
        for b in range(a + 1, len(flat)):
            if flat[a][0] == flat[b][0]:
                continue  # same feature: assume non-self-intersecting
            _collect_cuts(flat[a][2], flat[a][3], flat[b][2], flat[b][3],
                          cuts[a], cuts[b])
    out_sets = [[] for _ in ring_sets]
    for (si, ri, rx, ry), c in zip(flat, cuts):
        out_sets[si].append(_apply_cuts(rx, ry, c))
    return out_sets


def _faces_from_subarcs(arcs, with_negative: bool = False):
    """Planar cycles of a set of sub-arcs (the half-edge smallest-turn walk,
    same as topology.polygons_from_lines): returns the positive (interior)
    cycles [(xs, ys, area>0)]; with ``with_negative`` also returns the
    negative cycles (component outer boundaries — the boundaries of the
    faces that CONTAIN each component, needed for hole nesting across
    disconnected components)."""
    import math

    outgoing: dict = {}

    def h_start(a, d):
        xs, ys = arcs[a]
        return (xs[0], ys[0]) if d == 0 else (xs[-1], ys[-1])

    def h_angle(a, d):
        xs, ys = arcs[a]
        if d == 0:
            return math.atan2(ys[1] - ys[0], xs[1] - xs[0])
        return math.atan2(ys[-2] - ys[-1], xs[-2] - xs[-1])

    halves = [(a, d) for a in range(len(arcs)) for d in (0, 1)]
    for h in halves:
        outgoing.setdefault(h_start(*h), []).append(h)
    for node, hs in outgoing.items():
        hs.sort(key=lambda h: h_angle(*h))

    used = set()
    faces = []
    neg = []
    for h0 in halves:
        if h0 in used:
            continue
        h = h0
        fx: list[float] = []
        fy: list[float] = []
        while h not in used:
            used.add(h)
            a, d = h
            xs, ys = arcs[a]
            if d == 1:
                xs, ys = xs[::-1], ys[::-1]
            if fx:
                xs, ys = xs[1:], ys[1:]
            fx.extend(np.asarray(xs).tolist())
            fy.extend(np.asarray(ys).tolist())
            rev = (a, 1 - d)
            node = h_start(*rev)
            hs = outgoing[node]
            i = hs.index(rev)
            h = hs[(i + 1) % len(hs)]
        if len(fx) >= 4 and (fx[0], fy[0]) == (fx[-1], fy[-1]):
            area = K.planar_path_area(np.asarray(fx), np.asarray(fy))
            if area > 0:
                faces.append((fx, fy, area))
            elif area < 0:
                neg.append((fx, fy, area))
    if with_negative:
        return faces, neg
    return faces


def _face_sample_point(face_rings):
    """A point strictly inside a face given as [(outer fx, fy), hole rings
    ...]: midpoint of the outer ring's longest edge nudged toward the
    interior, validated by an even-odd ray cast over ALL face rings (so a
    nudge that lands inside a hole is rejected)."""
    fx, fy = face_rings[0]
    np_rings = [(np.asarray(rx), np.asarray(ry)) for rx, ry in face_rings]
    xs = np_rings[0][0]
    ys = np_rings[0][1]
    dx = xs[1:] - xs[:-1]
    dy = ys[1:] - ys[:-1]
    lens = np.hypot(dx, dy)
    order = np.argsort(-lens)
    diag = max(xs.max() - xs.min(), ys.max() - ys.min())
    for i in order[:8]:
        if lens[i] == 0:
            continue
        mx = (xs[i] + xs[i + 1]) / 2.0
        my = (ys[i] + ys[i + 1]) / 2.0
        nx = dy[i] / lens[i]
        ny = -dx[i] / lens[i]
        for eps in (1e-9, 1e-7, 1e-5):
            px = mx + nx * eps * diag
            py = my + ny * eps * diag
            if K.points_in_polygon(np.array([px]), np.array([py]), np_rings)[0]:
                return px, py
    return float(xs.mean()), float(ys.mean())  # fallback


def mosaic_rings(ring_sets):
    """The arrangement mosaic of several features' ring sets: indivisible
    faces + per-face membership flags (which input features cover the face).
    Mirrors the reference's mosaic construction
    (/root/reference/src/topology/mapshaper-polygon-mosaic.js:65+).

    Returns [(rings, area, member)] where ``rings`` is the face boundary as
    [(fx, fy)] — outer cycle first, then any hole cycles contributed by
    DISCONNECTED components nested inside the face (a negative walk cycle
    attaches to the smallest strictly-larger positive cycle containing it;
    unclaimed negative cycles bound the unbounded face and are dropped).
    ``area`` is the net signed area (outer minus holes)."""
    cut_sets = _cut_all_rings(ring_sets)
    all_rings = [r for rings in cut_sets for r in rings]
    counts: dict = {}
    for rx, ry in all_rings:
        for p in zip(rx.tolist(), ry.tolist()):
            counts[p] = counts.get(p, 0) + 1
    shared = {p for p, c in counts.items() if c > 1}
    arcs = _sub_arcs(all_rings, shared)
    # coincident sub-arcs (adjacent features each carrying the full shared
    # border in their own ring) collapse to ONE arc before the face walk —
    # the arrangement analog of the reference's shared-arc dedup
    # (ArcIndex.findDuplicateArc); duplicated half-edges with identical
    # angles otherwise corrupt the smallest-turn traversal
    seen_keys = set()
    deduped = []
    for arc in arcs:
        k = _arc_key(arc)
        if k not in seen_keys:
            seen_keys.add(k)
            deduped.append(arc)
    arcs = deduped
    pos, neg = _faces_from_subarcs(arcs, with_negative=True)

    faces = [{"rings": [(fx, fy)], "outer_area": area, "area": area}
             for fx, fy, area in pos]
    for nfx, nfy, narea in neg:
        px, py = nfx[0], nfy[0]
        best = None
        for i, f in enumerate(faces):
            ofx, ofy = f["rings"][0]
            if f["outer_area"] > -narea and K.points_in_ring(
                    np.array([px]), np.array([py]),
                    np.asarray(ofx), np.asarray(ofy))[0] == 1:
                if best is None or f["outer_area"] < faces[best]["outer_area"]:
                    best = i
        if best is not None:
            faces[best]["rings"].append((nfx, nfy))
            faces[best]["area"] += narea

    out = []
    for f in faces:
        px, py = _face_sample_point(f["rings"])
        member = [bool(K.points_in_polygon(np.array([px]), np.array([py]), rings)[0])
                  for rings in ring_sets]
        out.append((f["rings"], f["area"], member))
    return out


def _merge_faces(faces):
    """Union of a set of positively-wound faces (each [(fx, fy), ...] rings)
    that share edges exactly: cancel edges appearing twice, stitch the
    remainder, fix winding."""
    edge_count: dict = {}
    for rings in faces:
        for fx, fy in rings:
            for i in range(len(fx) - 1):
                key = tuple(sorted([(fx[i], fy[i]), (fx[i + 1], fy[i + 1])]))
                edge_count[key] = edge_count.get(key, 0) + 1
    arcs = []
    for rings in faces:
        for fx, fy in rings:
            for i in range(len(fx) - 1):
                key = tuple(sorted([(fx[i], fy[i]), (fx[i + 1], fy[i + 1])]))
                if edge_count[key] == 1:
                    arcs.append((np.array([fx[i], fx[i + 1]]),
                                 np.array([fy[i], fy[i + 1]])))
    return _normalize_winding(_stitch(arcs))


def dissolve2_rings(ring_sets, groups, gap_threshold: float | None = None):
    """-dissolve2 / -clean semantics at the kernel level: mosaic the
    arrangement, assign each face to the group covering it (overlap-safe:
    a face covered by several features of different groups goes to the
    group of the covering feature with the LARGEST total ring area — the
    reference's max-weight assignment via chooseShape/shapeWeights,
    mapshaper-polygon-dissolve3.js:38-182); each group's faces merge into
    rings. Returns {group: rings}.

    Gap fill (``gap_threshold``): an UNCOVERED face whose area is <= the
    threshold is assigned to the highest-weight feature among those whose
    assigned faces share an edge with it — the reference's
    assignRemainingTile (+ default getSliverTest threshold,
    polygon-dissolve3.js:81-93,26-37). Larger uncovered faces stay dropped
    (real holes)."""
    areas = [abs(sum(K.planar_path_area(np.asarray(rx), np.asarray(ry))
                     for rx, ry in rings)) for rings in ring_sets]
    faces = mosaic_rings(ring_sets)
    assigned: dict[int, int] = {}
    gap_ids: list[int] = []
    for fi, (rings, area, member) in enumerate(faces):
        best = None
        for i, m in enumerate(member):
            if m and (best is None or areas[i] > areas[best]):
                best = i
        if best is None:
            gap_ids.append(fi)
        else:
            assigned[fi] = best
    if gap_threshold is not None and gap_ids:
        edge_faces: dict = {}
        for fi, (rings, _a, _m) in enumerate(faces):
            for fx, fy in rings:
                for i in range(len(fx) - 1):
                    ek = tuple(sorted([(fx[i], fy[i]), (fx[i + 1], fy[i + 1])]))
                    edge_faces.setdefault(ek, []).append(fi)
        for fi in gap_ids:
            rings, area, _m = faces[fi]
            if area > gap_threshold:
                continue
            best = None
            for fx, fy in rings:
                for i in range(len(fx) - 1):
                    ek = tuple(sorted([(fx[i], fy[i]), (fx[i + 1], fy[i + 1])]))
                    for fj in edge_faces.get(ek, ()):
                        if fj != fi and fj in assigned:
                            cand = assigned[fj]
                            if best is None or areas[cand] > areas[best]:
                                best = cand
            if best is not None:
                assigned[fi] = best
    out: dict = {}
    for fi, best in assigned.items():
        rings, _area, _m = faces[fi]
        out.setdefault(groups[best], []).append(rings)
    return {g: _merge_faces(fs) for g, fs in out.items()}


def mean_segment_len_sq(features: DataFrame) -> float:
    """Default gap/sliver threshold over an assembled ring layer: (mean
    segment length)^2, segments longer than half the layer extent per axis
    excluded (the reference's calcMaxSliverArea bbox-segment exclusion,
    filter-slivers.js:73-88) — one JVM agg, no Python."""
    b = _ensure_bbox(features).agg(
        F.min("bbox.xmin"), F.min("bbox.ymin"),
        F.max("bbox.xmax"), F.max("bbox.ymax")).collect()[0]
    dx_max = (float(b[2]) - float(b[0])) / 2.0
    dy_max = (float(b[3]) - float(b[1])) / 2.0
    ring = features.select(F.explode(F.arrays_zip(
        F.col("rings_x").alias("xs"), F.col("rings_y").alias("ys"))).alias("r"))
    seg = ring.select(F.col("r.xs").alias("xs"), F.col("r.ys").alias("ys")) \
        .filter(F.size("xs") >= 2) \
        .select(F.explode(F.sequence(F.lit(2), F.size("xs"))).alias("i"), "xs", "ys")
    dx = F.abs(F.element_at("xs", F.col("i")) - F.element_at("xs", F.col("i") - 1))
    dy = F.abs(F.element_at("ys", F.col("i")) - F.element_at("ys", F.col("i") - 1))
    kept = seg.select(dx.alias("dx"), dy.alias("dy")) \
        .filter((F.col("dx") < dx_max) & (F.col("dy") < dy_max))
    row = kept.agg(F.avg(F.sqrt(F.col("dx") ** 2 + F.col("dy") ** 2)).alias("m")).collect()[0]
    mean = float(row.m or 0.0)
    return mean * mean


def dissolve2(features: DataFrame, group: str,
              gap_fill: bool = True,
              min_gap_area: float | None = None,
              cluster_threshold: int = 10_000,
              max_task_features: int = 4096,
              target_per_cell: int = 64) -> DataFrame:
    """Distributed -dissolve2. Groups decompose further into bbox-overlap
    CLUSTERS (same fencing as -clean): features of one group whose bbox
    covers are disjoint cannot interact through the mosaic, so each
    (group, cluster) runs its own arrangement kernel and the per-group
    result is the flat union of cluster rings — the mosaic task is bounded
    by the overlap-cluster size, not the group size (a country-sized
    dissolve group no longer lands in one pandas task).

    ``gap_fill`` (default ON, like the reference's -dissolve2/-clean):
    uncovered slivers below ``min_gap_area`` — or below the layer's default
    sliver threshold (mean segment length squared) when None — merge into
    the highest-weight edge-neighbor. ``gap_fill=False`` matches
    min_gap_area=0 in the reference (drop all gaps).

    Clusters larger than ``max_task_features`` (a continental dissolve is
    ONE transitively-connected cluster) take the TWO-LEVEL mosaic path
    (_dissolve2_cells): per-cell mosaic kernels + distributed edge-cancel
    merge, so no single task ever holds more than ~``target_per_cell``
    features' geometry."""
    gap_threshold = None
    if gap_fill:
        gap_threshold = (min_gap_area if min_gap_area is not None
                         else mean_segment_len_sq(features))

    feats = _ensure_bbox(features).withColumn(
        "__fid", F.xxhash64(group, "rings_x", "rings_y"))
    # size gate: the cluster-decomposition machinery (label-propagation
    # rounds) only pays for itself when groups can be big; a small layer
    # runs one kernel per group directly
    small = features.limit(cluster_threshold + 1).count() <= cluster_threshold
    if small:
        labeled = feats.withColumn("__cluster", F.lit(0).cast("long"))
    else:
        clusters = _connected_feature_clusters(feats, "__fid", scope_col=group)
        labeled = feats.join(clusters, "__fid")

    cluster_schema = T.StructType([
        features.schema[group],
        T.StructField("__cluster", T.LongType()),
        T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("area", T.DoubleType()),
    ])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group].iloc[0]
        cl = pdf["__cluster"].iloc[0]
        ring_sets = _ring_sets(_canonical_order(pdf))
        merged = dissolve2_rings(ring_sets, [g] * len(ring_sets),
                                 gap_threshold=gap_threshold).get(g, [])
        area = sum(K.planar_path_area(np.asarray(rx), np.asarray(ry))
                   for rx, ry in merged)
        return pd.DataFrame({
            group: pd.Series([g], dtype=object),
            "__cluster": pd.Series([cl], dtype="int64"),
            "rings_x": pd.Series([[r[0] for r in merged]], dtype=object),
            "rings_y": pd.Series([[r[1] for r in merged]], dtype=object),
            "area": pd.Series([area], dtype="float64"),
        })

    if small:
        routed = labeled.withColumn("__big", F.lit(False))
    else:
        csizes = (labeled.groupBy(group, "__cluster")
                  .agg(F.count(F.lit(1)).alias("__csz")))
        # three consumers (small_part, big_part, big_part.isEmpty) would
        # each recompute the clustering join otherwise
        routed = (labeled.join(csizes, [group, "__cluster"])
                  .withColumn("__big", F.col("__csz") > max_task_features)
                  .drop("__csz").localCheckpoint())
    small_part = routed.filter(~F.col("__big")).drop("__big")
    big_part = routed.filter(F.col("__big")).drop("__big")

    per_cluster = (small_part.select(group, "__cluster", "rings_x", "rings_y")
                   .groupBy(group, "__cluster")
                   .applyInPandas(merge, schema=cluster_schema))
    if not small and not big_part.isEmpty():
        two_level = _dissolve2_cells(
            big_part.select(group, "__cluster", "rings_x", "rings_y", "bbox"),
            group, gap_threshold, target_per_cell=target_per_cell)
        per_cluster = per_cluster.unionByName(
            two_level.select(group, "__cluster", "rings_x", "rings_y", "area"))
    # per-group assembly: disjoint clusters just union (sorted by cluster
    # label for deterministic ring order)
    return (per_cluster.groupBy(group)
            .agg(F.flatten(F.transform(
                     F.sort_array(F.collect_list(F.struct(
                         "__cluster", F.col("rings_x").alias("rx")))),
                     lambda s: s["rx"])).alias("rings_x"),
                 F.flatten(F.transform(
                     F.sort_array(F.collect_list(F.struct(
                         "__cluster", F.col("rings_y").alias("ry")))),
                     lambda s: s["ry"])).alias("rings_y"),
                 F.round(F.sum("area"), 12).alias("area")))


# ---------------------------------------------------------------------------
# two-level mosaic (hot-cluster decomposition for dissolve2 / clean)
# ---------------------------------------------------------------------------

def _cut_ring_at_gridlines(rx, ry, xlines, ylines):
    """Insert vertices where ring segments cross the given grid lines. Every
    crossing is computed from the ORIGINAL segment endpoints with the exact
    interpolation formula of _sutherland_hodgman's ix/iy, so the two cells
    sharing a line see bit-identical cut points (after this pre-cut, the
    rect clip never interpolates strictly-crossing segments again: t
    degenerates to exactly 0 or 1)."""
    out_x = [float(rx[0])]
    out_y = [float(ry[0])]
    for i in range(len(rx) - 1):
        x0, y0, x1, y1 = float(rx[i]), float(ry[i]), float(rx[i + 1]), float(ry[i + 1])
        cuts = []
        if x1 != x0:
            for lx in xlines:
                if (x0 < lx < x1) or (x1 < lx < x0):
                    t = (lx - x0) / (x1 - x0)
                    cuts.append((t, lx, y0 + (y1 - y0) * t))
        if y1 != y0:
            for ly in ylines:
                if (y0 < ly < y1) or (y1 < ly < y0):
                    t = (ly - y0) / (y1 - y0)
                    cuts.append((t, x0 + (x1 - x0) * t, ly))
        for _t, cx_, cy_ in sorted(cuts):
            if (cx_, cy_) != (out_x[-1], out_y[-1]):
                out_x.append(cx_)
                out_y.append(cy_)
        if (x1, y1) != (out_x[-1], out_y[-1]):
            out_x.append(x1)
            out_y.append(y1)
    return out_x, out_y


def _subdivide_on_lines(rx, ry, xl: dict, yl: dict):
    """Insert the given on-line points into every ring edge that runs ALONG
    a grid line and spans them (T-junction consistency for the two-level
    mosaic: both cells of a seam insert the same union of crossing points)."""
    out_x = [float(rx[0])]
    out_y = [float(ry[0])]
    for i in range(len(rx) - 1):
        x0, y0, x1, y1 = float(rx[i]), float(ry[i]), float(rx[i + 1]), float(ry[i + 1])
        inserts = []
        if x0 == x1 and x0 in xl and y0 != y1:
            lo, hi = (y0, y1) if y0 < y1 else (y1, y0)
            pts = [v for v in xl[x0] if lo < v < hi]
            pts.sort(reverse=y0 > y1)
            inserts = [(x0, v) for v in pts]
        elif y0 == y1 and y0 in yl and x0 != x1:
            lo, hi = (x0, x1) if x0 < x1 else (x1, x0)
            pts = [v for v in yl[y0] if lo < v < hi]
            pts.sort(reverse=x0 > x1)
            inserts = [(v, y0) for v in pts]
        for px, py in inserts:
            if (px, py) != (out_x[-1], out_y[-1]):
                out_x.append(px)
                out_y.append(py)
        if (x1, y1) != (out_x[-1], out_y[-1]):
            out_x.append(x1)
            out_y.append(y1)
    return (np.asarray(out_x, dtype=np.float64),
            np.asarray(out_y, dtype=np.float64))


def _cluster_grids(labeled: DataFrame, target_per_cell: int) -> dict:
    """Per-cluster grid meta {cluster: (x0, y0, w, h, nx, ny)} sized so a
    cell holds ~target_per_cell features."""
    import math as _math

    rows = (labeled.groupBy("__cluster")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("bbox.xmin").alias("x0"), F.min("bbox.ymin").alias("y0"),
                 F.max("bbox.xmax").alias("x1"), F.max("bbox.ymax").alias("y1"))
            .collect())
    meta = {}
    for r in rows:
        n_side = max(2, int(_math.ceil(_math.sqrt(r.n / max(1, target_per_cell)))))
        w = (float(r.x1) - float(r.x0)) / n_side or 1.0
        h = (float(r.y1) - float(r.y0)) / n_side or 1.0
        meta[r["__cluster"]] = (float(r.x0), float(r.y0), w, h, n_side, n_side)
    return meta


def _unit_edges(df: DataFrame, extra_cols: list):
    """Explode face rings into canonical unit edges (pure JVM): one row per
    consecutive vertex pair, endpoint-sorted struct key ``__edge``."""
    ring = df.select(*extra_cols,
                     F.explode(F.arrays_zip(F.col("rings_x").alias("xs"),
                                            F.col("rings_y").alias("ys"))).alias("r"))
    seg = (ring.select(*extra_cols, F.col("r.xs").alias("xs"), F.col("r.ys").alias("ys"))
           .select(*extra_cols, "xs", "ys",
                   F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("i")))
    ax, ay = F.element_at("xs", F.col("i")), F.element_at("ys", F.col("i"))
    bx, by_ = F.element_at("xs", F.col("i") + 1), F.element_at("ys", F.col("i") + 1)
    fwd = (ax < bx) | ((ax == bx) & (ay <= by_))
    key = F.when(fwd, F.struct(ax.alias("x1"), ay.alias("y1"),
                               bx.alias("x2"), by_.alias("y2"))) \
        .otherwise(F.struct(bx.alias("x1"), by_.alias("y1"),
                            ax.alias("x2"), ay.alias("y2")))
    return seg.select(*extra_cols, key.alias("__edge"))


_RINGS = T.ArrayType(T.ArrayType(T.DoubleType()))


def _canonical_order(pdf: pd.DataFrame) -> pd.DataFrame:
    """Feature rows sorted by their first vertex: shuffle row order varies
    run to run, and face assembly and near-coincident-border gap
    assignment are order-sensitive at the 1e-9 sliver level."""
    pdf = pdf.assign(__ord=[
        (rxs[0][0] if len(rxs) and len(rxs[0]) else 0.0,
         rys[0][0] if len(rys) and len(rys[0]) else 0.0)
        for rxs, rys in zip(pdf["rings_x"], pdf["rings_y"])])
    return pdf.sort_values("__ord").drop(columns="__ord")


def _ring_sets(pdf: pd.DataFrame) -> list:
    """Each row's rings as float64 numpy (xs, ys) pairs."""
    return [_np_rings(rxs, rys)
            for rxs, rys in zip(pdf["rings_x"], pdf["rings_y"])]


def _grid_pieces(labeled: DataFrame, key: str, target_per_cell: int):
    """Step 1 of both two-level engines: every feature pre-cuts its rings
    at its cluster's grid lines (crossings computed from the original
    segments, so bit-identical on both sides of a line) and emits one
    clipped piece per overlapped cell, with the feature's global area
    ``__garea``. Expects (key, __cluster, rings_x, rings_y, bbox); returns
    (pieces, broadcast grid meta) with pieces (__cluster, __cell, key,
    __garea, rings_x, rings_y)."""
    bc_meta = labeled.sparkSession.sparkContext.broadcast(
        _cluster_grids(labeled, target_per_cell))
    schema = T.StructType([
        T.StructField("__cluster", labeled.schema["__cluster"].dataType),
        T.StructField("__cell", T.LongType()),
        T.StructField(key, labeled.schema[key].dataType),
        T.StructField("__garea", T.DoubleType()),
        T.StructField("rings_x", _RINGS),
        T.StructField("rings_y", _RINGS),
    ])

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grids = bc_meta.value
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                x0, y0, w, h, nx, ny = grids[rec["__cluster"]]
                garea = abs(sum(
                    K.planar_path_area(np.asarray(rx_, dtype=np.float64),
                                       np.asarray(ry_, dtype=np.float64))
                    for rx_, ry_ in zip(rec["rings_x"], rec["rings_y"])))
                b = rec["bbox"]
                c0 = max(0, min(nx - 1, int((b["xmin"] - x0) / w)))
                c1 = max(0, min(nx - 1, int((b["xmax"] - x0) / w)))
                r0 = max(0, min(ny - 1, int((b["ymin"] - y0) / h)))
                r1 = max(0, min(ny - 1, int((b["ymax"] - y0) / h)))
                xlines = [x0 + k * w for k in range(c0, c1 + 2)]
                ylines = [y0 + k * h for k in range(r0, r1 + 2)]
                cut = [_cut_ring_at_gridlines(rx_, ry_, xlines, ylines)
                       for rx_, ry_ in zip(rec["rings_x"], rec["rings_y"])]
                for rr in range(r0, r1 + 1):
                    for cc in range(c0, c1 + 1):
                        rect = (x0 + cc * w, y0 + rr * h,
                                x0 + (cc + 1) * w, y0 + (rr + 1) * h)
                        nxs, nys = [], []
                        for cx_, cy_ in cut:
                            sx, sy = _sutherland_hodgman_exact(cx_, cy_, rect)
                            if sx:
                                nxs.append(sx)
                                nys.append(sy)
                        if nxs:
                            rows.append({"__cluster": rec["__cluster"],
                                         "__cell": rr * nx + cc,
                                         key: rec[key], "__garea": garea,
                                         "rings_x": nxs, "rings_y": nys})
            if rows:
                yield pd.DataFrame(rows, columns=schema.names)

    pieces = (labeled.select("__cluster", key, "rings_x", "rings_y", "bbox")
              .mapInPandas(gen, schema=schema))
    return pieces, bc_meta


def _seam_subdivide(ring_sets: list, grid: tuple, cell) -> list:
    """Subdivide the border-line runs of one cell's pieces by the UNION of
    their on-line vertices: every feature crossing a shared line exists in
    BOTH adjacent cells, so each side inserts the same crossing set and
    unit edges along the seam match exactly (-> clean edge cancel)."""
    gx0, gy0, gw, gh, gnx, _gny = grid
    rr, cc = divmod(int(cell), gnx)
    border_x = (gx0 + cc * gw, gx0 + (cc + 1) * gw)
    border_y = (gy0 + rr * gh, gy0 + (rr + 1) * gh)
    xl: dict = {}
    yl: dict = {}
    for rs in ring_sets:
        for rx_, ry_ in rs:
            for lx in border_x:
                m = rx_ == lx
                if m.any():
                    xl.setdefault(lx, set()).update(ry_[m].tolist())
            for ly in border_y:
                m = ry_ == ly
                if m.any():
                    yl.setdefault(ly, set()).update(rx_[m].tolist())
    if not (xl or yl):
        return ring_sets
    return [[_subdivide_on_lines(rx_, ry_, xl, yl) for rx_, ry_ in rs]
            for rs in ring_sets]


def _edge_cancel(faces: DataFrame, cols: list) -> DataFrame:
    """Distributed edge cancel of face pieces merging per ``cols``: an edge
    seen twice (a cell-border seam, an interior edge between two pieces
    of one merge) vanishes, the count==1 edges survive as (cols..., x1,
    y1, x2, y2) rows for the stitch."""
    return (_unit_edges(faces, cols)
            .groupBy(*cols, "__edge")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") == 1)
            .select(*cols,
                    F.col("__edge.x1").alias("x1"), F.col("__edge.y1").alias("y1"),
                    F.col("__edge.x2").alias("x2"), F.col("__edge.y2").alias("y2")))


def _stitch_cleaned(pdf: pd.DataFrame, grid: tuple) -> list:
    """One merge's surviving edges -> its closed rings as [(xs, ys, area)],
    rings of zero area left out. The collinear vertices the grid pre-cut
    introduced go: a vertex must sit exactly on a grid line AND be
    (numerically) on the segment joining its neighbors."""
    x0, y0, w, h, nx, ny = grid
    xline = {x0 + k * w for k in range(nx + 1)}
    yline = {y0 + k * h for k in range(ny + 1)}
    pdf = pdf.sort_values(["x1", "y1", "x2", "y2"])
    arcs = [(np.array([ax, bx_]), np.array([ay, by2]))
            for ax, ay, bx_, by2 in zip(pdf["x1"], pdf["y1"],
                                        pdf["x2"], pdf["y2"])]
    out = []
    for rx_, ry_ in _normalize_winding(_stitch(arcs)):
        keep_x, keep_y = [], []
        n = len(rx_) - 1  # closed ring: last == first
        for i in range(n):
            vx, vy = rx_[i], ry_[i]
            px, py = (rx_[i - 1], ry_[i - 1]) if i else (rx_[n - 1], ry_[n - 1])
            qx, qy = rx_[i + 1], ry_[i + 1]
            if vx in xline or vy in yline:
                cross = (vx - px) * (qy - py) - (vy - py) * (qx - px)
                scale = max(abs(qx - px), abs(qy - py), 1e-300) ** 2
                between = (min(px, qx) <= vx <= max(px, qx) and
                           min(py, qy) <= vy <= max(py, qy))
                if abs(cross) <= 1e-12 * scale and between:
                    continue
            keep_x.append(vx)
            keep_y.append(vy)
        if len(keep_x) >= 3:
            keep_x.append(keep_x[0])
            keep_y.append(keep_y[0])
            ra = K.planar_path_area(np.asarray(keep_x), np.asarray(keep_y))
            if ra != 0.0:
                out.append((keep_x, keep_y, ra))
    return out


def _empty_frame(schema: T.StructType) -> pd.DataFrame:
    return pd.DataFrame({c: pd.Series([], dtype=object) for c in schema.names})


def _dissolve2_cells(labeled: DataFrame, group: str,
                     gap_threshold: float | None,
                     target_per_cell: int = 64) -> DataFrame:
    """Two-level mosaic for OVERSIZED overlap clusters (VERDICT r02 item 2):
    instead of one applyInPandas task holding a whole transitively-connected
    cluster (a continental dissolve2 is ONE cluster), the cluster decomposes
    over a per-cluster grid:

    1. ``_grid_pieces``: one clipped piece per (feature, overlapped cell);
    2. each (cluster, cell) runs the SAME mosaic kernel on its bounded
       piece set (``_seam_subdivide`` first) — face assignment uses the
       features' GLOBAL areas, so chooseShape weights match the
       single-task result;
    3. gap faces are NOT filled locally: pieces of one global gap face
       reconnect across cell borders (shared-edge equi-join between pieces
       of different cells + label propagation), total area decides the fill,
       the highest-weight edge-neighbor (found by a plain edge join against
       assigned faces — local and cross-cell alike) receives them;
    4. per (cluster, group) the face pieces merge by ``_edge_cancel`` and
       only the PERIMETER edges reach the final stitch task
       (``_stitch_cleaned``), which drops sub-threshold holes.

    DOCUMENTED DEVIATIONS vs the single-task kernel (both only matter for
    adversarial inputs): gap->gap fill cascades do not cross cell borders,
    and assignment ties between equal-weight covering features resolve by
    piece order within the cell rather than global feature order.

    Expects columns (group, __cluster, rings_x, rings_y, bbox); returns
    (group, __cluster, rings_x, rings_y, area)."""
    pieces, bc_meta = _grid_pieces(labeled, group, target_per_cell)
    gtype = labeled.schema[group].dataType
    cl_type = labeled.schema["__cluster"].dataType

    cell_schema = T.StructType([
        T.StructField("__cluster", cl_type),
        T.StructField("__cell", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField(group, gtype),
        T.StructField("fweight", T.DoubleType()),
        T.StructField("rings_x", _RINGS),
        T.StructField("rings_y", _RINGS),
        T.StructField("area", T.DoubleType()),
    ])

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cl = pdf["__cluster"].iloc[0]
        cell = pdf["__cell"].iloc[0]
        pdf = _canonical_order(pdf)
        groups, weights = pdf[group].tolist(), pdf["__garea"].tolist()
        ring_sets = _seam_subdivide(_ring_sets(pdf), bc_meta.value[cl], cell)
        rows = []
        for rings, area, member in mosaic_rings(ring_sets):
            best = None
            for i, m in enumerate(member):
                if m and (best is None or weights[i] > weights[best]):
                    best = i
            rec = {"__cluster": cl, "__cell": cell,
                   "rings_x": [list(fx) for fx, _fy in rings],
                   "rings_y": [list(fy) for _fx, fy in rings],
                   "area": float(area)}
            if best is None:
                rec.update(kind="gap", fweight=None)
                rec[group] = None
            else:
                rec.update(kind="face", fweight=float(weights[best]))
                rec[group] = groups[best]
            rows.append(rec)
        if not rows:
            return _empty_frame(cell_schema)
        return pd.DataFrame(rows, columns=cell_schema.names)

    cellout = (pieces.groupBy("__cluster", "__cell")
               .applyInPandas(cell_kernel, schema=cell_schema)
               .localCheckpoint())

    faces = cellout.filter(F.col("kind") == "face").drop("kind")
    gaps = (cellout.filter(F.col("kind") == "gap")
            .withColumn("__pid", F.xxhash64("__cluster", "__cell",
                                            "rings_x", "rings_y")))

    filled = None
    if gap_threshold is not None and not gaps.isEmpty():
        gap_edges = _unit_edges(gaps, ["__cluster", "__pid", "__cell"])
        face_edges = _unit_edges(faces, ["__cluster", group, "fweight"])
        # neighbor candidates: ANY assigned face sharing an edge (within or
        # across cells alike — one uniform equi-join)
        nb = (gap_edges.join(face_edges, ["__cluster", "__edge"])
              .select("__cluster", "__pid",
                      F.struct(F.col("fweight"), F.col(group).alias("g")).alias("cand"))
              .groupBy("__cluster", "__pid")
              .agg(F.max("cand").alias("best")))
        # global gap faces: pieces of DIFFERENT cells sharing a border edge
        a = gap_edges.select("__cluster", "__edge",
                             F.col("__pid").alias("id_a"), F.col("__cell").alias("ca"))
        b = gap_edges.select("__cluster", "__edge",
                             F.col("__pid").alias("id_b"), F.col("__cell").alias("cb"))
        gg = (a.join(b, ["__cluster", "__edge"])
              .filter((F.col("id_a") < F.col("id_b")) & (F.col("ca") != F.col("cb")))
              .select("id_a", "id_b").distinct())
        from mapshaper_spark.operators.dedup import dup_clusters
        comps = dup_clusters(gg, gaps.select("__pid"), "__pid") \
            .select("__pid", F.col("cluster").alias("__comp"))
        gl = gaps.join(comps, "__pid").join(nb, ["__cluster", "__pid"], "left")
        decide = (gl.groupBy("__comp")
                  .agg(F.sum("area").alias("total_area"),
                       F.max("best").alias("best")))
        ok = decide.filter((F.col("total_area") <= F.lit(gap_threshold)) &
                           F.col("best").isNotNull())
        filled = (gl.select("__cluster", "__comp", "rings_x", "rings_y", "area")
                  .join(ok.select("__comp", "best"), "__comp")
                  .select("__cluster", F.col("best.g").alias(group),
                          F.col("best.fweight").alias("fweight"),
                          "rings_x", "rings_y", "area"))

    all_faces = faces.select("__cluster", group, "rings_x", "rings_y", "area")
    if filled is not None:
        all_faces = all_faces.unionByName(
            filled.select("__cluster", group, "rings_x", "rings_y", "area"))

    out_schema = T.StructType([
        T.StructField(group, gtype),
        T.StructField("__cluster", cl_type),
        T.StructField("rings_x", _RINGS),
        T.StructField("rings_y", _RINGS),
        T.StructField("area", T.DoubleType()),
    ])

    def stitch_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group].iloc[0]
        cl = pdf["__cluster"].iloc[0]
        # sub-threshold HOLES fill at the merged level: degenerate
        # (zero-area) mosaic cycles are dropped by the face walk, so
        # hairline slivers between near-coincident borders surface here
        # as negative rings below the gap threshold — absorbing them into
        # the surrounding group is exactly what assignRemainingTile does
        # for their non-degenerate kin
        rings = [(rx_, ry_, ra)
                 for rx_, ry_, ra in _stitch_cleaned(pdf, bc_meta.value[cl])
                 if not (ra < 0 and gap_threshold is not None and
                         -ra <= gap_threshold)]
        return pd.DataFrame({
            group: pd.Series([g], dtype=object),
            "__cluster": pd.Series([cl]),
            "rings_x": pd.Series([[r[0] for r in rings]], dtype=object),
            "rings_y": pd.Series([[r[1] for r in rings]], dtype=object),
            "area": pd.Series([float(sum(r[2] for r in rings))],
                              dtype="float64"),
        })

    return (_edge_cancel(all_faces, ["__cluster", group])
            .groupBy("__cluster", group)
            .applyInPandas(stitch_kernel, schema=out_schema)
            .select(group, "__cluster", "rings_x", "rings_y", "area"))


def _sutherland_hodgman_exact(rx, ry, bbox):
    """paths._sutherland_hodgman over a grid-pre-cut ring: identical
    algorithm — after _cut_ring_at_gridlines the interpolation is exact
    (t degenerates to 0/1), see that docstring. dedup=False: the two-level
    edge-cancel needs BOTH neighbouring cells to emit the seam with the
    same vertex multiplicity; collapsing on-edge duplicates in one cell's
    output but not the other leaves uncancelled seam edges."""
    from mapshaper_spark.operators.paths import _sutherland_hodgman
    return _sutherland_hodgman(rx, ry, bbox, dedup=False)


def _pt_on_rings(px: float, py: float, rings_c) -> bool:
    """True when (px, py) lies exactly on a segment of any ring."""
    for bxs, bys in rings_c:
        x0 = np.asarray(bxs[:-1], dtype=np.float64)
        y0 = np.asarray(bys[:-1], dtype=np.float64)
        x1 = np.asarray(bxs[1:], dtype=np.float64)
        y1 = np.asarray(bys[1:], dtype=np.float64)
        cross = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)
        on = ((cross == 0.0) &
              (px >= np.minimum(x0, x1)) & (px <= np.maximum(x0, x1)) &
              (py >= np.minimum(y0, y1)) & (py <= np.maximum(y0, y1)))
        if bool(on.any()):
            return True
    return False


def clip_polylines_rings(paths, rings_c, erase: bool = False):
    """Clip open polylines by a polygon ring set: cut each path at every
    boundary crossing, keep the sub-paths whose midpoints are inside
    (outside for erase) — the reference's polyline clip
    (/root/reference/src/clipping/mapshaper-polyline-clipping.js:7-37:
    arc-enclosure test after intersection cuts). ``paths``: list of
    (xs, ys) open numpy paths. Returns list of kept sub-paths."""
    out = []
    for xs, ys in paths:
        cuts_p: dict = {}
        for bxs, bys in rings_c:
            _collect_cuts(np.asarray(xs, dtype=np.float64),
                          np.asarray(ys, dtype=np.float64),
                          np.asarray(bxs, dtype=np.float64),
                          np.asarray(bys, dtype=np.float64),
                          cuts_p, {})
        cx, cy = _apply_cuts(np.asarray(xs, dtype=np.float64),
                             np.asarray(ys, dtype=np.float64), cuts_p)
        cut_pts = set()
        for segs in cuts_p.values():
            for _t, px, py in segs:
                cut_pts.add((px, py))
        # split at cut points AND at path vertices lying on the clip
        # boundary: the reference's node-based clipPolylines splits arcs at
        # every shared node, which includes vertex-only touches that produce
        # no segment-intersection cut (polyline-clipping-test.js Fig 2)
        bounds = [0]
        for i in range(1, len(cx) - 1):
            if (cx[i], cy[i]) in cut_pts or \
                    _pt_on_rings(cx[i], cy[i], rings_c):
                bounds.append(i)
        bounds.append(len(cx) - 1)
        prev_end = None  # merge contiguous kept spans into one part, like
        for a, b in zip(bounds[:-1], bounds[1:]):  # the reference's [[5, 2]]
            if b <= a:
                continue
            sub_x, sub_y = cx[a:b + 1], cy[a:b + 1]
            k = (len(sub_x) - 1) // 2
            mx = (sub_x[k] + sub_x[k + 1]) / 2.0
            my = (sub_y[k] + sub_y[k + 1]) / 2.0
            inside = bool(K.points_in_polygon(np.array([mx]), np.array([my]),
                                              rings_c)[0])
            if inside != erase:
                if prev_end == a:
                    out[-1] = (out[-1][0] + sub_x[1:].tolist(),
                               out[-1][1] + sub_y[1:].tolist())
                else:
                    out.append((sub_x.tolist(), sub_y.tolist()))
                prev_end = b
    return out


def clip_polylines(lines: DataFrame, clip: DataFrame,
                   erase: bool = False, key: str | None = None,
                   res: int = 6, broadcast_limit: int = 10_000) -> DataFrame:
    """-clip/-erase on a polyline feature layer (rings_x/rings_y hold open
    paths) against a polygon clip layer: ``_clip_layer`` with the polyline
    kernel, so the same two plans as clip_polygons. A line outside every
    clip bbox cannot be inside any clip polygon: it passes through on
    erase and drops on clip."""
    return _clip_layer(lines, clip, _polyline_record, erase,
                       key or lines.columns[0], res, broadcast_limit)


def _connected_feature_clusters(df: DataFrame, key: str, res: int = 6,
                                scope_col: str | None = None):
    """(key, cluster) labels where features sharing a grid cell of their
    bbox cover are in one cluster — iterative min-label propagation with a
    pointer-doubling shortcut (O(log diameter) rounds), the same plan as
    topology.label_components but over feature bbox-overlap edges.
    ``scope_col`` fences clustering (features in different scopes never
    merge — used by dissolve2 to cluster within each group). Dimension-
    sized layers (<= small_limit) cluster via driver union-find over the
    collected (key, bbox) rows — the distributed propagation loop costs
    ~2 jobs/round, which dwarfs a 6-feature layer's actual work."""
    gb = _union_bbox(df, df)
    small_limit = 100_000
    if df.limit(small_limit + 1).count() <= small_limit:
        import pyarrow as pa
        n = 1 << res
        xmin, ymin, xmax, ymax = gb
        w = (xmax - xmin) / n
        h = (ymax - ymin) / n
        rows = df.select(key, "bbox",
                         *( [scope_col] if scope_col else [] )).collect()
        parent: dict = {}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        cell_owner: dict = {}
        for r in rows:
            k = r[key]
            parent.setdefault(k, k)
            scope = r[scope_col] if scope_col else None
            b = r["bbox"]
            c0 = max(0, min(n - 1, int((b["xmin"] - xmin) / w)))
            c1 = max(0, min(n - 1, int((b["xmax"] - xmin) / w)))
            r0 = max(0, min(n - 1, int((b["ymin"] - ymin) / h)))
            r1 = max(0, min(n - 1, int((b["ymax"] - ymin) / h)))
            for rr in range(r0, r1 + 1):
                for cc in range(c0, c1 + 1):
                    ck = (scope, rr, cc)
                    if ck in cell_owner:
                        union(cell_owner[ck], k)
                    else:
                        cell_owner[ck] = k
        comp = {a: find(a) for a in parent}
        # dense deterministic long labels (keys may be any type)
        label_of = {c: i for i, c in enumerate(sorted(set(comp.values()),
                                                      key=str))}
        spark = df.sparkSession
        out = spark.createDataFrame(
            pa.table({"k": pa.array(list(comp.keys())),
                      "c": pa.array([label_of[v] for v in comp.values()],
                                    pa.int64())}))
        key_type = df.schema[key].dataType
        return out.select(F.col("k").cast(key_type).alias(key),
                          F.col("c").alias("__cluster"))

    cells = (df.select(key, "bbox",
                       *( [scope_col] if scope_col else [] ))
             .withColumn("__cell", _bbox_cells_col(gb, res)))
    if scope_col:
        cells = cells.withColumn("__cell", F.xxhash64(scope_col, "__cell"))
    cells = cells.select(key, "__cell")
    labels = (df.select(F.col(key).alias("id")).distinct()
              .withColumn("comp", F.col("id")).localCheckpoint())
    changed = -1
    for _ in range(20):
        lb = cells.join(labels, cells[key] == labels.id).select("__cell", "comp")
        cell_min = lb.groupBy("__cell").agg(F.min("comp").alias("cell_comp"))
        new_labels = (cells.join(cell_min, "__cell")
                      .groupBy(key).agg(F.min("cell_comp").alias("comp"))
                      .select(F.col(key).alias("id"), "comp"))
        parent = new_labels.select(F.col("id").alias("comp"),
                                   F.col("comp").alias("comp2"))
        new_labels = (new_labels.join(parent, "comp", "left")
                      .select("id", F.coalesce("comp2", "comp").alias("comp"))
                      .localCheckpoint())
        changed = (new_labels.alias("n").join(labels.alias("o"), "id")
                   .filter(F.col("n.comp") != F.col("o.comp")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError("feature clustering did not converge")
    return labels.select(F.col("id").alias(key), F.col("comp").alias("__cluster"))


def _sized_clusters(features: DataFrame, key: str, res: int) -> DataFrame:
    """-clean's and -mosaic's feature layer labeled with its overlap
    cluster (``__cluster``) and that cluster's size (``__csz``),
    materialized: the singleton, kernel and two-level routes (and the
    two-level route's isEmpty probe) would each recompute the clustering
    join otherwise."""
    labeled = features.join(_connected_feature_clusters(features, key, res=res),
                            key)
    sizes = labeled.groupBy("__cluster").agg(F.count(F.lit(1)).alias("__csz"))
    return labeled.join(sizes, "__cluster").localCheckpoint()


def clean(features: DataFrame, key: str, gap_fill: bool = True,
          min_gap_area: float | None = None, res: int = 6,
          max_task_features: int = 4096,
          target_per_cell: int = 64) -> DataFrame:
    """-clean (/root/reference/src/commands/mapshaper-clean.js:3-17 ->
    dissolvePolygons2 with each feature its own group): remove overlaps
    between features (contested mosaic faces go to the highest-area
    feature — chooseShape weight), fill sub-sliver gaps, drop empty
    geometries. Unlike dissolve2, features KEEP their identity.

    Distribution: features cluster by bbox-cover overlap (cell equi-join +
    label propagation); singleton clusters — the vast majority of a clean
    layer — pass through a pure JVM filter untouched; only overlapping
    clusters run the mosaic kernel (applyInPandas per cluster).

    Column contract: returns (key, rings_x, rings_y, bbox) plus every other
    non-geometry attribute column of the input, joined back by ``key``
    (matching the reference -clean, which keeps the attribute table)."""
    features = _ensure_bbox(features)
    features = features.filter(F.col("rings_x").isNotNull() &
                               (F.size("rings_x") > 0))
    gap_threshold = None
    if gap_fill:
        gap_threshold = (min_gap_area if min_gap_area is not None
                         else mean_segment_len_sq(features))

    labeled = _sized_clusters(features, key, res)
    pass_through = labeled.filter(F.col("__csz") == 1) \
        .drop("__cluster", "__csz")
    multi = labeled.filter((F.col("__csz") > 1) &
                           (F.col("__csz") <= max_task_features)).drop("__csz")
    big = labeled.filter(F.col("__csz") > max_task_features).drop("__csz")

    out_schema = T.StructType([
        features.schema[key],
        T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("bbox", T.StructType([
            T.StructField("xmin", T.DoubleType()), T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()), T.StructField("ymax", T.DoubleType())])),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _canonical_order(pdf)
        keys = pdf[key].tolist()
        cleaned = dissolve2_rings(_ring_sets(pdf), keys,
                                  gap_threshold=gap_threshold)
        rows = []
        for k in keys:
            rings = cleaned.get(k, [])
            if not rings:
                continue
            allx = np.concatenate([np.asarray(r[0]) for r in rings])
            ally = np.concatenate([np.asarray(r[1]) for r in rings])
            rows.append({key: k,
                         "rings_x": [r[0] for r in rings],
                         "rings_y": [r[1] for r in rings],
                         "bbox": {"xmin": float(allx.min()), "ymin": float(ally.min()),
                                  "xmax": float(allx.max()), "ymax": float(ally.max())}})
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    cleaned = multi.select("__cluster", key, "rings_x", "rings_y") \
        .groupBy("__cluster").applyInPandas(
            lambda pdf: kernel(pdf), schema=out_schema)
    keep_cols = [key, "rings_x", "rings_y", "bbox"]
    out = pass_through.select(*keep_cols).unionByName(cleaned.select(*keep_cols))
    if not big.isEmpty():
        # hot clusters: two-level mosaic, each feature its own group
        two_level = _dissolve2_cells(
            big.select(F.col(key), "__cluster", "rings_x", "rings_y", "bbox"),
            key, gap_threshold, target_per_cell=target_per_cell)
        two_level = two_level.filter(F.size("rings_x") > 0).select(
            key, "rings_x", "rings_y",
            F.struct(
                F.array_min(F.transform("rings_x", F.array_min)).alias("xmin"),
                F.array_min(F.transform("rings_y", F.array_min)).alias("ymin"),
                F.array_max(F.transform("rings_x", F.array_max)).alias("xmax"),
                F.array_max(F.transform("rings_y", F.array_max)).alias("ymax"),
            ).alias("bbox"))
        out = out.unionByName(two_level.select(*keep_cols))
    attr_cols = [c for c in features.columns if c not in keep_cols]
    if attr_cols:
        out = out.join(features.select(key, *attr_cols), key, "left")
    return out


def _mosaic_cells(labeled: DataFrame, key: str,
                  target_per_cell: int = 64) -> DataFrame:
    """Two-level -mosaic for OVERSIZED overlap clusters (the hot-cluster
    escape `_dissolve2_cells` gave dissolve2/clean, applied to the face
    mosaic): a transitively-connected continent would otherwise serialize
    into ONE kernel task holding every ring.

    1. ``_grid_pieces``: one clipped piece per (feature, overlapped cell);
    2. each (cluster, cell) runs `mosaic_rings` on its bounded piece set
       (``_seam_subdivide`` first); every face piece is keyed by its
       covering-feature SIGNATURE (the sorted feature ids as strings). Two
       adjacent arrangement faces always differ in at least one member,
       so pieces of the same signature sharing an edge belong to the same
       global face — and cell-border seams between them appear exactly
       twice;
    3. ``_edge_cancel`` per (cluster, signature): the final stitch task
       sees only one signature's PERIMETER edges;
    4. the stitch splits the merged rings back into faces: each positive
       cycle is a face outer, negative cycles nest into the smallest
       containing positive (mosaic_rings' own hole rule), so two disjoint
       same-signature overlaps stay two rows.

    Expects (key, __cluster, rings_x, rings_y, bbox); returns
    (rings_x, rings_y, area, n_members)."""
    pieces, bc_meta = _grid_pieces(labeled, key, target_per_cell)

    face_schema = T.StructType([
        T.StructField("__cluster", labeled.schema["__cluster"].dataType),
        T.StructField("__sig", T.StringType()),
        T.StructField("n_members", T.IntegerType()),
        T.StructField("rings_x", _RINGS),
        T.StructField("rings_y", _RINGS),
    ])

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cl = pdf["__cluster"].iloc[0]
        cell = pdf["__cell"].iloc[0]
        pdf = pdf.assign(__fid=[str(v) for v in pdf[key].tolist()]) \
            .sort_values("__fid")
        fids = pdf["__fid"].tolist()
        ring_sets = _seam_subdivide(_ring_sets(pdf), bc_meta.value[cl], cell)
        rows = []
        for rings, _area, member in mosaic_rings(ring_sets):
            sig = ";".join(f for f, m in zip(fids, member) if m)
            # sig == '' is an uncovered ENCLOSED face piece (donut hole /
            # gap between features): the reference emits these as tiles
            # (buildPolygonMosaic keeps every CW ring, polygon-mosaic.js:73)
            # — keep them; '' acts as the signature so pieces of the same
            # hole edge-cancel across cells like any other face
            rows.append({"__cluster": cl, "__sig": sig,
                         "n_members": int(sum(member)),
                         "rings_x": [list(fx) for fx, _fy in rings],
                         "rings_y": [list(fy) for _fx, fy in rings]})
        if not rows:
            return _empty_frame(face_schema)
        return pd.DataFrame(rows, columns=face_schema.names)

    cellout = (pieces.groupBy("__cluster", "__cell")
               .applyInPandas(cell_kernel, schema=face_schema)
               .localCheckpoint())

    out_schema = T.StructType([
        T.StructField("rings_x", _RINGS),
        T.StructField("rings_y", _RINGS),
        T.StructField("area", T.DoubleType()),
        T.StructField("n_members", T.IntegerType()),
    ])

    def stitch_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        nm = int(pdf["n_members"].iloc[0])
        cleaned = _stitch_cleaned(pdf, bc_meta.value[pdf["__cluster"].iloc[0]])
        # split into faces: positive cycles are outers; negative cycles
        # nest into the smallest containing positive (mosaic_rings rule)
        outers = [{"rings": [(cx, cy)], "outer_area": ra, "area": ra}
                  for cx, cy, ra in cleaned if ra > 0]
        for cx, cy, ra in cleaned:
            if ra >= 0:
                continue
            px_, py_ = cx[0], cy[0]
            best = None
            for i, f in enumerate(outers):
                ox, oy = f["rings"][0]
                if f["outer_area"] > -ra and K.points_in_ring(
                        np.array([px_]), np.array([py_]),
                        np.asarray(ox), np.asarray(oy))[0] == 1:
                    if best is None or f["outer_area"] < outers[best]["outer_area"]:
                        best = i
            if best is not None:
                outers[best]["rings"].append((cx, cy))
                outers[best]["area"] += ra
        rows = [{"rings_x": [list(r[0]) for r in f["rings"]],
                 "rings_y": [list(r[1]) for r in f["rings"]],
                 "area": float(f["area"]), "n_members": nm}
                for f in outers]
        if not rows:
            return _empty_frame(out_schema)
        return pd.DataFrame(rows, columns=out_schema.names)

    return (_edge_cancel(cellout, ["__cluster", "__sig", "n_members"])
            .groupBy("__cluster", "__sig")
            .applyInPandas(stitch_kernel, schema=out_schema))


def mosaic(features: DataFrame, key: str = None, res: int = 6,
           max_task_features: int = 4096,
           target_per_cell: int = 64) -> DataFrame:
    """-mosaic (/root/reference/src/commands/mapshaper-mosaic.js:3-18 ->
    MosaicIndex.mosaic): replace a polygon layer with the indivisible faces
    of its arrangement; each face carries how many input features cover it.

    Distribution mirrors -clean: features cluster by bbox-cover overlap
    (cell equi-join + label propagation, `_connected_feature_clusters`);
    each cluster runs the arrangement kernel (`mosaic_rings`) in one
    applyInPandas task — faces can only be formed by features whose bbox
    covers touch, so disjoint clusters are embarrassingly parallel.
    Singleton clusters skip the kernel: their mosaic is the feature itself
    (n_members=1), a pure JVM projection.

    Clusters larger than ``max_task_features`` (one transitively-connected
    continent) take the two-level path (`_mosaic_cells`): per-cell mosaic
    kernels emit face PIECES keyed by their covering-feature signature,
    pieces merge by distributed edge canceling (cell-border seams vanish),
    and the final stitch task is bounded by one signature's perimeter —
    no task ever holds a whole hot cluster.

    Uncovered ENCLOSED faces (donut-hole interiors, gaps ringed by
    features) are part of the mosaic with n_members=0, exactly like the
    reference (buildPolygonMosaic emits every CW ring as a tile,
    polygon-mosaic.js:65-95); only the unbounded outside is dropped. All
    three execution paths (singleton / clustered kernel / two-level)
    agree on this face set.

    Returns (face_id, rings_x, rings_y, area, n_members); face_id is a
    content hash — stable across runs and partitionings."""
    key = key or features.columns[0]
    features = _ensure_bbox(features)
    features = features.filter(F.col("rings_x").isNotNull() &
                               (F.size("rings_x") > 0))
    labeled = _sized_clusters(features, key, res)

    out_schema = T.StructType([
        T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("area", T.DoubleType()),
        T.StructField("n_members", T.IntegerType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for rings, area, member in mosaic_rings(
                _ring_sets(_canonical_order(pdf))):
            rows.append({"rings_x": [fx.tolist() if hasattr(fx, "tolist") else list(fx)
                                     for fx, _fy in rings],
                         "rings_y": [fy.tolist() if hasattr(fy, "tolist") else list(fy)
                                     for _fx, fy in rings],
                         "area": float(area),
                         "n_members": int(sum(member))})
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    # singleton fast path is only exact for SINGLE-ring features: a
    # multi-ring singleton (multipolygon or donut) mosaics into one tile
    # per CW ring — hole interiors become n_members=0 tiles
    # (buildPolygonMosaic, polygon-mosaic.js:65-95) — so those route
    # through the same arrangement kernel as multi-feature clusters
    singles_base = labeled.filter(F.col("__csz") == 1)
    singles = (singles_base.filter(F.size("rings_x") == 1)
               .select("rings_x", "rings_y")
               .withColumn("area", F.aggregate(
                   # offset shoelace, CW => positive — bit-identical to
                   # K.planar_path_area so the JVM fast path and the kernel
                   # path agree on the same ring
                   F.zip_with("rings_x", "rings_y", lambda rx, ry: F.aggregate(
                       F.sequence(F.lit(0), F.size(rx) - 2),
                       F.lit(0.0),
                       lambda acc, i: acc +
                       ((rx[i + 1] - rx[0]) * (ry[i] - ry[0]) -
                        (rx[i] - rx[0]) * (ry[i + 1] - ry[0])),
                       lambda s: s / 2)),
                   F.lit(0.0), lambda a, v: a + v))
               .withColumn("n_members", F.lit(1)))
    singles_multiring = (singles_base.filter(F.size("rings_x") > 1)
                         .select(key, "rings_x", "rings_y")
                         .groupBy(key).applyInPandas(
                             lambda pdf: kernel(pdf), schema=out_schema))
    multi = (labeled.filter((F.col("__csz") > 1) &
                            (F.col("__csz") <= max_task_features))
             .select("__cluster", "rings_x", "rings_y")
             .groupBy("__cluster").applyInPandas(
                 lambda pdf: kernel(pdf), schema=out_schema))
    out = singles.select(*[f.name for f in out_schema.fields]) \
        .unionByName(singles_multiring).unionByName(multi)
    big = labeled.filter(F.col("__csz") > max_task_features)
    if not big.isEmpty():
        two_level = _mosaic_cells(
            big.select(F.col(key), "__cluster", "rings_x", "rings_y", "bbox"),
            key, target_per_cell=target_per_cell)
        out = out.unionByName(
            two_level.select(*[f.name for f in out_schema.fields]))
    return out.select(
        F.xxhash64("rings_x", "rings_y").alias("face_id"),
        "rings_x", "rings_y", "area", "n_members")


def slice_polygons(target: DataFrame, source: DataFrame,
                   id_field: str | None = None, key: str | None = None,
                   out_field: str = "slice_id", res: int = 6) -> DataFrame:
    """-slice source= (/root/reference/src/commands/mapshaper-clip-erase.js
    sliceLayers): cut the target layer by EVERY polygon of the source
    layer — one output row per intersecting (target feature, slice
    polygon) pair, geometry = the intersection, tagged with the slice
    polygon's ``id_field`` value (default: the source's first column).

    Physical plan (always distributed — no broadcast special case needed
    because pairs are independent): bbox-cell equi-join builds candidate
    (target, slice) pairs over a shared grid, each pair runs the clip
    kernel for exactly one clip feature, so task size is bounded by one
    pair's geometry regardless of layer sizes."""
    key = key or target.columns[0]
    id_field = id_field or source.columns[0]
    target = _ensure_bbox(target)
    src = _ensure_bbox(source).select(
        F.col(id_field).cast("string").alias("__sid"),
        "rings_x", "rings_y", "bbox")
    pairs = _cell_pairs(target, key, src, "__sid", res)
    cand = pairs.join(target, key).join(
        src.select("__sid", *(F.col(c).alias(f"__s{c}")
                              for c in ("rings_x", "rings_y", "bbox"))),
        "__sid")

    out_cols = [f.name for f in target.schema.fields] + [out_field]
    out_schema = T.StructType(list(target.schema.fields) +
                              [T.StructField(out_field, T.StringType())])

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                feat = _clip_feature(rec.pop("__srings_x"),
                                     rec.pop("__srings_y"), rec.pop("__sbbox"))
                sid = rec.pop("__sid")
                out = _clip_record(rec, [feat], _overlay_record, False)
                if out is not None:
                    out[out_field] = sid
                    rows.append(out)
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return cand.mapInPandas(gen, schema=out_schema)
