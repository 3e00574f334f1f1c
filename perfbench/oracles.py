"""Numpy oracles for the benchmark's output checks.

Polygons here are axis-aligned rectangles on regular grids, so containment
is exact interval arithmetic: a point on a shared edge is inside both
rectangles (the program's point-in-polygon counts the boundary as inside),
so it counts twice, and a point on a shared corner four times.
"""

from __future__ import annotations

import numpy as np

from perfbench.gen import BBOX, grid_edges

TWO20 = float(1 << 20)


def footprints(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """lon/lat of layers.footprint_cols, with the same float operations."""
    ph = phash.astype(np.int64)
    lon = -120.0 + (ph % (1 << 20)).astype(np.float64) / TWO20 * 60.0
    lat = 25.0 + ((ph >> 20) % (1 << 20)).astype(np.float64) / TWO20 * 24.0
    return lon, lat


def _interval_hits(v: np.ndarray, edges: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """(point index, cell index) pairs with edges[c] <= v <= edges[c + 1];
    at most two cells per point (two when v lies on an interior edge)."""
    r = np.searchsorted(edges, v, side="right")
    out = []
    for c in (r - 1, r - 2):
        ok = (c >= 0) & (c < len(edges) - 1)
        cc = np.where(ok, c, 0)
        ok &= (edges[cc] <= v) & (v <= edges[cc + 1])
        out.append((np.nonzero(ok)[0], cc[ok]))
    return out


def rect_hits(x: np.ndarray, y: np.ndarray, xe: np.ndarray, ye: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All (point, rectangle) pairs, boundary inclusive, for the grid of
    rectangles with column edges ``xe`` and row edges ``ye``; rectangle id
    = row * n_cols + col."""
    ncols = len(xe) - 1
    pts, ids = [], []
    for px, cx in _interval_hits(x, xe):
        col = np.full(len(x), -1)
        col[px] = cx
        for py, ry in _interval_hits(y, ye):
            sel = col[py] >= 0
            pts.append(py[sel])
            ids.append(ry[sel] * ncols + col[py[sel]])
    return np.concatenate(pts), np.concatenate(ids)


def region_tile_counts(phash: np.ndarray, cols: int = 6, rows: int = 4,
                       grid: int = 16) -> dict[tuple[int, int, int], int]:
    """{(rid, tile_row, tile_col): n} of the flagship job: footprints joined
    to the cols x rows region mosaic, counted per grid x grid tile
    (operators.grid.grid_rc: floor of the bbox fraction, clamped)."""
    xmin, ymin, xmax, ymax = BBOX
    lon, lat = footprints(phash)
    pt, rid = rect_hits(lon, lat, grid_edges(cols, xmin, xmax), grid_edges(rows, ymin, ymax))
    tc = np.clip(np.floor((lon - xmin) / (xmax - xmin) * grid), 0, grid - 1).astype(np.int64)
    tr = np.clip(np.floor((lat - ymin) / (ymax - ymin) * grid), 0, grid - 1).astype(np.int64)
    key = (rid * grid + tr[pt]) * grid + tc[pt]
    uniq, n = np.unique(key, return_counts=True)
    return {(int(k // (grid * grid)), int(k // grid % grid), int(k % grid)): int(c)
            for k, c in zip(uniq, n)}


def parcel_counts(lon: np.ndarray, lat: np.ndarray, xe: np.ndarray, ye: np.ndarray) -> dict[int, int]:
    """{pid: points inside, boundary inclusive} for parcels with >= 1 point."""
    _, pid = rect_hits(lon, lat, xe, ye)
    uniq, n = np.unique(pid, return_counts=True)
    return dict(zip(uniq.tolist(), n.tolist()))


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def phash_pairs(phash: np.ndarray, max_hamming: int = 6, bands: int = 4, bits: int = 40) -> int:
    """Number of distinct row pairs dedup.phash_hamming_pairs reports: the
    pair shares one of ``bands`` equal-width chunks of the low ``bits`` bits
    (its candidate rule) and differs in at most ``max_hamming`` bits of the
    whole value."""
    ph = phash.astype(np.int64)
    width = bits // bands
    mask = (1 << width) - 1
    chunks = [(ph >> (i * width)) & mask for i in range(bands)]
    total = 0
    for i in range(len(ph) - 1):
        share = np.zeros(len(ph) - i - 1, dtype=bool)
        for ch in chunks:
            share |= ch[i + 1:] == ch[i]
        if not share.any():
            continue
        x = (ph[i + 1:][share] ^ ph[i]).view(np.uint64)
        ham = _POPCOUNT8[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)
        total += int((ham <= max_hamming).sum())
    return total


def image_means(pixels: np.ndarray) -> tuple[float, float, float]:
    """Channel means rounded like images.decode_stats."""
    m = pixels.astype(np.float64).mean(axis=(0, 1))
    return tuple(round(float(v), 6) for v in m)


def ring_area(ring) -> float:
    """Planar shoelace area (absolute) of a closed coordinate ring."""
    a = np.asarray(ring, dtype=np.float64)
    x, y = a[:, 0], a[:, 1]
    return abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))) / 2.0


def polygon_area(geometry: dict) -> float:
    """Area of a GeoJSON Polygon/MultiPolygon: outer rings minus holes."""
    polys = ([geometry["coordinates"]] if geometry["type"] == "Polygon"
             else geometry["coordinates"])
    return sum(ring_area(p[0]) - sum(ring_area(h) for h in p[1:]) for p in polys)


def vertex_count(geometry: dict) -> int:
    polys = ([geometry["coordinates"]] if geometry["type"] == "Polygon"
             else geometry["coordinates"])
    return sum(len(ring) for p in polys for ring in p)


def check_feature_collection(doc) -> list[str]:
    """Structural problems of a GeoJSON polygon FeatureCollection (empty
    when valid): closed rings of >= 4 positions, finite coordinates."""
    problems = []
    if not isinstance(doc, dict) or doc.get("type") != "FeatureCollection":
        return ["not a FeatureCollection"]
    for i, f in enumerate(doc.get("features", [])):
        g = f.get("geometry") if isinstance(f, dict) else None
        if not g or g.get("type") not in ("Polygon", "MultiPolygon"):
            problems.append(f"feature {i}: geometry {g and g.get('type')}")
            continue
        polys = [g["coordinates"]] if g["type"] == "Polygon" else g["coordinates"]
        for ring in (r for p in polys for r in p):
            a = np.asarray(ring, dtype=np.float64)
            if a.ndim != 2 or len(a) < 4 or not np.isfinite(a).all() or tuple(a[0]) != tuple(a[-1]):
                problems.append(f"feature {i}: bad ring")
    return problems
