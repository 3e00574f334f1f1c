"""Seeded input generators, cached on disk by (input, size, seed).

Every generator is pure numpy + pyarrow: the program under test only ever
receives the files written here. The same (size, seed) always produces the
same bytes, and a cache directory is only used once its ``meta.json``
(written last) exists, so an interrupted generation is regenerated.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import time
import zlib

import numpy as np

# the program's default world extent (layers.DEFAULT_BBOX)
BBOX = (-120.0, 25.0, -60.0, 49.0)
# parquet inputs are split into this many files so a scan has one task per core
N_FILES = 8


def cached(cache_root: str, name: str, params: dict, seed: int, build) -> tuple[str, dict, float, bool]:
    """Return (dir, meta, gen_s, hit) for input ``name`` built by
    ``build(dir, rng, **params) -> meta``; generation time is measured here
    so callers can keep it out of the set-up time."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(cache_root, f"{name}-{tag}-s{seed}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f), 0.0, True
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    meta = build(path, np.random.default_rng(seed), **params)
    gen_s = time.perf_counter() - t0
    meta["gen_s"] = gen_s
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return path, meta, gen_s, False


def _write_parts(path: str, table) -> None:
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def footprint_phash(rng, n: int) -> np.ndarray:
    """40-bit phash values whose derived footprints cover the world bbox,
    with some rows placed exactly on shared region borders: a high half of
    k * 2^18 gives lat = 25 + 6k (a row border of the 6x4 mosaic), a low
    half of 0 gives lon = -120 (the west edge)."""
    ph = rng.integers(0, 1 << 40, n, dtype=np.int64)
    on_row_border = rng.random(n) < 0.004
    k = rng.integers(1, 4, n, dtype=np.int64)
    ph = np.where(on_row_border, ((k << 18) << 20) | (ph & ((1 << 20) - 1)), ph)
    on_west_edge = rng.random(n) < 0.001
    return np.where(on_west_edge, ph & ~np.int64((1 << 20) - 1), ph)


def build_images_index(path: str, rng, n: int) -> dict:
    """Image table for the flagship tiles job: (image_id, phash)."""
    import pyarrow as pa
    ph = footprint_phash(rng, n)
    _write_parts(os.path.join(path, "images"),
                 pa.table({"image_id": np.arange(n, dtype=np.int64), "phash": ph}))
    np.save(os.path.join(path, "phash.npy"), ph)
    return {"rows": n}


def grid_edges(n: int, lo: float, hi: float) -> np.ndarray:
    """Edge coordinates of an n-cell regular grid, computed exactly like
    the program's mosaic (lo + i * ((hi - lo) / n))."""
    step = (hi - lo) / n
    return np.array([lo + i * step for i in range(n + 1)])


def build_parcels(path: str, rng, grid: int, points: int, hot_share: float, res: int) -> dict:
    """A grid x grid layer of rectangular parcels over the world bbox and a
    point table with ``hot_share`` of its rows inside one Morton cell at
    ``res`` (the skew the salted join exists for); 1% of the points sit
    exactly on a parcel column border and 1% on a row border."""
    import pyarrow as pa
    xmin, ymin, xmax, ymax = BBOX
    xe, ye = grid_edges(grid, xmin, xmax), grid_edges(grid, ymin, ymax)
    r, c = np.divmod(np.arange(grid * grid), grid)
    x0, x1, y0, y1 = xe[c], xe[c + 1], ye[r], ye[r + 1]
    bbox = pa.StructArray.from_arrays(
        [pa.array(x0), pa.array(y0), pa.array(x1), pa.array(y1)],
        names=["xmin", "ymin", "xmax", "ymax"])
    rings_x = [[[a, a, b, b, a]] for a, b in zip(x0.tolist(), x1.tolist())]
    rings_y = [[[a, b, b, a, a]] for a, b in zip(y0.tolist(), y1.tolist())]
    _write_parts(os.path.join(path, "parcels"), pa.table({
        "pid": np.arange(grid * grid, dtype=np.int64), "bbox": bbox,
        "rings_x": rings_x, "rings_y": rings_y}))

    lon = rng.uniform(xmin, xmax, points)
    lat = rng.uniform(ymin, ymax, points)
    ncell = 1 << res
    cw, ch = (xmax - xmin) / ncell, (ymax - ymin) / ncell
    hx, hy = rng.integers(0, ncell, 2)
    hot = rng.random(points) < hot_share
    lon = np.where(hot, xmin + (hx + rng.uniform(0.25, 0.75, points)) * cw, lon)
    lat = np.where(hot, ymin + (hy + rng.uniform(0.25, 0.75, points)) * ch, lat)
    on_col = rng.random(points) < 0.01
    lon = np.where(on_col, xe[rng.integers(1, grid, points)], lon)
    on_row = rng.random(points) < 0.01
    lat = np.where(on_row, ye[rng.integers(1, grid, points)], lat)
    _write_parts(os.path.join(path, "points"), pa.table({
        "pt_id": np.arange(points, dtype=np.int64), "lon": lon, "lat": lat}))
    np.savez(os.path.join(path, "truth.npz"), lon=lon, lat=lat, xe=xe, ye=ye)
    return {"rows": points, "parcels": grid * grid, "hot_rows": int(hot.sum())}


def synth_pixels(img_id: int, w: int, h: int) -> np.ndarray:
    """The program's deterministic RGB test pattern (images.synth_pixels)."""
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
    return ((img_id * 31 + y * 7 + x * 3 + c * 11) % 256).astype(np.uint8)


def encode_png(px: np.ndarray) -> bytes:
    """8-bit RGB PNG; even rows use filter 0 (None), odd rows filter 1 (Sub)."""
    h, w, _ = px.shape
    raw = bytearray()
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int16)
        if y % 2:
            sub = row.copy()
            sub[3:] -= row[:-3]
            raw += b"\x01" + (sub % 256).astype(np.uint8).tobytes()
        else:
            raw += b"\x00" + row.astype(np.uint8).tobytes()

    def chunk(tag: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def encode_ppm(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


WORDS = ("red", "old", "small", "busy", "quiet", "river", "harbor", "market",
         "bridge", "field", "tower", "street")


def build_images(path: str, rng, n: int) -> dict:
    """Image+caption table with encoded PNG/PPM bytes for the curation
    pipeline. A tenth of the captions repeat an earlier row's caption
    exactly, and 5% of the phashes are 1-3 bit flips of an earlier row's
    (near duplicates)."""
    import pyarrow as pa
    ids = np.arange(n, dtype=np.int64)
    ws = rng.choice(np.array([16, 32, 64], dtype=np.int32), n)
    hs = rng.choice(np.array([16, 32, 64], dtype=np.int32), n)
    fmt = np.where(rng.random(n) < 0.5, "png", "ppm")
    blobs = []
    for i, w, h, f in zip(ids.tolist(), ws.tolist(), hs.tolist(), fmt.tolist()):
        px = synth_pixels(i, w, h)
        blobs.append(encode_png(px) if f == "png" else encode_ppm(px))
    w1, w2 = rng.integers(0, len(WORDS), (2, n))
    captions = [f"a {WORDS[a]} photo of the {WORDS[b]} number {i}"
                for a, b, i in zip(w1.tolist(), w2.tolist(), ids.tolist())]
    for i in np.nonzero(rng.random(n) < 0.1)[0][1:].tolist():
        captions[i] = captions[int(rng.integers(0, i))]
    ph = footprint_phash(rng, n)
    near = np.nonzero(rng.random(n) < 0.05)[0]
    near = near[near > 0]
    src = rng.integers(0, near, len(near)) if len(near) else near
    flips = np.zeros(len(near), dtype=np.int64)
    for _ in range(3):
        bit = rng.integers(0, 40, len(near))
        keep = rng.random(len(near)) < 0.7
        flips ^= np.where(keep, np.int64(1) << bit, 0)
    ph[near] = ph[src] ^ flips
    _write_parts(os.path.join(path, "images"), pa.table({
        "image_id": [f"img{i:08d}" for i in ids.tolist()], "id": ids,
        "w": ws, "h": hs, "fmt": fmt.tolist(), "bytes": blobs,
        "caption": captions, "phash": ph}))
    np.savez(os.path.join(path, "truth.npz"), ids=ids, w=ws, h=hs, phash=ph)
    with open(os.path.join(path, "captions.json"), "w") as f:
        json.dump(captions, f)
    return {"rows": n}


def _border(rng, n_vertices: int, amp: float) -> np.ndarray:
    """Jitter of a border's interior vertices, tapered to zero at both ends
    so adjacent borders only meet at their shared corner."""
    t = np.arange(1, n_vertices + 1) / (n_vertices + 1)
    return rng.uniform(-amp, amp, n_vertices) * np.sin(np.pi * t)


def build_counties(path: str, rng, grid: int, vertices: int) -> dict:
    """A grid x grid county layer (GeoJSON, lon/lat) whose shared borders
    are jagged polylines of ``vertices`` interior points, identical on both
    sides. Properties: name, state (2x2 county blocks), pop. No ``fid``."""
    xmin, ymin, xmax, ymax = -100.0, 30.0, -90.0, 40.0
    xs, ys = grid_edges(grid, xmin, xmax), grid_edges(grid, ymin, ymax)
    cw, ch = xs[1] - xs[0], ys[1] - ys[0]
    t = np.arange(1, vertices + 1) / (vertices + 1)
    horiz, vert = {}, {}
    for r in range(grid + 1):
        for c in range(grid):
            dy = 0.0 if r in (0, grid) else _border(rng, vertices, 0.15 * ch)
            horiz[r, c] = list(zip((xs[c] + t * cw).tolist(), (np.full(vertices, ys[r]) + dy).tolist()))
    for r in range(grid):
        for c in range(grid + 1):
            dx = 0.0 if c in (0, grid) else _border(rng, vertices, 0.15 * cw)
            vert[r, c] = list(zip((np.full(vertices, xs[c]) + dx).tolist(), (ys[r] + t * ch).tolist()))
    features = []
    pops = rng.integers(100, 10_000, grid * grid)
    for r in range(grid):
        for c in range(grid):
            ring = ([(xs[c], ys[r])] + horiz[r, c] + [(xs[c + 1], ys[r])] + vert[r, c + 1]
                    + [(xs[c + 1], ys[r + 1])] + horiz[r + 1, c][::-1]
                    + [(xs[c], ys[r + 1])] + vert[r, c][::-1] + [(xs[c], ys[r])])
            features.append({
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [[list(p) for p in ring]]},
                "properties": {"name": f"county {r}-{c}",
                               "state": f"S{(r // 2) * ((grid + 1) // 2) + c // 2}",
                               "pop": int(pops[r * grid + c])}})
    with open(os.path.join(path, "counties.json"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": features}, f)
    return {"rows": len(features)}
