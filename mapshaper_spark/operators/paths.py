"""Path/shape operators: explode, ring filters, point derivation, clipping.

- -explode:        /root/reference/src/commands/mapshaper-explode.js:3-45
  (multipart -> singlepart; polygon version keeps holes with their enclosing
  ring via group assignment)
- -filter-islands: /root/reference/src/commands/mapshaper-filter-islands.js:3-43
- -filter-slivers: /root/reference/src/commands/mapshaper-filter-slivers.js:8-45
- -points:         /root/reference/src/commands/mapshaper-points.js:10-94,152-163
  (centroid | x=,y= columns | vertices | interpolated | endpoints)
- point clip/erase: /root/reference/src/clipping/mapshaper-point-clipping.js:7-27
  (keep points inside/outside the clip polygons — a PIP join)
- bbox clip (fast path): /root/reference/src/clipping/mapshaper-bbox-clipping.js

Representation: assembled feature rows with ``rings_x``/``rings_y`` array
columns (each ring closed). All per-ring math is vectorized numpy inside
Arrow-batched ``mapInPandas``; structural ops (explode) are pure JVM.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark.geom import kernels as K
from mapshaper_spark.layers import bounds, with_bbox


def ring_areas_col(df: DataFrame, out: str = "ring_areas") -> DataFrame:
    """Per-ring signed planar areas as an array column (vectorized UDF)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            areas = []
            for rxs, rys in zip(pdf["rings_x"], pdf["rings_y"]):
                areas.append([K.planar_path_area(np.asarray(rx, dtype=np.float64),
                                                 np.asarray(ry, dtype=np.float64))
                              for rx, ry in zip(rxs, rys)])
            pdf = pdf.copy()
            pdf[out] = areas
            yield pdf

    schema = T.StructType(df.schema.fields +
                          [T.StructField(out, T.ArrayType(T.DoubleType()))])
    return df.mapInPandas(gen, schema=schema)


def explode(df: DataFrame, part_index: str = "part_idx",
            naive: bool = False) -> DataFrame:
    """-explode for assembled polygon features: one output feature per
    positive-area ring, with each hole (negative ring) assigned to the
    nearest preceding positive ring (the reference groups holes with their
    enclosing ring via getPartGroups, explode.js:25-45; for datasets in
    ring/hole order — the order produced by our assembly and by shapefile
    convention — that is the previous positive ring). ``naive`` skips the
    hole grouping and emits every ring as its own feature
    (explodePolygonNaive, explode.js:15-17)."""
    with_area = ring_areas_col(df)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                groups: list[tuple[list, list]] = []
                for rx, ry, a in zip(rec["rings_x"], rec["rings_y"], rec["ring_areas"]):
                    if naive or a > 0 or not groups:
                        groups.append(([rx], [ry]))
                    else:
                        groups[-1][0].append(rx)
                        groups[-1][1].append(ry)
                for i, (gx, gy) in enumerate(groups):
                    r2 = {k: v for k, v in rec.items() if k != "ring_areas"}
                    r2["rings_x"] = gx
                    r2["rings_y"] = gy
                    r2[part_index] = i
                    allx = np.concatenate([np.asarray(r) for r in gx])
                    ally = np.concatenate([np.asarray(r) for r in gy])
                    r2["bbox"] = {"xmin": float(allx.min()), "ymin": float(ally.min()),
                                  "xmax": float(allx.max()), "ymax": float(ally.max())}
                    rows.append(r2)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields]) \
                if rows else None

    schema = T.StructType(df.schema.fields + [T.StructField(part_index, T.IntegerType())])

    def gen_filtered(it):
        for out in gen(it):
            if out is not None:
                yield out

    return with_area.mapInPandas(gen_filtered, schema=schema)


def _ring_key(rx, ry):
    """Rotation- and direction-invariant canonical key for a closed ring
    (stand-in for the reference's shared-arc identity: a donut hole and its
    filling island reference the same arc, hence identical coordinates)."""
    pts = list(zip(rx[:-1], ry[:-1]))
    if not pts:
        return ()
    k = pts.index(min(pts))
    fwd = tuple(pts[k:] + pts[:k])
    pts_r = pts[::-1]
    k = pts_r.index(min(pts_r))
    rev = tuple(pts_r[k:] + pts_r[:k])
    return min(fwd, rev)


def _ring_key_hash(rx, ry):
    """64-bit deterministic digest of the canonical ring key (stable across
    Python workers — no process-salted hash())."""
    import hashlib
    key = _ring_key(list(rx), list(ry))
    arr = np.asarray(key, dtype=np.float64)
    h = hashlib.blake2b(arr.tobytes(), digest_size=8).digest()
    return int.from_bytes(h, "big", signed=True)


def filter_islands(df: DataFrame, min_area: float | None = None,
                   min_vertices: int | None = None,
                   protect_donuts: bool = True) -> DataFrame:
    """-filter-islands (filter-islands.js:3-65): remove island rings below
    min_area / min_vertices, EXCEPT rings that (a) contain a hole
    (internal.ringHasHoles) or (b) also serve as a donut hole elsewhere in
    the layer (the reference's arc-use-count > 1 test; here: canonical
    hole-ring key HASHES computed in a pandas stage, aggregated with a
    distributed groupBy, and joined back per feature — no layer-wide driver
    collect). Holes of a removed ring vanish with it; features left with no
    rings are dropped."""
    from mapshaper_spark.geom import kernels as KK

    with_area = ring_areas_col(df)
    out_cols = [f.name for f in df.schema.fields]

    if protect_donuts:
        # per-feature canonical ring-key hashes (one map-only pandas stage)
        def keys_stage(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                pdf = pdf.copy()
                pdf["__ring_keys"] = [
                    [_ring_key_hash(rx, ry) for rx, ry in zip(rxs, rys)]
                    for rxs, rys in zip(pdf["rings_x"], pdf["rings_y"])]
                yield pdf

        keyed = with_area.mapInPandas(
            keys_stage,
            schema=T.StructType(with_area.schema.fields +
                                [T.StructField("__ring_keys",
                                               T.ArrayType(T.LongType()))]))
        keyed = keyed.withColumn("__fid", F.xxhash64("rings_x", "rings_y"))
        ring_rows = keyed.select(
            "__fid", F.explode(F.arrays_zip(
                F.col("__ring_keys").alias("rk"),
                F.col("ring_areas").alias("a"))).alias("z")) \
            .select("__fid", F.col("z.rk").alias("rk"), F.col("z.a").alias("a"))
        hole_keys_df = ring_rows.filter(F.col("a") < 0).select("rk").distinct()
        # which of each feature's island keys serve as hole keys elsewhere
        hits = (ring_rows.filter(F.col("a") > 0)
                .join(hole_keys_df, "rk")
                .groupBy("__fid").agg(F.collect_set("rk").alias("__hole_hits")))
        with_area = (keyed.join(hits, "__fid", "left")
                     .drop("__fid"))
    else:
        with_area = (with_area
                     .withColumn("__ring_keys",
                                 F.lit(None).cast(T.ArrayType(T.LongType())))
                     .withColumn("__hole_hits",
                                 F.lit(None).cast(T.ArrayType(T.LongType()))))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                holes = set(rec["__hole_hits"]) if rec["__hole_hits"] is not None else set()
                ring_keys = rec["__ring_keys"]
                rings = list(zip(rec["rings_x"], rec["rings_y"], rec["ring_areas"]))
                keep_x, keep_y = [], []
                keep_current = False
                for i, (rx, ry, a) in enumerate(rings):
                    if a > 0:
                        keep_current = True
                        removable = False
                        if min_area is not None and abs(a) < min_area:
                            removable = True
                        if min_vertices is not None and len(rx) - 1 < min_vertices:
                            removable = True
                        if removable:
                            # ringHasHoles: a sibling ring starting inside
                            # this ring protects it
                            rxa = np.asarray(rx)
                            rya = np.asarray(ry)
                            for j, (ox, oy, _oa) in enumerate(rings):
                                if i != j and KK.points_in_ring(
                                        np.asarray(ox[:1]), np.asarray(oy[:1]),
                                        rxa, rya)[0] == 1:
                                    removable = False
                                    break
                        if removable and ring_keys is not None and \
                                ring_keys[i] in holes:
                            removable = False  # donut protection
                        keep_current = not removable
                        if keep_current:
                            keep_x.append(rx)
                            keep_y.append(ry)
                    elif keep_current:
                        keep_x.append(rx)
                        keep_y.append(ry)
                if keep_x:
                    r2 = {k: v for k, v in rec.items()
                          if k not in ("ring_areas", "__ring_keys", "__hole_hits")}
                    r2["rings_x"] = keep_x
                    r2["rings_y"] = keep_y
                    rows.append(r2)
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return with_area.mapInPandas(gen, schema=df.schema)


def filter_slivers(df: DataFrame, min_area: float) -> DataFrame:
    """-filter-slivers: like filter-islands but tests every ring including
    holes (filter-slivers.js applies the sliver test per ring)."""
    with_area = ring_areas_col(df)
    out_cols = [f.name for f in df.schema.fields]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                keep_x = [rx for rx, a in zip(rec["rings_x"], rec["ring_areas"])
                          if abs(a) >= min_area]
                keep_y = [ry for ry, a in zip(rec["rings_y"], rec["ring_areas"])
                          if abs(a) >= min_area]
                if keep_x:
                    r2 = {k: v for k, v in rec.items() if k != "ring_areas"}
                    r2["rings_x"] = keep_x
                    r2["rings_y"] = keep_y
                    rows.append(r2)
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return with_area.mapInPandas(gen, schema=df.schema)


# ---------------------------------------------------------------------------
# -points variants
# ---------------------------------------------------------------------------

def points_from_centroids(df: DataFrame, x: str = "cx", y: str = "cy") -> DataFrame:
    """-points (default): polygon centroid of the largest ring
    (mapshaper-points.js:152, getShapeCentroid -> largest ring,
    polygon-centroid.js:3-5)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cxs, cys = [], []
            for rxs, rys in zip(pdf["rings_x"], pdf["rings_y"]):
                best = None
                best_area = 0.0  # getMaxPath: maxArea starts 0, strict >
                for rx, ry in zip(rxs, rys):
                    rx = np.asarray(rx, dtype=np.float64)
                    ry = np.asarray(ry, dtype=np.float64)
                    if len(rx) == 0:
                        continue
                    # "largest" ring = largest BOUNDING-BOX area, not ring
                    # area (shape-geom.js:28-38 getSimpleShapeBounds.area())
                    a = (float(rx.max()) - float(rx.min())) * \
                        (float(ry.max()) - float(ry.min()))
                    if a > best_area:
                        best_area = a
                        best = (rx, ry)
                cx, cy = K.path_centroid(*best) if best is not None else (None, None)
                cxs.append(cx)
                cys.append(cy)
            pdf = pdf.copy()
            pdf[x] = cxs
            pdf[y] = cys
            yield pdf

    schema = T.StructType(df.schema.fields + [T.StructField(x, T.DoubleType()),
                                              T.StructField(y, T.DoubleType())])
    return df.mapInPandas(gen, schema=schema)


def points_from_columns(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """-points x= y= (points.js:163+): numeric columns -> point coords."""
    return df.withColumn("x", F.col(x_col).cast("double")) \
             .withColumn("y", F.col(y_col).cast("double"))


def points_vertices(df: DataFrame, key: str) -> DataFrame:
    """-points vertices (pointsFromVertices, mapshaper-points.js:96-121):
    every vertex of the shape in traversal order, deduped per shape by
    EXACT coordinate, first occurrence kept — that drops a ring's closing
    vertex but keeps the real endpoint of an open polyline (slicing off
    the last vertex per ring got the latter wrong) and also collapses
    vertices shared between parts, like the reference's coordinate index.
    Window partitioned by (shape, x, y): no global exchange."""
    from pyspark.sql.window import Window
    ring = (df.select(key, F.posexplode(F.arrays_zip(
        F.col("rings_x").alias("xs"), F.col("rings_y").alias("ys")))
        .alias("ring_idx", "r")))
    pts = ring.select(
        key, "ring_idx",
        F.posexplode(F.arrays_zip(
            F.col("r.xs").alias("x"), F.col("r.ys").alias("y"),
        )).alias("vertex_idx", "p"))
    w = Window.partitionBy(key, "p.x", "p.y").orderBy("ring_idx",
                                                      "vertex_idx")
    return (pts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
            .select(key, "ring_idx", "vertex_idx",
                    F.col("p.x").alias("x"), F.col("p.y").alias("y")))


def points_endpoints(df: DataFrame, key: str) -> DataFrame:
    """-points endpoints (polyline layers: first/last vertex per path)."""
    ring = (df.select(key, F.posexplode(F.arrays_zip(
        F.col("rings_x").alias("xs"), F.col("rings_y").alias("ys")))
        .alias("ring_idx", "r")))
    return ring.select(
        key, "ring_idx",
        F.element_at("r.xs", 1).alias("x0"), F.element_at("r.ys", 1).alias("y0"),
        F.element_at("r.xs", -1).alias("x1"), F.element_at("r.ys", -1).alias("y1"))


def points_interpolated(df: DataFrame, key: str, interval: float) -> DataFrame:
    """-points interpolated: walk each path emitting a point every
    ``interval`` of accumulated planar distance, including both endpoints
    (mapshaper-points.js:46-94 interpolatePointsAlongPath: fixed stride,
    remainder carried across segments)."""

    out_schema = T.StructType([df.schema[key],
                               T.StructField("seq", T.IntegerType()),
                               T.StructField("x", T.DoubleType()),
                               T.StructField("y", T.DoubleType())])

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ks, seqs, oxs, oys = [], [], [], []
            for k, rxs, rys in zip(pdf[key], pdf["rings_x"], pdf["rings_y"]):
                for rx, ry in zip(rxs, rys):
                    xs = np.asarray(rx, dtype=np.float64)
                    ys = np.asarray(ry, dtype=np.float64)
                    pts = _interpolate_path(xs, ys, interval)
                    for i, (px, py) in enumerate(pts):
                        ks.append(k)
                        seqs.append(i)
                        oxs.append(px)
                        oys.append(py)
            yield pd.DataFrame({key: ks, "seq": seqs, "x": oxs, "y": oys})

    return df.select(key, "rings_x", "rings_y").mapInPandas(gen, schema=out_schema)


def _interpolate_path(xs: np.ndarray, ys: np.ndarray, interval: float):
    """Port of interpolatePointsAlongPath / interpolatePointsAlongSegment
    (points.js:60-94): emit first vertex, then every ``interval`` of
    cumulative distance; always append the final vertex."""
    out = [(float(xs[0]), float(ys[0]))]
    elapsed = 0.0
    for i in range(1, len(xs)):
        ax, ay = xs[i - 1], ys[i - 1]
        bx, by = xs[i], ys[i]
        seg = float(np.hypot(bx - ax, by - ay))
        if seg == 0:
            continue
        pos = interval - elapsed
        while pos <= seg:
            t = pos / seg
            out.append((float(ax + (bx - ax) * t), float(ay + (by - ay) * t)))
            pos += interval
        elapsed = (elapsed + seg) % interval
    last = (float(xs[-1]), float(ys[-1]))
    if out[-1] != last:
        out.append(last)
    return out


# ---------------------------------------------------------------------------
# clip / erase (point layers) + bbox clipping
# ---------------------------------------------------------------------------

def clip_points(points: DataFrame, x: str, y: str, polys_rings: DataFrame,
                poly_key: str, bbox: Sequence[float] = None, res: int = 8,
                erase: bool = False, cache_token: str | None = None) -> DataFrame:
    """-clip / -erase on a point layer (point-clipping.js:7-27): keep points
    inside any clip polygon (clip) or inside none (erase). Boundary counts
    as inside, matching testPointInPolygon."""
    from mapshaper_spark.operators.spatial import pip_join
    pt_cols = points.columns
    # membership joins go through a synthetic row id: joining on all point
    # columns is null-UNSAFE (a point with any null attribute never
    # anti-matches and survives -erase) and collapses genuinely duplicated
    # input rows via distinct()
    work = points.withColumn("__ptid", F.monotonically_increasing_id())
    work = work.localCheckpoint()  # pin ids: referenced twice below
    hits = (pip_join(work, x, y, polys_rings, poly_key, bbox=bbox, res=res,
                     cache_token=cache_token)
            .select("__ptid").distinct())
    how = "left_anti" if erase else "left_semi"
    return work.join(hits, "__ptid", how).select(*pt_cols)


def clip_bbox_points(points: DataFrame, x: str, y: str,
                     bbox: Sequence[float], erase: bool = False) -> DataFrame:
    """Rectangular fast path (bbox-clipping.js): pure column predicate."""
    xmin, ymin, xmax, ymax = bbox
    inside = ((F.col(x) >= xmin) & (F.col(x) <= xmax) &
              (F.col(y) >= ymin) & (F.col(y) <= ymax))
    return points.filter(~inside if erase else inside)


def clip_bbox_paths(df: DataFrame, bbox: Sequence[float]) -> DataFrame:
    """Clip polyline features to a bbox: per-ring Sutherland-Hodgman-style
    segment clipping (each path split where it crosses the rect; emitted as
    one row per resulting sub-path). Features wholly outside are dropped;
    wholly-inside paths pass through untouched (bbox pre-filter is a pure
    column predicate, so Catalyst prunes before the UDF)."""
    xmin, ymin, xmax, ymax = bbox
    b = F.col("bbox")
    candidates = df.filter((b["xmin"] <= xmax) & (b["xmax"] >= xmin) &
                           (b["ymin"] <= ymax) & (b["ymax"] >= ymin))

    out_schema = df.schema

    def clip_path(xs, ys):
        """Split one path into the sub-paths inside the rect, clipping
        crossing segments to the boundary."""
        paths = []
        cur_x, cur_y = [], []

        def inside(px, py):
            return xmin <= px <= xmax and ymin <= py <= ymax

        def clip_seg(ax, ay, bx, by):
            """Liang-Barsky: returns (t0, t1) param range inside rect or None."""
            dx, dy = bx - ax, by - ay
            t0, t1 = 0.0, 1.0
            for p, q in ((-dx, ax - xmin), (dx, xmax - ax),
                         (-dy, ay - ymin), (dy, ymax - ay)):
                if p == 0:
                    if q < 0:
                        return None
                    continue
                r = q / p
                if p < 0:
                    if r > t1:
                        return None
                    t0 = max(t0, r)
                else:
                    if r < t0:
                        return None
                    t1 = min(t1, r)
            return t0, t1

        for i in range(1, len(xs)):
            ax, ay, bx, by = xs[i - 1], ys[i - 1], xs[i], ys[i]
            rng = clip_seg(ax, ay, bx, by)
            if rng is None:
                if cur_x:
                    paths.append((cur_x, cur_y))
                    cur_x, cur_y = [], []
                continue
            t0, t1 = rng
            sx, sy = ax + (bx - ax) * t0, ay + (by - ay) * t0
            ex, ey = ax + (bx - ax) * t1, ay + (by - ay) * t1
            if not cur_x or (cur_x[-1], cur_y[-1]) != (sx, sy):
                if cur_x:
                    paths.append((cur_x, cur_y))
                cur_x, cur_y = [sx], [sy]
            cur_x.append(ex)
            cur_y.append(ey)
            if t1 < 1.0:
                paths.append((cur_x, cur_y))
                cur_x, cur_y = [], []
        if cur_x:
            paths.append((cur_x, cur_y))
        return paths

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                new_x, new_y = [], []
                for rx, ry in zip(rec["rings_x"], rec["rings_y"]):
                    for px, py in clip_path(list(rx), list(ry)):
                        if len(px) >= 2:
                            new_x.append(px)
                            new_y.append(py)
                if new_x:
                    rec = dict(rec)
                    rec["rings_x"] = new_x
                    rec["rings_y"] = new_y
                    allx = np.concatenate([np.asarray(r) for r in new_x])
                    ally = np.concatenate([np.asarray(r) for r in new_y])
                    rec["bbox"] = {"xmin": float(allx.min()), "ymin": float(ally.min()),
                                   "xmax": float(allx.max()), "ymax": float(ally.max())}
                    rows.append(rec)
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return candidates.mapInPandas(gen, schema=out_schema)


def repair_ring_nesting(df: DataFrame) -> DataFrame:
    """Fix hole/ring winding nesting (the reference's fixNestingErrors,
    /root/reference/src/paths/mapshaper-ring-nesting.js:8-33): a ring at even
    containment depth must wind CW (positive signed area), odd depth CCW
    (negative). Depth = number of *other* rings in the feature containing
    the ring's first vertex; mis-wound rings are reversed."""

    out_cols = [f.name for f in df.schema.fields]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                rings = [(np.asarray(rx, dtype=np.float64),
                          np.asarray(ry, dtype=np.float64))
                         for rx, ry in zip(rec["rings_x"], rec["rings_y"])]
                new_x, new_y = [], []
                for i, (rx, ry) in enumerate(rings):
                    depth = 0
                    for j, (ox, oy) in enumerate(rings):
                        if i == j:
                            continue
                        if K.points_in_ring(rx[:1], ry[:1], ox, oy)[0] == 1:
                            depth += 1
                    area = K.planar_path_area(rx, ry)
                    want_cw = depth % 2 == 0
                    if (area > 0) != want_cw and area != 0:
                        rx, ry = rx[::-1], ry[::-1]
                    new_x.append(rx.tolist())
                    new_y.append(ry.tolist())
                rec = dict(rec)
                rec["rings_x"] = new_x
                rec["rings_y"] = new_y
                rows.append(rec)
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(gen, schema=df.schema)


def _sutherland_hodgman(rx, ry, bbox, dedup=True):
    """Clip one ring against an axis-aligned rect (exact for rect clips; the
    convex-clip core of -clip's bbox fast path,
    /root/reference/src/clipping/mapshaper-bbox-clipping.js). Returns the
    clipped closed ring (possibly empty). ``dedup=False`` keeps the
    on-edge duplicate vertices S-H emits — required by the two-level
    mosaic's seam edge-cancel (overlay._sutherland_hodgman_exact)."""
    xmin, ymin, xmax, ymax = bbox
    pts = list(zip(rx, ry))
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]

    def clip_edge(points, inside, intersect):
        out = []
        n = len(points)
        for i in range(n):
            cur = points[i]
            prev = points[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    def ix(p, q, x):  # intersection with vertical line
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + (q[1] - p[1]) * t)

    def iy(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + (q[0] - p[0]) * t, y)

    pts = clip_edge(pts, lambda p: p[0] >= xmin, lambda p, q: ix(p, q, xmin))
    if pts:
        pts = clip_edge(pts, lambda p: p[0] <= xmax, lambda p, q: ix(p, q, xmax))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] >= ymin, lambda p, q: iy(p, q, ymin))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] <= ymax, lambda p, q: iy(p, q, ymax))
    if dedup:
        # a vertex exactly ON a clip edge makes intersect(prev, cur) == cur,
        # so S-H emits it twice — collapse consecutive duplicates
        # (incl. wraparound)
        out: list = []
        for p in pts:
            if not out or p != out[-1]:
                out.append(p)
        while len(out) > 1 and out[0] == out[-1]:
            out.pop()
        pts = out
    if len(pts) < 3:
        return [], []
    pts.append(pts[0])
    return [p[0] for p in pts], [p[1] for p in pts]


def clip_polygons_bbox(df: DataFrame, bbox: Sequence[float]) -> DataFrame:
    """-clip with a rectangular clip layer, applied to polygon features:
    every ring (outer and hole alike — Sutherland-Hodgman preserves the
    winding, so holes stay holes) is clipped to the rect; features clipped
    to nothing are dropped. Features wholly inside pass through untouched
    via a pure-JVM bbox predicate, so the Python stage only sees boundary
    features — the same interior-shortcut shape as the PIP join."""
    had_bbox = "bbox" in df.columns
    df = with_bbox(df)
    xmin, ymin, xmax, ymax = bbox
    b = F.col("bbox")
    touches = ((b["xmin"] <= xmax) & (b["xmax"] >= xmin) &
               (b["ymin"] <= ymax) & (b["ymax"] >= ymin))
    inside_all = ((b["xmin"] >= xmin) & (b["xmax"] <= xmax) &
                  (b["ymin"] >= ymin) & (b["ymax"] <= ymax))
    untouched = df.filter(touches & inside_all)
    boundary = df.filter(touches & ~inside_all)

    out_cols = [f.name for f in df.schema.fields]

    def _restart(rx, ry, cx, cy):
        """Rotate the clipped ring to begin at the earliest surviving
        input vertex — the reference's clip keeps original arc traversal
        order, so rings that lose only a corner keep their start point
        (clip-issues-test.js 'almost-parallel' expected coords)."""
        pts = list(zip(cx[:-1], cy[:-1]))
        where = {p: i for i, p in reversed(list(enumerate(pts)))}
        for p in zip(rx, ry):
            k = where.get(p)
            if k is not None:
                if k:
                    pts = pts[k:] + pts[:k]
                break
        pts.append(pts[0])
        return [p[0] for p in pts], [p[1] for p in pts]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                new_x, new_y = [], []
                for rx, ry in zip(rec["rings_x"], rec["rings_y"]):
                    cx, cy = _sutherland_hodgman(rx, ry, bbox)
                    if cx:
                        cx, cy = _restart(rx, ry, cx, cy)
                        new_x.append(cx)
                        new_y.append(cy)
                if new_x:
                    rec = dict(rec)
                    rec["rings_x"] = new_x
                    rec["rings_y"] = new_y
                    allx = np.concatenate([np.asarray(r) for r in new_x])
                    ally = np.concatenate([np.asarray(r) for r in new_y])
                    rec["bbox"] = {"xmin": float(allx.min()), "ymin": float(ally.min()),
                                   "xmax": float(allx.max()), "ymax": float(ally.max())}
                    rows.append(rec)
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    out = untouched.unionByName(boundary.mapInPandas(gen, schema=df.schema))
    return out if had_bbox else out.drop("bbox")


def slice_by_grid(df: DataFrame, cols: int, rows: int,
                  bbox: Sequence[float]) -> DataFrame:
    """-slice with a polygon-grid clip layer: every feature is clipped by
    every intersecting grid cell, producing one row per (feature, cell) —
    the vector side of raster<->vector tile assignment
    (/root/reference/src/commands/mapshaper-clip-erase.js:29-31 slice).
    Adds cell_id/cell_row/cell_col columns."""
    xmin, ymin, xmax, ymax = bbox
    w = (xmax - xmin) / cols
    h = (ymax - ymin) / rows
    b = F.col("bbox")
    c0 = F.greatest(F.lit(0), F.least(F.lit(cols - 1),
                                      F.floor((b["xmin"] - xmin) / F.lit(w)))).cast("int")
    c1 = F.greatest(F.lit(0), F.least(F.lit(cols - 1),
                                      F.floor((b["xmax"] - xmin) / F.lit(w) - F.lit(1e-12)))).cast("int")
    r0 = F.greatest(F.lit(0), F.least(F.lit(rows - 1),
                                      F.floor((b["ymin"] - ymin) / F.lit(h)))).cast("int")
    r1 = F.greatest(F.lit(0), F.least(F.lit(rows - 1),
                                      F.floor((b["ymax"] - ymin) / F.lit(h) - F.lit(1e-12)))).cast("int")
    cand = (df.withColumn("cell_row", F.explode(F.sequence(r0, r1)))
            .withColumn("cell_col", F.explode(F.sequence(c0, c1))))

    out_schema = T.StructType(df.schema.fields +
                              [T.StructField("cell_row", T.IntegerType()),
                               T.StructField("cell_col", T.IntegerType())])
    out_cols = [f.name for f in out_schema.fields]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows_out = []
            for rec in pdf.to_dict("records"):
                cx0 = xmin + rec["cell_col"] * w
                cy0 = ymin + rec["cell_row"] * h
                cell = (cx0, cy0, cx0 + w, cy0 + h)
                new_x, new_y = [], []
                for rx, ry in zip(rec["rings_x"], rec["rings_y"]):
                    sx, sy = _sutherland_hodgman(rx, ry, cell)
                    if sx:
                        new_x.append(sx)
                        new_y.append(sy)
                if new_x:
                    rec = dict(rec)
                    rec["rings_x"] = new_x
                    rec["rings_y"] = new_y
                    allx = np.concatenate([np.asarray(r) for r in new_x])
                    ally = np.concatenate([np.asarray(r) for r in new_y])
                    rec["bbox"] = {"xmin": float(allx.min()), "ymin": float(ally.min()),
                                   "xmax": float(allx.max()), "ymax": float(ally.max())}
                    rows_out.append(rec)
            if rows_out:
                yield pd.DataFrame(rows_out, columns=out_cols)

    return cand.mapInPandas(gen, schema=out_schema)


def points_inner(df: DataFrame, x: str = "ix", y: str = "iy") -> DataFrame:
    """-points inner / $.innerX,$.innerY — the reference's anchor point
    (faithful findAnchorPoint2 port, see _find_anchor_point below):
    vertical-slice midpoint candidates focused around the centroid,
    weighted edge distance, vertical hill-climb + refinement probe.
    Collapsed shapes yield null coordinates (the reference converts them
    to null geometries)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            oxs, oys = [], []
            for rxs, rys in zip(pdf["rings_x"], pdf["rings_y"]):
                p = _find_anchor_point(list(zip(rxs, rys)))
                if p is None:
                    oxs.append(None)
                    oys.append(None)
                else:
                    oxs.append(float(p[0]))
                    oys.append(float(p[1]))
            pdf = pdf.copy()
            pdf[x] = oxs
            pdf[y] = oys
            yield pdf

    schema = T.StructType(df.schema.fields + [T.StructField(x, T.DoubleType()),
                                              T.StructField(y, T.DoubleType())])
    return df.mapInPandas(gen, schema=schema)


def calc_max_sliver_area(arcs: DataFrame) -> float:
    """Default sliver-area threshold: (mean segment length)^2 over segments
    shorter than half the dataset extent in each axis (the reference's
    bounding-box-segment exclusion, filter-slivers.js:73-88). Distributed:
    one agg over exploded segments."""
    xmin, ymin, xmax, ymax = bounds(arcs)
    dx_max = (xmax - xmin) / 2.0
    dy_max = (ymax - ymin) / 2.0
    n = F.size("xs")
    # <2-vertex arcs have no segments; sequence(2, n) turns DESCENDING for
    # them and element_at(_, 0) is a runtime error
    seg = arcs.filter(n >= 2) \
        .select(F.explode(F.sequence(F.lit(2), n)).alias("i"), "xs", "ys")
    dx = F.abs(F.element_at("xs", F.col("i")) - F.element_at("xs", F.col("i") - 1))
    dy = F.abs(F.element_at("ys", F.col("i")) - F.element_at("ys", F.col("i") - 1))
    kept = seg.select(dx.alias("dx"), dy.alias("dy")) \
        .filter((F.col("dx") < dx_max) & (F.col("dy") < dy_max))
    row = kept.agg(F.avg(F.sqrt(F.col("dx") ** 2 + F.col("dy") ** 2)).alias("m")).collect()[0]
    mean = float(row.m or 0.0)
    return mean * mean


def stitch(features: DataFrame, e: float = 1e-10) -> DataFrame:
    """-stitch (/root/reference/src/commands/mapshaper-stitch.js:11-37):
    remove antimeridian/pole cuts in an unprojected dataset. Two stages:

    1. snapEdgeArcs (stitch.js:55-84), pure JVM array transforms: vertices
       with lng <= -180+e or >= 180-e snap to lng=-180; vertices at the
       poles snap to (-180, ±90);
    2. features that touch the world edge get their rings re-merged by
       exact shared-edge cancellation + stitch (the coincident seam along
       the antimeridian appears once per half and cancels) — the planar
       stand-in for the reference's spherical dissolver (its own
       pathfinding-on-sphere is marked TODO in the source).

    Non-edge features pass through untouched via a JVM predicate."""
    from mapshaper_spark.operators.overlay import _merge_faces

    xs, ys = F.col("rings_x"), F.col("rings_y")
    snap_x = F.transform(
        xs, lambda ring, i: F.zip_with(
            ring, F.element_at(ys, i + 1),
            lambda x, y: F.when(
                (x <= F.lit(-180.0 + e)) | (x >= F.lit(180.0 - e)) |
                (y <= F.lit(-90.0 + e)) | (y >= F.lit(90.0 - e)),
                F.lit(-180.0)).otherwise(x)))
    snap_y = F.transform(
        ys, lambda ring: F.transform(
            ring, lambda y: F.when(y <= F.lit(-90.0 + e), F.lit(-90.0))
                             .when(y >= F.lit(90.0 - e), F.lit(90.0))
                             .otherwise(y)))
    snapped = (features.withColumn("rings_x", snap_x)
               .withColumn("rings_y", snap_y))
    on_edge = F.exists(
        F.col("rings_x"),
        lambda ring: F.exists(ring, lambda x: x == F.lit(-180.0)))
    pass_through = snapped.filter(~on_edge)
    edge = snapped.filter(on_edge)

    out_cols = [f.name for f in features.schema.fields]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                faces = [[(list(rx), list(ry))]
                         for rx, ry in zip(rec["rings_x"], rec["rings_y"])]
                merged = _merge_faces(faces)
                rec = dict(rec)
                if merged:
                    rec["rings_x"] = [m[0] for m in merged]
                    rec["rings_y"] = [m[1] for m in merged]
                if "bbox" in rec and rec["rings_x"]:
                    allx = np.concatenate([np.asarray(r) for r in rec["rings_x"]])
                    ally = np.concatenate([np.asarray(r) for r in rec["rings_y"]])
                    rec["bbox"] = {"xmin": float(allx.min()), "ymin": float(ally.min()),
                                   "xmax": float(allx.max()), "ymax": float(ally.max())}
                rows.append(rec)
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return pass_through.unionByName(edge.mapInPandas(gen, schema=features.schema))


def _find_anchor_point(rings):
    """Faithful port of internal.findAnchorPoint2
    (/root/reference/src/points/mapshaper-anchor-points.js:38-76): vertical
    ray intersections at tics across a centroid-focused x-window, midpoint
    candidates sorted by weighted half-interval, vertical hill-climb with
    the 0.90 local-minima tolerance, then a refinement probe around the
    winner. (The reference's fast-simplify pre-pass is skipped — our
    kernels receive assembled rings; its only effect is speed, with a
    documented rare-placement caveat in the reference source itself.)
    Returns (x, y) or None for collapsed shapes."""
    np_rings = [(np.asarray(rx, dtype=np.float64),
                 np.asarray(ry, dtype=np.float64)) for rx, ry in rings]
    if not np_rings:
        return None
    # getMaxPath picks the ring with the largest BBOX area (strict >, so
    # all-degenerate shapes select nothing; shape-geom.js:28-38)
    max_i, best_bb = None, 0.0
    for i, (rx, ry) in enumerate(np_rings):
        if len(rx) == 0:
            continue
        bb = (float(rx.max()) - float(rx.min())) * \
            (float(ry.max()) - float(ry.min()))
        if bb > best_bb:
            best_bb = bb
            max_i = i
    if max_i is None:
        return None
    mrx, mry = np_rings[max_i]
    area = abs(K.planar_path_area(mrx, mry))
    bx0, bx1 = float(mrx.min()), float(mrx.max())
    by0, by1 = float(mry.min()), float(mry.max())
    width, height = bx1 - bx0, by1 - by0
    if width <= 0 or height <= 0 or area == 0:
        return None
    c = K.path_centroid(mrx, mry)
    cx, cy = float(c[0]), float(c[1])
    ref_dist = max(width, height) / 2.0

    def weight(x, y):
        off = float(np.hypot(cx - x, cy - y))
        return 1.0 - min(0.6 * off / ref_dist, 0.25)

    single = len(np_rings) == 1
    if single and area * 1.2 > width * height:
        htics, focus = 5, 0.2
    elif single and area * 1.7 > width * height:
        htics, focus = 7, 0.4
    else:
        htics, focus = 11, 0.5
    hrange = width * focus
    lbound = cx - hrange / 2.0
    rbound = lbound + hrange
    hstep = hrange / htics

    def ray_intersections(x):
        """y-intercepts of the vertical line at x with every ring; a ring
        contributing an odd count is skipped (touch, not cross) —
        findRayRingIntersections."""
        out = []
        for rx, ry in np_rings:
            ax, ay = rx[:-1], ry[:-1]
            bx, by_ = rx[1:], ry[1:]
            # getRayIntersection: segment straddles x (half-open rule)
            hit = ((ax < x) & (bx >= x)) | ((bx < x) & (ax >= x))
            if not hit.any():
                ys = []
            else:
                t = (x - ax[hit]) / (bx[hit] - ax[hit])
                ys = (ay[hit] + t * (by_[hit] - ay[hit])).tolist()
            if len(ys) % 2 == 1:
                continue
            out.extend(ys)
        return sorted(out)

    def dist_to_shape(x, y):
        return float(np.sqrt(min(
            K.point_to_path_dist_sq(x, y, rx, ry) for rx, ry in np_rings)))

    def inside(x, y):
        return bool(K.points_in_polygon(np.array([x]), np.array([y]),
                                        np_rings)[0])

    def probe(lb, rb, tics_n):
        step = (rb - lb) / (tics_n + 1)
        tics = [lb + step * i for i in range(1, tics_n + 1)]
        cands = []
        for x in tics:
            yy = ray_intersections(x)
            for i in range(0, len(yy) - 1, 2):
                interval = (yy[i + 1] - yy[i]) / 2.0
                if interval > 0:
                    y = (yy[i] + yy[i + 1]) / 2.0
                    cands.append([x, y, interval * weight(x, y)])
        cands.sort(key=lambda p: -p[2])
        vstep = (rb - lb) / tics_n if tics_n else 0.0
        best = None
        for x, y, wint in cands:
            if best is not None and best[2] > wint:
                break
            d = dist_to_shape(x, y) * weight(x, y)
            p = [x, y, d]
            for sgn in (1.0, -1.0):  # scanForBetterPoint up/down
                yy2 = y
                dmax = p[2]
                while True:
                    yy2 += sgn * vstep
                    d2 = dist_to_shape(x, yy2) * weight(x, yy2)
                    if d2 > dmax * 0.90 and inside(x, yy2):
                        if d2 > dmax:
                            p = [x, yy2, d2]
                            dmax = d2
                    else:
                        break
            if best is None or p[2] > best[2]:
                best = p
        return best

    p = probe(lbound, rbound, htics)
    if p is None:
        return cx, cy  # fallback to centroid, like the reference
    p2 = probe(p[0] - hstep / 2.0, p[0] + hstep / 2.0, 2)
    if p2 is not None and p2[2] > p[2]:
        p = p2
    return p[0], p[1]
