"""Distributed spatial joins: point-in-polygon, polygon<-points, buffered
nearest-point (kNN), bbox filter.

Replaces the reference's in-memory R-tree candidate pruning
(/root/reference/src/paths/mapshaper-path-index.js:8-34) with a Morton-cell
equi-join, and its per-candidate ray cast
(/root/reference/src/commands/mapshaper-spatial-join.js:69-78 ->
geom.testPointInPolygon) with ``pip_inside_expr``, the same ray cast as a
JVM higher-order-function filter.

A polygon layer's index (``PolygonIndex``) is its cell cover: one row per
(polygon, cell) touching the polygon, ``full`` when the cell lies wholly
inside, otherwise carrying the cell's strip segments for the exact verify.
Wholly-outside cells are dropped, and points in full cells skip the ray
cast (the role of the reference's per-polygon PolygonIndex,
mapshaper-path-index.js:140-150). One kernel builds the cover: on the
driver for a tiny layer, per Arrow batch in ``mapInPandas`` for a large one.

Scale notes (100 TB posture):
- the point side never shuffles on the broadcast path: its cell key is
  computed with JVM bitwise ops, the join is a BroadcastHashJoin, and the
  verify is a whole-stage-codegen filter — no Python on the point side;
- beyond the broadcast limit the cover is shuffle-joined on cell, with hot
  cells salted (``salted_cell_join``) and AQE skew splitting for the rest;
- an index built under a cache token is persisted once and reused, like any
  broadcast dimension table.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark.geom import cells as CE
from mapshaper_spark.geom import kernels as K


def classify_cover_cells(rings, bb, bbox: Sequence[float], res: int):
    """Classify the cells covering one polygon's bbox into interior cells
    (wholly inside — points there need no ray cast) and boundary cells (some
    polygon segment may touch them — exact verify required). Cells wholly
    outside are dropped, so they never generate candidate pairs.

    Exactness argument: a cell whose *closed* rect intersects no segment
    bbox intersects no segment, hence lies uniformly inside or outside; its
    center's even-odd classification then holds for every point in the cell.

    Returns (interior_cells, boundary_cells) as int lists.
    """
    wxmin, wymin, wxmax, wymax = bbox
    n = 1 << res
    cw = (wxmax - wxmin) / n
    ch = (wymax - wymin) / n
    ix0 = int(CE.scaled_int_np(np.array([bb["xmin"]]), wxmin, wxmax, res)[0])
    ix1 = int(CE.scaled_int_np(np.array([bb["xmax"]]), wxmin, wxmax, res)[0])
    iy0 = int(CE.scaled_int_np(np.array([bb["ymin"]]), wymin, wymax, res)[0])
    iy1 = int(CE.scaled_int_np(np.array([bb["ymax"]]), wymin, wymax, res)[0])
    ncx = ix1 - ix0 + 1
    ncy = iy1 - iy0 + 1
    is_boundary = np.zeros((ncy, ncx), dtype=bool)
    for rx, ry in rings:
        ax, ay = rx[:-1], ry[:-1]
        bx, by = rx[1:], ry[1:]
        sxmin = np.minimum(ax, bx)
        sxmax = np.maximum(ax, bx)
        symin = np.minimum(ay, by)
        symax = np.maximum(ay, by)
        # cell index ranges each segment bbox touches (closed-rect overlap)
        cx0 = np.clip(np.floor((sxmin - wxmin) / cw).astype(np.int64), ix0, ix1) - ix0
        cx1 = np.clip(np.floor((sxmax - wxmin) / cw).astype(np.int64), ix0, ix1) - ix0
        cy0 = np.clip(np.floor((symin - wymin) / ch).astype(np.int64), iy0, iy1) - iy0
        cy1 = np.clip(np.floor((symax - wymin) / ch).astype(np.int64), iy0, iy1) - iy0
        # a segment endpoint exactly on a cell's left/bottom edge also touches
        # the previous (closed) cell
        cx0 = np.where((sxmin - wxmin) / cw == np.floor((sxmin - wxmin) / cw),
                       np.maximum(cx0 - 1, 0), cx0)
        cy0 = np.where((symin - wymin) / ch == np.floor((symin - wymin) / ch),
                       np.maximum(cy0 - 1, 0), cy0)
        for a, b, c, d in zip(cy0, cy1, cx0, cx1):
            is_boundary[a:b + 1, c:d + 1] = True
    iys, ixs = np.nonzero(~is_boundary)
    interior: list[int] = []
    if len(ixs):
        cx = wxmin + (ixs + ix0 + 0.5) * cw
        cy = wymin + (iys + iy0 + 0.5) * ch
        inside = K.points_in_polygon(cx, cy, rings)
        interior = CE.encode_ixy_np((ixs[inside] + ix0).astype(np.uint64),
                                    (iys[inside] + iy0).astype(np.uint64)).tolist()
    bys, bxs = np.nonzero(is_boundary)
    boundary = CE.encode_ixy_np((bxs + ix0).astype(np.uint64),
                                (bys + iy0).astype(np.uint64)).tolist()
    return interior, boundary


def strip_segments_batch(rings, cell_ixs, cell_iys, bbox: Sequence[float], res: int):
    """Per boundary cell (cell_ixs[i], cell_iys[i]), the per-ring segments
    an upward ray from a point in the cell may cross or touch: x-range
    overlapping the cell's closed x-range, ymax >= the cell's ymin. Even-odd
    counts over the subset are exact — the reference's x-bucketed
    PolygonIndex (mapshaper src/paths/mapshaper-polygon-index.js:6-90),
    keyed by cell. Segments are {ax, ay, bx, by} dicts."""
    wxmin, wymin, wxmax, wymax = bbox
    n = 1 << res
    cw = (wxmax - wxmin) / n
    ch = (wymax - wymin) / n
    cix = np.asarray(cell_ixs, dtype=np.int64)
    ciy = np.asarray(cell_iys, dtype=np.int64)
    cx0 = wxmin + cix * cw
    cx1 = cx0 + cw
    cy0 = wymin + ciy * ch
    m = len(cix)
    out = [[] for _ in range(m)]
    for rx, ry in rings:
        ax, ay = rx[:-1], ry[:-1]
        bx, by = rx[1:], ry[1:]
        sxmin = np.minimum(ax, bx)
        sxmax = np.maximum(ax, bx)
        symax = np.maximum(ay, by)
        keep = ((sxmin[None, :] <= cx1[:, None]) &
                (sxmax[None, :] >= cx0[:, None]) &
                (symax[None, :] >= cy0[:, None]))
        segs = np.stack([ax, ay, bx, by], axis=1)
        for ci in range(m):
            out[ci].append([{"ax": a, "ay": b, "bx": c, "by": d}
                            for a, b, c, d in segs[keep[ci]].tolist()])
    return out


def pip_inside_expr(px: F.Column, py: F.Column, segs: F.Column) -> F.Column:
    """testPointInPolygon as a pure Spark SQL expression over a
    ``array<array<struct<ax,ay,bx,by>>>`` per-ring segment column — the
    whole-stage-codegen form of the reference ray cast
    (/root/reference/src/geom/mapshaper-shape-geom.js:68-82,145-223):
    on-boundary => inside; even-odd XOR across rings; the endpoint
    tie-break rules copied verbatim (hit only below the *rightmost*
    endpoint)."""

    def seg_parts(s):
        ax, ay, bx, by = s["ax"], s["ay"], s["bx"], s["by"]
        miss = (((px < ax) & (px < bx)) | ((px > ax) & (px > bx)) |
                ((py > ay) & (py > by)))
        eq_a = px == ax
        eq_b = px == bx
        y_int = ay + (px - ax) * (by - ay) / (bx - ax)
        crossing = (
            (eq_a & ~eq_b & (py != ay) & (bx < ax) & (py < ay)) |
            (eq_b & ~eq_a & (py != by) & (ax < bx) & (py < by)) |
            (~eq_a & ~eq_b & (y_int > py)))
        on_b = (
            (eq_a & eq_b & ((py == ay) | (py == by) | ((py > ay) != (py > by)))) |
            (eq_a & ~eq_b & (py == ay)) |
            (eq_b & ~eq_a & (py == by)) |
            (~eq_a & ~eq_b & (y_int == py)))
        return miss, crossing, on_b

    def ring_crossing_odd(ring):
        cnt = F.size(F.filter(ring, lambda s: _safe(seg_parts(s), 1)))
        return cnt % 2 == 1

    def _safe(parts, which):
        miss, crossing, on_b = parts
        sel = crossing if which == 1 else on_b
        return F.coalesce(~miss & sel, F.lit(False))

    on_any = F.exists(segs, lambda ring: F.exists(ring, lambda s: _safe(seg_parts(s), 2)))
    inside = F.aggregate(segs, F.lit(False),
                         lambda acc, ring: acc != ring_crossing_odd(ring))
    return F.coalesce(on_any | inside, F.lit(False))


def _cover_schema(polys_rings: DataFrame, key: str) -> T.StructType:
    seg = T.StructType([T.StructField(f, T.DoubleType()) for f in ("ax", "ay", "bx", "by")])
    return (T.StructType([polys_rings.schema[key]]).add("cell", T.LongType())
            .add("full", T.BooleanType()).add("segs", T.ArrayType(T.ArrayType(seg))))


def _cover_batch(polys: Iterable, bbox: Sequence[float], res: int) -> tuple:
    """The cover kernel: (key, bbox, rings_x, rings_y) polygons -> the
    columns (key, cell, full, segs) of their cover rows."""
    keys, cells, full, segs = cols = ([], [], [], [])
    for k, bb, rxs, rys in polys:
        rings = [(np.asarray(rx, dtype=np.float64), np.asarray(ry, dtype=np.float64))
                 for rx, ry in zip(rxs, rys)]
        interior, boundary = classify_cover_cells(rings, bb, bbox, res)
        bx, by = CE.decode_np(np.array(boundary, dtype=np.int64))
        keys += [k] * (len(interior) + len(boundary))
        cells += interior + boundary
        full += [True] * len(interior) + [False] * len(boundary)
        segs += [None] * len(interior) + strip_segments_batch(rings, bx, by, bbox, res)
    return cols


def polygon_cell_cover(polys_rings: DataFrame, key: str, bbox: Sequence[float],
                       res: int) -> DataFrame:
    """The (key, cell, full, segs) cover rows of assembled polygons
    (rings_x/rings_y + bbox struct) at ``res``, built distributed: one
    _cover_batch call per Arrow batch."""
    schema = _cover_schema(polys_rings, key)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = _cover_batch(zip(pdf[key], pdf["bbox"], pdf["rings_x"], pdf["rings_y"]),
                                bbox, res)
            yield pd.DataFrame(dict(zip(schema.names, cols)))

    return (polys_rings.select(key, "bbox", "rings_x", "rings_y")
            .mapInPandas(gen, schema=schema))


class PolygonIndex:
    """The index of one polygon layer at one grid resolution — the
    distributed counterpart of the reference's PathIndex
    (mapshaper src/paths/mapshaper-path-index.js:8-34): the layer's
    facts, ``rows`` and the grid ``bbox`` (as given, else the layer's
    extent), with its ``cover``. A layer of at most LOCAL_LIMIT rows is
    covered on the driver, without spawning Python workers; a larger one by
    polygon_cell_cover. Both run _cover_batch, so the rows are the same.
    With ``persist`` the cover is persisted and materialized, so every later
    join reads the cache (a driver-built cover too: kept as a local relation
    it was measured slower per warm query, the driver re-serializing it into
    each broadcast); otherwise it stays lazy."""

    LOCAL_LIMIT = 200

    def __init__(self, spark, polys_rings: DataFrame, poly_key: str,
                 bbox: Sequence[float] | None, res: int, persist: bool):
        from mapshaper_spark.operators.overlay import _ensure_bbox
        polys = _ensure_bbox(polys_rings)
        extent = [] if bbox is not None else [
            F.min("bbox.xmin"), F.min("bbox.ymin"), F.max("bbox.xmax"), F.max("bbox.ymax")]
        facts = polys.agg(F.count(F.lit(1)), *extent).collect()[0]
        self.rows = facts[0]
        if bbox is None and facts[1] is None:  # empty polygon side: no pairs
            from mapshaper_spark.layers import DEFAULT_BBOX
            bbox = DEFAULT_BBOX
        elif bbox is None:
            xmin, ymin, xmax, ymax = map(float, facts[1:])
            bbox = (xmin, ymin, max(xmax, xmin + 1e-9), max(ymax, ymin + 1e-9))
        self.bbox = tuple(bbox)
        self.res = res
        if self.rows <= self.LOCAL_LIMIT:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema
            schema = _cover_schema(polys, poly_key)
            cols = _cover_batch(polys.select(poly_key, "bbox", "rings_x", "rings_y").collect(),
                                self.bbox, res)
            cover = spark.createDataFrame(
                pa.table(dict(zip(schema.names, cols)), schema=to_arrow_schema(schema)))
        else:
            cover = polygon_cell_cover(polys, poly_key, self.bbox, res)
        if persist:
            cover = cover.persist()
            cover.count()  # materialize now so every later join is a read
        self.cover = cover

    def candidates(self, points: DataFrame, x: str, y: str,
                   broadcast: bool) -> DataFrame:
        """The join tail: points keyed by Morton cell, joined to the cover
        by broadcast or salted shuffle. Adds poly key, ``full``, ``segs``."""
        pts = points.withColumn("cell", CE.morton_col(F.col(x), F.col(y), self.bbox, self.res))
        if broadcast:
            return pts.join(F.broadcast(self.cover), "cell").drop("cell")
        return salted_cell_join(pts, self.cover).drop("cell")


def polygon_index(points_spark, polys_rings: DataFrame, poly_key: str,
                  bbox: Sequence[float] | None, res: int,
                  cache_token: str | None = None) -> PolygonIndex:
    """The PolygonIndex of a polygon layer. With a ``cache_token`` it is
    looked up first, so a hit runs no Spark job, and a miss is built
    persisted and kept; without one it is built unpersisted. The cache is
    held on the SparkContext object and goes with it, so a later context
    never gets an index whose persisted frames belong to a stopped one."""
    if cache_token is None:
        return PolygonIndex(points_spark, polys_rings, poly_key, bbox, res,
                            persist=False)
    cache = vars(points_spark.sparkContext).setdefault("_polygon_indexes", {})
    ck = (cache_token, poly_key, None if bbox is None else tuple(bbox), res)
    if ck not in cache:
        cache[ck] = PolygonIndex(points_spark, polys_rings, poly_key, bbox,
                                 res, persist=True)
    return cache[ck]


def pip_candidates(points: DataFrame, x: str, y: str, polys_rings: DataFrame,
                   poly_key: str, bbox: Sequence[float], res: int,
                   broadcast_polys: bool = True) -> DataFrame:
    """Candidate (point, polygon) pairs via Morton-cell equi-join; carries a
    ``full`` flag (candidate cell wholly inside the polygon -> no verify)."""
    idx = polygon_index(points.sparkSession, polys_rings, poly_key, bbox, res)
    return idx.candidates(points, x, y, broadcast_polys)


def pip_join(points: DataFrame, x: str, y: str, polys_rings: DataFrame,
             poly_key: str, bbox: Sequence[float] = None, res: int = 8,
             broadcast_polys: bool | str = "auto",
             cache_token: str | None = None,
             broadcast_limit: int = 100_000) -> DataFrame:
    """All (point, polygon) pairs where the point is inside or on the
    boundary of the polygon — the semantics of getPointToPolygonsFunction
    (mapshaper-spatial-join.js:69-78): *all* enclosing polygons, boundary
    counts as inside (testPointInPolygon, shape-geom.js:68-82). "auto"
    broadcasts a layer of at most ``broadcast_limit`` rows.

    Returns the points DataFrame columns + ``poly_key``.
    """
    idx = polygon_index(points.sparkSession, polys_rings, poly_key, bbox, res,
                        cache_token=cache_token)
    if bbox is None:
        # the grid is the polygon extent: it bounds all hits, and points
        # outside it would clamp into an edge cell, possibly a full=true
        # one, and pass without the exact verify
        xmin, ymin, xmax, ymax = idx.bbox
        points = points.filter(F.col(x).between(xmin, xmax) & F.col(y).between(ymin, ymax))
    if broadcast_polys == "auto":
        broadcast_polys = idx.rows <= broadcast_limit
    # interior cells (full=true) pass outright; boundary cells run the exact
    # ray cast over their strip segments in one codegen filter, no Python
    keep = F.col("full") | pip_inside_expr(F.col(x), F.col(y), F.col("segs"))
    return idx.candidates(points, x, y, broadcast_polys).filter(keep).drop("full", "segs")


def spatial_join_point_to_polygon(points: DataFrame, x: str, y: str,
                                  polys_rings: DataFrame, poly_key: str,
                                  point_key: str,
                                  copy_fields: Sequence[str] = (),
                                  sum_fields: Sequence[str] = (),
                                  bbox: Sequence[float] = None, res: int = 8,
                                  cache_token: str | None = None) -> DataFrame:
    """mapshaper ``-join`` point-method semantics on the point layer:
    copy-fields from the FIRST matching polygon (source order = poly index),
    sum-fields summed over all matches, plus a ``joins`` collision count
    (joinTables, mapshaper-join.js:93-141). Unmatched points keep null copy
    fields / 0 sums, like updateUnmatchedRecord (:171-174)."""
    pairs = pip_join(points, x, y, polys_rings, poly_key, bbox=bbox, res=res,
                     cache_token=cache_token)
    attrs = polys_rings.select(poly_key, *[f for f in set(list(copy_fields) + list(sum_fields))])
    pairs = pairs.join(F.broadcast(attrs), poly_key)
    # first-match = the min-poly_key row per point: min_by instead of a
    # window rank so the aggregation stays PARTIAL (map-side combine before
    # the exchange; a window would force a full sort-shuffle of every
    # candidate pair first — the pairs table is the biggest relation here)
    aggs = [F.count(F.lit(1)).alias("joins"),
            F.min(F.col(poly_key)).alias(f"first_{poly_key}")]
    for f in copy_fields:
        aggs.append(F.min_by(F.col(f), F.col(poly_key)).alias(f))
    for f in sum_fields:
        aggs.append(F.sum(f).alias(f"sum_{f}"))
    agg = pairs.groupBy(point_key).agg(*aggs)
    out = points.join(agg, point_key, "left").fillna({"joins": 0})
    # updateUnmatchedRecord zeroes SUM fields too (mapshaper-join.js:
    # 171-174); copy fields stay null
    if sum_fields:
        out = out.fillna({f"sum_{f}": 0 for f in sum_fields})
    return out


def polygon_to_points_join(points: DataFrame, x: str, y: str,
                           polys_rings: DataFrame, poly_key: str,
                           calc_aggs: Sequence[F.Column],
                           bbox: Sequence[float] = None, res: int = 8,
                           cache_token: str | None = None) -> DataFrame:
    """Polygon layer receives aggregates of its contained points
    (getPolygonToPointsFunction, mapshaper-spatial-join.js:42-64)."""
    pairs = pip_join(points, x, y, polys_rings, poly_key, bbox=bbox, res=res,
                     cache_token=cache_token)
    agg = pairs.groupBy(poly_key).agg(*calc_aggs)
    return polys_rings.drop("rings_x", "rings_y").join(agg, poly_key, "left")


def nearest_point_join(left: DataFrame, lx: str, ly: str, left_key: str,
                       right: DataFrame, rx: str, ry: str, right_key: str,
                       buffer: float = 1e-3,
                       bbox: Sequence[float] = None,
                       broadcast_limit: int = 1_000_000) -> DataFrame:
    """Nearest right-point within ``buffer`` for each left point — the
    semantics of PointIndex.findNearestPointFeature
    (mapshaper-point-index.js:4-25): strict-< scan in point order, so ties go
    to the lowest right id; squared-distance arithmetic matches exactly.

    That is knn_join with k=1 and max_radius=buffer, left-joined back so
    left rows without a neighbor keep null ``right_key``/``dist_sq``.
    """
    best = knn_join(left, lx, ly, left_key, right, rx, ry, right_key, k=1,
                    max_radius=buffer, bbox=bbox, broadcast_limit=broadcast_limit)
    return left.join(best.drop("knn_rank"), left_key, "left")


def salted_cell_join(points: DataFrame, cover: DataFrame) -> DataFrame:
    """Skew-safe equi-join on ``cell`` for the SHUFFLE path (north_rule:
    "salted repartitioning for hot-cell skew").

    Hot cells are detected from per-cell counts over a deterministic 2%
    sample of the points side: a cell is hot when its sampled count reaches
    max(2 x the 99.9th percentile, 16 x the mean, 20). Their point rows get
    a random-but-deterministic salt in [0, n_salts) appended to the join
    key, and the cover rows for those cells are replicated across every salt
    — the standard salted-join rewrite. n_salts is one per shuffle partition
    (spark.sql.shuffle.partitions), clamped to [8, 128]. Cold cells join on
    salt 0 with no replication, so the extra shuffle volume is bounded by
    |hot cover| * n_salts.

    (The broadcast path needs no salting — a broadcast hash join has no
    per-key partition to skew. AQE's skew-join handles residual imbalance;
    this handles the pathological single-key case AQE cannot split further
    because all rows share one key.)
    """
    # one salt per reducer: a 50%-hot key spread over only a few salts
    # under-parallelizes the verify stage (r5 skew-stress evidence)
    n_salts = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    n_salts = max(8, min(n_salts, 128))
    # hot-cell detection on a DETERMINISTIC 2% SAMPLE (r5): the full
    # points-side count was an extra whole-table scan — at 10^12 rows
    # that pass costs more than the skew it guards against. A key hot
    # enough to pin a reducer (>=10^5s of rows at any real scale) is
    # statistically certain to clear a sampled threshold; keys the
    # sample misses are by construction small enough for AQE's skew
    # handling. Fixed seed keeps the salting layout (never the join
    # RESULT) deterministic across retries.
    frac = 0.02
    counts = points.sample(False, frac, seed=42).groupBy("cell").count()
    stats = counts.agg(F.expr("percentile(count, 0.999)").alias("p"),
                       F.avg("count").alias("m")).collect()[0]
    hot_threshold = max(int((stats.p or 0) * 2), int((stats.m or 0) * 16),
                        max(int(1000 * frac), 10))
    hot = counts.filter(F.col("count") >= hot_threshold).select(
        "cell", F.lit(True).alias("__hot"))

    pts = points.join(F.broadcast(hot), "cell", "left")
    # salt derived from stable row content (NOT monotonically_increasing_id:
    # a nondeterministic join key can duplicate/drop pairs when a stage
    # retry recomputes rows after partial shuffle materialization)
    stable_cols = [c for c in points.columns if c != "cell"] or ["cell"]
    pts = pts.withColumn(
        "__salt",
        F.when(F.col("__hot").isNotNull(),
               F.pmod(F.hash(*stable_cols), F.lit(n_salts)))
        .otherwise(F.lit(0)).cast("int")).drop("__hot")

    cov = cover.join(F.broadcast(hot), "cell", "left")
    cov = (cov.withColumn(
        "__salt",
        F.when(F.col("__hot").isNotNull(),
               F.sequence(F.lit(0), F.lit(n_salts - 1)))
        .otherwise(F.array(F.lit(0))))
        .withColumn("__salt", F.explode("__salt"))
        .withColumn("__salt", F.col("__salt").cast("int")).drop("__hot"))

    return pts.join(cov, ["cell", "__salt"]).drop("__salt")


def knn_join(left: DataFrame, lx: str, ly: str, left_key: str,
             right: DataFrame, rx: str, ry: str, right_key: str,
             k: int, max_radius: float,
             bbox: Sequence[float] = None,
             broadcast_limit: int = 1_000_000) -> DataFrame:
    """k-nearest right points within ``max_radius`` per left point, via
    progressive ring expansion over the cell grid (north_rule: "kNN via
    progressive H3 ring expansion").

    Plan: choose the resolution whose cell edge ~ max_radius, explode right
    into its 3x3 neighbor disk (pure JVM bit ops), equi-join on cell —
    broadcast while ``right`` has at most ``broadcast_limit`` rows, salted
    shuffle beyond — and rank by distance per left row. Because max_radius
    bounds the search, the disk is exact (every candidate within max_radius
    lies in it); ties break on lowest right key, matching PointIndex's
    strict-< first-scan rule
    (/root/reference/src/points/mapshaper-point-index.js:4-25).
    """
    if bbox is None:
        from mapshaper_spark.layers import DEFAULT_BBOX
        bbox = DEFAULT_BBOX
    res = CE.res_for_radius(max_radius, bbox)
    n = 1 << res
    xmin, ymin, xmax, ymax = bbox
    lft = left.withColumn("cell", CE.morton_col(F.col(lx), F.col(ly), bbox, res))

    ixr = CE.scaled_int_col(F.col(rx), xmin, xmax, res)
    iyr = CE.scaled_int_col(F.col(ry), ymin, ymax, res)
    rgt = right.withColumn("__ix", ixr).withColumn("__iy", iyr)
    neighbor_keys = F.array(*[
        F.when(((F.col("__ix") + dx).between(0, n - 1)) &
               ((F.col("__iy") + dy).between(0, n - 1)),
               CE._spread_col(F.col("__ix") + dx)
               .bitwiseOR(F.shiftleft(CE._spread_col(F.col("__iy") + dy), 1)))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    rgt = rgt.select(F.explode(F.filter(neighbor_keys, lambda c: c.isNotNull())).alias("cell"),
                     right_key, rx, ry)

    # size probe on the UNEXPLODED right side (9x cheaper than the disk)
    if right.limit(broadcast_limit + 1).count() <= broadcast_limit:
        cand = lft.join(F.broadcast(rgt), "cell")
    else:
        cand = salted_cell_join(lft, rgt)
    dx = F.col(lx) - F.col(rx)
    dy = F.col(ly) - F.col(ry)
    cand = (cand.withColumn("dist_sq", dx * dx + dy * dy)
            .filter(F.col("dist_sq") <= F.lit(max_radius * max_radius)))
    if k == 1:
        # partial-aggregatable fast path: min_by reduces each point's
        # candidates to ONE row on the map side, so only |points| rows
        # cross the exchange (a window rank would shuffle every candidate
        # pair first); tie-break matches the rank ordering (dist, right id)
        best = (cand.groupBy(left_key)
                .agg(F.min_by(F.struct(F.col(right_key).alias("rk"),
                                       F.col("dist_sq").alias("d")),
                              F.struct(F.col("dist_sq"), F.col(right_key)))
                .alias("b")))
        return best.select(left_key, F.col("b.rk").alias(right_key),
                           F.col("b.d").alias("dist_sq"),
                           F.lit(1).alias("knn_rank"))
    w = Window.partitionBy(left_key).orderBy(F.col("dist_sq"), F.col(right_key))
    return (cand.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .select(left_key, right_key, "dist_sq", "knn_rank"))


def filter_geom_bbox(df: DataFrame, bbox: Sequence[float],
                     x: str = None, y: str = None) -> DataFrame:
    """-filter-geom bbox= (mapshaper-filter-geom.js:3-28): points kept when
    inside the bbox (closed intervals); features with a bbox struct kept when
    their bbox intersects."""
    xmin, ymin, xmax, ymax = bbox
    if x is not None:
        return df.filter((F.col(x) >= xmin) & (F.col(x) <= xmax) &
                         (F.col(y) >= ymin) & (F.col(y) <= ymax))
    b = F.col("bbox")
    return df.filter((b["xmin"] <= xmax) & (b["xmax"] >= xmin) &
                     (b["ymin"] <= ymax) & (b["ymax"] >= ymin))


def knn_join_progressive(left: DataFrame, lx: str, ly: str, left_key: str,
                         right: DataFrame, rx: str, ry: str, right_key: str,
                         k: int, res: int = 6,
                         bbox: Sequence[float] = None,
                         max_rings: int | None = None) -> DataFrame:
    """Unbounded k-nearest-neighbor join via PROGRESSIVE ring expansion
    (north_rule: "kNN via progressive H3 ring expansion"): round r joins
    left rows that still lack k certain neighbors against right points in
    the cells at Chebyshev ring r around each left cell; rounds continue
    until every left row has k neighbors whose distances are provably final.

    Certainty rule: after searching through ring r, any candidate at
    distance <= r * cell_edge is final (no cell beyond ring r can contain a
    closer point). Left rows whose k-th best candidate passes that bound
    drop out of later rounds — the distributed form of a grid spiral
    search. Ties break on lowest right key (PointIndex strict-< rule).
    """
    if bbox is None:
        from mapshaper_spark.layers import DEFAULT_BBOX
        bbox = DEFAULT_BBOX
    n = 1 << res
    if max_rings is None:
        max_rings = n
    cw, ch = CE.cell_size(bbox, res)
    edge = min(cw, ch)
    xmin, ymin, xmax, ymax = bbox

    ixr = CE.scaled_int_col(F.col(rx), xmin, xmax, res)
    iyr = CE.scaled_int_col(F.col(ry), ymin, ymax, res)
    rgt = (right.select(right_key, rx, ry)
           .withColumn("__ix", ixr).withColumn("__iy", iyr)
           .localCheckpoint())

    ixl = CE.scaled_int_col(F.col(lx), xmin, xmax, res)
    iyl = CE.scaled_int_col(F.col(ly), ymin, ymax, res)
    pending = (left.select(left_key, lx, ly)
               .withColumn("__lix", ixl).withColumn("__liy", iyl)
               .localCheckpoint())

    results = None
    spark = left.sparkSession
    if not pending.isEmpty():
        # no ring beyond the farthest grid corner of any pending cell adds
        # cells — rows still pending past that have seen EVERY right point
        # and finalize via the closing top-k, so don't spin empty rounds
        # (a left row with < k neighbors anywhere used to run all
        # max_rings rounds)
        rmax = pending.agg(F.max(F.greatest(
            F.col("__lix"), F.lit(n - 1) - F.col("__lix"),
            F.col("__liy"), F.lit(n - 1) - F.col("__liy")))).collect()[0][0]
        max_rings = min(max_rings, int(rmax))
    for r in range(max_rings + 1):
        if pending.isEmpty():
            break
        # cells at Chebyshev ring exactly r around each pending left cell
        if r == 0:
            ring_off = [(0, 0)]
        else:
            ring_off = ([(dx, dy) for dx in range(-r, r + 1) for dy in (-r, r)] +
                        [(dx, dy) for dy in range(-r + 1, r) for dx in (-r, r)])
        offs = spark.createDataFrame(ring_off, "dx int, dy int")
        probe = (pending.crossJoin(F.broadcast(offs))
                 .withColumn("__ix", F.col("__lix") + F.col("dx"))
                 .withColumn("__iy", F.col("__liy") + F.col("dy"))
                 .filter((F.col("__ix") >= 0) & (F.col("__ix") < n) &
                         (F.col("__iy") >= 0) & (F.col("__iy") < n))
                 .drop("dx", "dy"))
        cand = probe.join(rgt, ["__ix", "__iy"])
        d2 = ((F.col(lx) - F.col(rx)) ** 2 + (F.col(ly) - F.col(ry)) ** 2)
        new_hits = cand.select(left_key, F.col(right_key).alias("__rk"),
                               d2.alias("dist_sq"))
        results = new_hits if results is None else results.unionByName(new_hits)
        results = results.localCheckpoint()

        # a left row is DONE when its k-th nearest so far is within the
        # certainty radius r * edge (closer points cannot exist beyond ring r)
        w = Window.partitionBy(left_key).orderBy("dist_sq", "__rk")
        kth = (results.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == k)
               .filter(F.sqrt("dist_sq") <= F.lit(r * edge))
               .select(left_key))
        pending = pending.join(kth, left_key, "left_anti").localCheckpoint()

    if results is None:  # empty left side: typed empty result, not a crash
        schema = T.StructType([
            T.StructField(left_key, left.schema[left_key].dataType),
            T.StructField(right_key, right.schema[right_key].dataType),
            T.StructField("dist_sq", T.DoubleType()),
            T.StructField("knn_rank", T.IntegerType())])
        return spark.createDataFrame([], schema)
    w = Window.partitionBy(left_key).orderBy("dist_sq", "__rk")
    return (results.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .select(left_key, F.col("__rk").alias(right_key),
                    "dist_sq", "knn_rank"))
