"""Projections as column math (-proj analog).

The reference delegates to the mproj library
(/root/reference/src/commands/mapshaper-proj.js:8,95-150 projectArcs maps
every vertex; definition index /root/reference/src/geom/mapshaper-projections.js:4-66
— 'webmercator' and 'merc' are among the named aliases). A native proj
dependency is not available here, so the engine ships the closed-form
projections as pure Catalyst expressions (exactly what projectArcs does per
vertex, but whole-stage-codegen over columns); pyproj can be slotted into a
pandas UDF behind the same signatures when present.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapshaper_spark.layers import bounds, geometry_bbox

R = 6378137.0  # spherical mercator radius, matches mapshaper webmercator


def webmercator_x(lon: Column) -> Column:
    return F.radians(lon) * F.lit(R)


def webmercator_y(lat: Column) -> Column:
    # y = R * ln(tan(pi/4 + phi/2))
    return F.lit(R) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0)))


def webmercator_inv_lon(x: Column) -> Column:
    return F.degrees(x / F.lit(R))


def webmercator_inv_lat(y: Column) -> Column:
    return F.degrees(F.lit(2.0) * F.atan(F.exp(y / F.lit(R))) - F.lit(math.pi / 2.0))


def project_points(df: DataFrame, x: str, y: str, crs: str = "webmercator",
                   src: str = "wgs84") -> DataFrame:
    """Project point columns in place (the -proj target semantics).

    Webmercator fwd/inv stay pure Catalyst expressions; every other
    projection from geom/projections.py (merc/lcc/aea/tmerc/utm/robinson +
    '+proj=' strings) applies through a vectorized pandas UDF.

    CRS aliases (intentional, matching the reference's mproj semantics):
    ``crs="webmercator"``/``"EPSG:3857"`` is the SPHERICAL web-mercator fast
    path; ``crs="merc"`` resolves through get_projection to the ELLIPSOIDAL
    ``+proj=merc +datum=WGS84`` (y differs from webmercator by up to ~20 km —
    same split as the reference's webmercator vs +proj=merc). ``crs="wgs84"``
    with the default src is shorthand for INVERSE webmercator (see the
    src-rewrite below); pass an explicit ``src=`` for any other inverse."""
    if crs in ("wgs84", "EPSG:4326") and src in ("wgs84", "EPSG:4326"):
        # historical shorthand: projecting "to wgs84" with no explicit src
        # means inverse webmercator
        src = "webmercator"
    if crs in ("webmercator", "EPSG:3857") and src in ("wgs84", "EPSG:4326"):
        return (df.withColumn("__px", webmercator_x(F.col(x)))
                .withColumn(y, webmercator_y(F.col(y)))
                .withColumn(x, F.col("__px")).drop("__px"))
    if crs in ("wgs84", "EPSG:4326") and src in ("webmercator", "EPSG:3857"):
        return (df.withColumn("__lon", webmercator_inv_lon(F.col(x)))
                .withColumn(y, webmercator_inv_lat(F.col(y)))
                .withColumn(x, F.col("__lon")).drop("__lon"))

    from mapshaper_spark.geom.projections import get_transform
    tf = get_transform(src, crs)

    import numpy as np

    def gen(it):
        for pdf in it:
            px, py = tf(pdf[x].to_numpy(np.float64),
                        pdf[y].to_numpy(np.float64))
            pdf = pdf.copy()
            pdf[x] = px
            pdf[y] = py
            yield pdf

    return df.mapInPandas(gen, schema=df.schema)


def project_arcs(arcs: DataFrame, crs: str = "webmercator",
                 src: str = "wgs84", densify: bool = False,
                 interval: float | None = None) -> DataFrame:
    """-proj over an arcs table: transform every vertex of every arc
    (projectArcs, mapshaper-proj.js:135-150). Webmercator is pure-JVM array
    transforms; other projections run vectorized numpy per arc inside an
    Arrow-batched stage. ``densify`` interpolates extra vertices where a
    projected segment deviates from the true projected path
    (projectAndDensifyArcs + densifySegment, mapshaper-proj.js:163-200)."""
    if crs in ("webmercator", "EPSG:3857") and src in ("wgs84", "EPSG:4326") \
            and not densify:
        k = math.pi / 180.0 * R
        new_xs = F.transform("xs", lambda v: v * F.lit(k))
        new_ys = F.transform("ys", lambda v: F.lit(R) * F.log(
            F.tan(F.lit(math.pi / 4.0) + v * F.lit(math.pi / 360.0))))
        out = arcs.withColumn("xs", new_xs).withColumn("ys", new_ys)
        return out.withColumn("bbox", geometry_bbox(out))

    from typing import Iterator
    import numpy as np
    import pandas as pd
    from mapshaper_spark.geom.projections import get_transform
    tf = get_transform(src, crs)

    if not densify:
        interval = None
    elif interval is None:
        # default interval: projected length of the average segment at the
        # dataset center (getDefaultDensifyInterval, mapshaper-proj.js:152-158)
        n = F.size("xs")
        seg = arcs.select(F.explode(F.sequence(F.lit(2), n)).alias("i"), "xs", "ys")
        dx = F.abs(F.element_at("xs", F.col("i")) - F.element_at("xs", F.col("i") - 1))
        dy = F.abs(F.element_at("ys", F.col("i")) - F.element_at("ys", F.col("i") - 1))
        stats = seg.agg(F.avg(dx).alias("adx"),
                        F.avg(dy).alias("ady")).collect()[0]
        b = bounds(arcs)
        cx = (b[0] + b[2]) / 2.0
        cy = (b[1] + b[3]) / 2.0
        ax, ay = tf(np.array([cx]), np.array([cy]))
        bx, by = tf(np.array([cx + float(stats.adx or 0.0)]),
                    np.array([cy + float(stats.ady or 0.0)]))
        interval = float(np.hypot(bx[0] - ax[0], by[0] - ay[0])) or 1.0

    def _densify_segment(lng0, lat0, x0, y0, lng2, lat2, x2, y2, out):
        # densifySegment (mapshaper-proj.js:166-184): bisect while the
        # projected midpoint deviates > interval/2 from the chord
        lng1 = (lng0 + lng2) / 2.0
        lat1 = (lat0 + lat2) / 2.0
        px, py = tf(np.array([lng1]), np.array([lat1]))
        px, py = float(px[0]), float(py[0])
        from mapshaper_spark.geom.kernels import point_to_path_dist_sq
        d2 = point_to_path_dist_sq(px, py, np.array([x0, x2]),
                                   np.array([y0, y2]))
        if d2 > interval * interval * 0.25 and \
                math.hypot(lng2 - lng0, lat2 - lat0) > 0.01:
            _densify_segment(lng0, lat0, x0, y0, lng1, lat1, px, py, out)
            out.append((px, py))
            _densify_segment(lng1, lat1, px, py, lng2, lat2, x2, y2, out)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            new_xs, new_ys, new_n, new_bb = [], [], [], []
            for r in pdf.itertuples():
                lng = np.asarray(r.xs, dtype=np.float64)
                lat = np.asarray(r.ys, dtype=np.float64)
                px, py = tf(lng, lat)
                if interval is not None and len(lng) > 1:
                    ox = [float(px[0])]
                    oy = [float(py[0])]
                    for i in range(1, len(lng)):
                        if (px[i] - px[i - 1]) ** 2 + (py[i] - py[i - 1]) ** 2 \
                                > interval * interval * 25:
                            extra: list = []
                            _densify_segment(lng[i - 1], lat[i - 1],
                                             float(px[i - 1]), float(py[i - 1]),
                                             lng[i], lat[i],
                                             float(px[i]), float(py[i]), extra)
                            for ex, ey in extra:
                                ox.append(ex)
                                oy.append(ey)
                        ox.append(float(px[i]))
                        oy.append(float(py[i]))
                    px = np.asarray(ox)
                    py = np.asarray(oy)
                new_xs.append(px.tolist())
                new_ys.append(py.tolist())
                new_n.append(len(px))
                new_bb.append({"xmin": float(px.min()), "ymin": float(py.min()),
                               "xmax": float(px.max()), "ymax": float(py.max())})
            pdf = pdf.copy()
            pdf["xs"] = new_xs
            pdf["ys"] = new_ys
            if "n" in pdf.columns:
                pdf["n"] = new_n
            if "bbox" in pdf.columns:
                pdf["bbox"] = new_bb
            yield pdf

    return arcs.mapInPandas(gen, schema=arcs.schema)
