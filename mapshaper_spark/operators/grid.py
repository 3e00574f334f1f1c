"""Gridding / tiling operators.

- point_grid / polygon_grid: regular grids over a bbox
  (/root/reference/src/commands/mapshaper-point-grid.js:3-34,
   /root/reference/src/points/mapshaper-grids.js:7-30)
- split_on_grid: assign each feature to a grid cell by the centroid of its
  bounds — ``c = floor((centerX - xmin) / w * cols)`` clamped, id "r{r}c{c}"
  (/root/reference/src/commands/mapshaper-split-on-grid.js:39-62)
- split_by_field: one partition per distinct value
  (/root/reference/src/commands/mapshaper-split.js:3-42)

All pure column expressions — Catalyst/codegen end to end; `split` writes
map to ``df.write.partitionBy`` at scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapshaper_spark import layers as L


def point_grid(spark: SparkSession, cols: int, rows: int,
               bbox: Sequence[float]) -> DataFrame:
    """-point-grid <cols,rows>: points at CELL CENTERS with half-cell
    margins — x0 = xmin + dx/2 (createPointGrid rows/cols branch,
    mapshaper-point-grid.js:90-97; golden: bbox=10,10,20,20 2,2 ->
    (12.5,12.5)...(17.5,17.5))."""
    xmin, ymin, xmax, ymax = bbox
    w = (xmax - xmin) / cols
    h = (ymax - ymin) / rows
    df = spark.range(0, rows * cols)
    return df.select(
        (F.col("id") % cols).cast("int").alias("col"),
        (F.col("id") / cols).cast("int").alias("row"),
    ).select(
        "col", "row",
        (F.lit(xmin + w / 2) + F.col("col") * F.lit(w)).alias("x"),
        (F.lit(ymin + h / 2) + F.col("row") * F.lit(h)).alias("y"),
    )


def point_grid_interval(spark: SparkSession, interval: float,
                        bbox: Sequence[float]) -> DataFrame:
    """-point-grid interval=: cols = round(w/dx) - 1, margins centered
    (createPointGrid interval branch, mapshaper-point-grid.js:83-89)."""
    xmin, ymin, xmax, ymax = bbox
    w = xmax - xmin
    h = ymax - ymin
    cols = round(w / interval) - 1
    rows = round(h / interval) - 1
    x0 = xmin + (w - cols * interval) / 2
    y0 = ymin + (h - rows * interval) / 2
    # the reference's while (y <= ymax) loop emits cols+1 x rows+1 points
    df = spark.range(0, (rows + 1) * (cols + 1))
    return df.select(
        (F.col("id") % (cols + 1)).cast("int").alias("col"),
        (F.col("id") / (cols + 1)).cast("int").alias("row"),
    ).select(
        "col", "row",
        (F.lit(x0) + F.col("col") * F.lit(interval)).alias("x"),
        (F.lit(y0) + F.col("row") * F.lit(interval)).alias("y"),
    )


def polygon_grid(spark: SparkSession, cols: int, rows: int,
                 bbox: Sequence[float]) -> DataFrame:
    """-polygon-grid: rectangular cells BETWEEN adjacent point-grid centers
    ((rows-1) x (cols-1) cells; createPolygonGridDataset,
    mapshaper-point-grid.js:49-60), with per-cell closed rings + bbox
    struct ready for pip_join / clipping. cell_id = "r{r}c{c}"."""
    xmin, ymin, xmax, ymax = bbox
    w = (xmax - xmin) / cols
    h = (ymax - ymin) / rows
    cx0 = xmin + w / 2
    cy0 = ymin + h / 2
    out_cols = cols - 1
    out_rows = rows - 1
    df = spark.range(0, out_rows * out_cols).select(
        (F.col("id") % out_cols).cast("int").alias("col"),
        (F.col("id") / out_cols).cast("int").alias("row"),
    )
    x0 = F.lit(cx0) + F.col("col") * F.lit(w)
    x1 = F.lit(cx0) + (F.col("col") + 1) * F.lit(w)
    y0 = F.lit(cy0) + F.col("row") * F.lit(h)
    y1 = F.lit(cy0) + (F.col("row") + 1) * F.lit(h)
    return df.select(
        F.format_string("r%dc%d", F.col("row"), F.col("col")).alias("cell_id"),
        "row", "col",
        F.struct(x0.alias("xmin"), y0.alias("ymin"), x1.alias("xmax"), y1.alias("ymax")).alias("bbox"),
        F.array(F.array(x0, x0, x1, x1, x0)).alias("rings_x"),
        F.array(F.array(y0, y1, y1, y0, y0)).alias("rings_y"),
    )


def grid_rc(cx: F.Column, cy: F.Column, cols: int, rows: int,
            bbox: Sequence[float]) -> tuple[F.Column, F.Column]:
    """The exact split-on-grid classifier (mapshaper-split-on-grid.js:54-60):
    floor((center - min) / extent * n), clamped to [0, n-1]. Numeric form —
    aggregate on these and format "r{r}c{c}" AFTER the reduction (per-row
    string building measurably anti-scales: allocation pressure at high
    thread counts)."""
    xmin, ymin, xmax, ymax = bbox
    # degenerate (zero-extent) bounds: everything lands in cell 0 — the
    # reference's single-feature case yields "r0c0"
    w = (xmax - xmin) or 1.0
    h = (ymax - ymin) or 1.0
    c = F.floor((cx - F.lit(xmin)) / F.lit(w) * F.lit(cols))
    r = F.floor((cy - F.lit(ymin)) / F.lit(h) * F.lit(rows))
    c = F.greatest(F.lit(0), F.least(F.lit(cols - 1), c))
    r = F.greatest(F.lit(0), F.least(F.lit(rows - 1), r))
    return r, c


def grid_cell_id(cx: F.Column, cy: F.Column, cols: int, rows: int,
                 bbox: Sequence[float]) -> F.Column:
    """split-on-grid cell id "r{r}c{c}" (mapshaper-split-on-grid.js:39)."""
    r, c = grid_rc(cx, cy, cols, rows, bbox)
    return F.format_string("r%dc%d", r, c)


def split_on_grid(df: DataFrame, cols: int, rows: int,
                  bbox: Sequence[float],
                  x: str = None, y: str = None,
                  id_field: str = "__split__",
                  kind: str | None = None) -> DataFrame:
    """Assign grid-cell ids over the grid on ``bbox`` (the reference
    classifies against getLayerBounds: pass ``layers.bounds``). For point
    layers center = the point; for path layers center = bbox centroid
    (centerX = xmin + (xmax-xmin)/2) of each row's ``layers.row_bbox``
    for a layer of ``kind``."""
    if x is not None:
        cx, cy = F.col(x), F.col(y)
    else:
        b = L.row_bbox(df, kind)
        cx = b["xmin"] + (b["xmax"] - b["xmin"]) * F.lit(0.5)
        cy = b["ymin"] + (b["ymax"] - b["ymin"]) * F.lit(0.5)
    return df.withColumn(id_field, grid_cell_id(cx, cy, cols, rows, bbox))


def graticule(spark: SparkSession) -> DataFrame:
    """-graticule (mapshaper-graticule.js createGraticule): meridians every
    10 deg from -180..180 (spanning -90..90 when x % 90 == 0, else -80..80)
    and parallels every 10 deg from -90..90 spanning -180..180, densified at
    1-degree precision. Pure JVM sequence generation."""
    m = spark.range(0, 37).select(
        F.lit("meridian").alias("kind"),
        (F.lit(-180) + F.col("id") * 10).cast("int").alias("value"))
    lo = F.when(F.col("value") % 90 == 0, F.lit(-90)).otherwise(F.lit(-80))
    hi = F.when(F.col("value") % 90 == 0, F.lit(90)).otherwise(F.lit(80))
    m = m.select("kind", "value",
                 F.transform(F.sequence(lo, hi),
                             lambda v: F.col("value").cast("double")).alias("xs"),
                 F.transform(F.sequence(lo, hi),
                             lambda v: v.cast("double")).alias("ys"))
    p = spark.range(0, 19).select(
        F.lit("parallel").alias("kind"),
        (F.lit(-90) + F.col("id") * 10).cast("int").alias("value"))
    p = p.select("kind", "value",
                 F.transform(F.sequence(F.lit(-180), F.lit(180)),
                             lambda v: v.cast("double")).alias("xs"),
                 F.transform(F.sequence(F.lit(-180), F.lit(180)),
                             lambda v: F.col("value").cast("double")).alias("ys"))
    return m.unionByName(p)


def rectangle(spark: SparkSession, bbox: Sequence[float]) -> DataFrame:
    """-rectangle (mapshaper-shape.js:3): single closed-ring bbox polygon."""
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    ring_x = [xmin, xmin, xmax, xmax, xmin]
    ring_y = [ymin, ymax, ymax, ymin, ymin]
    return spark.createDataFrame(
        [(0, [ring_x], [ring_y],
          {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax})],
        "fid int, rings_x array<array<double>>, rings_y array<array<double>>, "
        "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")


def _calc_expr_sql(expression: str) -> str:
    """Translate a mapshaper calc expression ('sum(foo) > 5',
    'count() > 300', 'average(x) < 2') to a SQL aggregate expression."""
    import re
    sql = re.sub(r"\bcount\(\s*\)", "count(*)", expression)
    sql = re.sub(r"\baverage\(", "avg(", sql)
    sql = re.sub(r"\bmedian\(([^()]*)\)", r"percentile(\1, 0.5)", sql)
    return sql


def subdivide(df: DataFrame, x: str, y: str, max_count: int | None = None,
              expression: str | None = None, name: str | None = None,
              name_field: str = "split_name",
              order_col: str | None = None) -> DataFrame:
    """-subdivide (mapshaper-subdivide.js:8-46): recursively divide the
    layer in two along the long side of its bounding box — each half gets
    half of the features (+/- 1), split at the median center like
    divideLayer's stable sort — while the calc expression stays true.
    ``max_count`` is sugar for the canonical ``count() > max_count``.

    Parity (subdivide-test.js): halves of size 1, or that fail to shrink,
    are emitted without re-evaluating the expression; final pieces are
    named '<layer-name-or-split>-<i>' sequentially in left-to-right leaf
    order (getSplitLayerName). LEVEL-BATCHED (r5): every piece of a
    recursion level is evaluated in ONE groupBy job (divide expression +
    bbox + count fused) and every splitting piece is halved in one
    ranked_ids pass keyed by (piece, axis-value, order), so driver
    round-trips are O(depth ~ log2 n) instead of O(pieces); the piece
    path is a bit-string whose lexicographic order IS the serial DFS
    leaf order (prefix-free binary-tree leaves)."""
    from mapshaper_spark.plans.scale import ranked_ids

    if expression is None:
        if max_count is None:
            raise ValueError("subdivide needs max_count or expression")
        expression = f"count() > {max_count}"
    sql = _calc_expr_sql(expression)
    base = name or "split"
    # stable tie-break = input order, like the JS stable sort on centers;
    # pass order_col (a unique key) for a partitioning-independent order
    if order_col is None:
        df = df.withColumn("__ord", F.monotonically_increasing_id())
    else:
        df = df.withColumn("__ord", F.col(order_col))
    spark = df.sparkSession
    cur = df.withColumn("__piece", F.lit(""))
    finals: list[DataFrame] = []
    while True:
        # eager localCheckpoint each level: materializes the frame AND
        # truncates the logical plan, so Catalyst analysis stays O(1) per
        # level instead of growing with depth (the recompute-on-executor-
        # loss tradeoff is bounded by the O(log n) loop; cf. the same
        # choice in simplify.post_simplify_repair)
        cur = cur.localCheckpoint(eager=True)
        # one job per level: divide expression + count + bbox per piece
        stats = (cur.groupBy("__piece")
                 .agg(F.expr(sql).alias("__d"),
                      F.count(F.lit(1)).alias("__n"),
                      F.min(x).alias("__x0"), F.max(x).alias("__x1"),
                      F.min(y).alias("__y0"), F.max(y).alias("__y1"))
                 .collect())
        info = []  # (piece, wide, n_left, rank_offset) for splitters
        off = 0
        for r in sorted(stats, key=lambda r: r["__piece"]):
            if not isinstance(r["__d"], bool):
                raise ValueError("Expression must evaluate to true or false")
            # size-1 pieces finalize WITHOUT re-splitting (the serial
            # rule: emitted without re-evaluation — same leaves)
            if r["__d"] and r["__n"] > 1:
                info.append((r["__piece"],
                             (r["__x1"] - r["__x0"]) > (r["__y1"] - r["__y0"]),
                             (r["__n"] + 1) // 2, off))
                off += r["__n"]
        splitting = [p for p, _, _, _ in info]
        if len(splitting) < len(stats):
            finals.append(
                cur.filter(~F.col("__piece").isin(splitting))
                if splitting else cur)
        if not splitting:
            break
        act = cur.filter(F.col("__piece").isin(splitting))
        info_df = spark.createDataFrame(
            info, "__p string, __wide boolean, __nleft long, __off long")
        act = act.join(F.broadcast(info_df),
                       act["__piece"] == info_df["__p"]).drop("__p")
        # rank within piece = global rank over (piece, axis value, order)
        # minus the piece's broadcast offset — no per-piece jobs, no
        # single-partition window (ranked_ids range-repartitions)
        act = act.withColumn(
            "__key", F.when(F.col("__wide"), F.col(x)).otherwise(F.col(y)))
        ranked = ranked_ids(act, ["__piece", "__key", "__ord"], "__grk")
        cur = (ranked.withColumn(
            "__piece",
            F.concat("__piece",
                     F.when(F.col("__grk") - F.col("__off") <
                            F.col("__nleft"), F.lit("0"))
                     .otherwise(F.lit("1"))))
            .drop("__grk", "__key", "__wide", "__nleft", "__off"))
    out = finals[0]
    for part in finals[1:]:
        out = out.unionByName(part)
    # leaf naming: lexicographic piece order == serial DFS order
    leaves = sorted(r[0] for r in out.select("__piece").distinct().collect())
    name_df = spark.createDataFrame(
        [(p, f"{base}-{i + 1}") for i, p in enumerate(leaves)],
        f"__p string, {name_field} string")
    out = (out.join(F.broadcast(name_df), out["__piece"] == name_df["__p"])
           .drop("__p", "__piece"))
    return out.drop("__ord")


def split_by_field(df: DataFrame, field: str) -> dict[str, DataFrame]:
    """-split field=: dict of per-value DataFrames (driver enumerates the
    distinct values; at scale prefer ``df.write.partitionBy(field)``)."""
    values = [r[0] for r in df.select(field).distinct().collect()]
    return {str(v): df.filter(F.col(field) == F.lit(v)) for v in values}


def shape(*args, **kwargs) -> DataFrame:
    """``shape_layer``'s frame."""
    return shape_layer(*args, **kwargs)[0]


def shape_layer(spark: SparkSession, coordinates: Sequence[float],
                offsets: Sequence[float] = (), closed: bool = False,
                name: str = "shape") -> tuple[DataFrame, str]:
    """-shape (mapshaper-shape.js:3-37): freehand polygon/polyline from a
    flat coordinate list + optional relative offsets -> (frame, kind). A
    path whose first and last points coincide — or closed=True — becomes
    a polygon ring; otherwise a polyline."""
    # one seed point + offsets is legal (shape-test.js: '-shape
    # coordinates=10,10 offsets=0,10,...'); only a path that stays a
    # single point is an error
    if not coordinates or len(coordinates) < 2 or \
            (len(coordinates) < 4 and not offsets):
        raise ValueError("Missing list of coordinates")
    pts = [(float(coordinates[i]), float(coordinates[i + 1]))
           for i in range(0, len(coordinates) - 1, 2)]
    x, y = pts[-1]
    for i in range(0, len(offsets) - 1, 2):
        x += float(offsets[i])
        y += float(offsets[i + 1])
        pts.append((x, y))
    is_ring = len(pts) >= 4 and pts[0] == pts[-1]
    if not is_ring and closed and len(pts) >= 3:
        pts.append(pts[0])
        is_ring = True
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    kind = "polygon" if is_ring else "polyline"
    return spark.createDataFrame(
        [(name, kind, [xs], [ys],
          {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)})],
        "name string, geometry_type string, rings_x array<array<double>>, "
        "rings_y array<array<double>>, "
        "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>"), kind
