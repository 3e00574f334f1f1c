"""Core data model + deterministic synthetic geo layers.

Mirrors the reference's two-table model (SURVEY.md §1):

- ``features``: one row per feature — ``parts`` = array of arrays of *signed*
  arc ids (negative id means "arc traversed reversed", encoded JS-style as
  ``~id = -(id+1)``; /root/reference/src/topology/mapshaper-topology.js:40),
  plus attributes and a precomputed ``bbox`` struct.
- ``arcs``: per-arc coordinate arrays (``xs``, ``ys``), vertex count ``n``,
  optional ``zs`` simplification thresholds, ``bbox``
  (/root/reference/src/paths/mapshaper-arcs.js:11-16).

The shared-arc helpers are the one place each conversion between the two
tables and ring coordinates is written, and every operator calls them:

- ``absolute_arc_id_col``: the abs id of a signed reference;
- ``arc_refs``: the one ``parts`` explode, one row per signed reference
  (key, ring_idx, seq, signed, aid);
- ``concat_arcs``: the one arc-to-ring concat (JVM higher-order functions),
  grouped by any path key;
- ``assemble_rings``: features + arcs -> ``rings_x``/``rings_y``.

The extent helpers are the one place a layer's extent is decided, for
every kind of frame:

- ``geometry_bbox``: the per-row bbox struct from whatever coordinate
  columns a frame has (rings, arc xs/ys, and x/y or lon/lat in a point
  layer: the layer's kind, or the frame's columns, says which);
- ``row_bbox``: the stored ``bbox`` column, else ``geometry_bbox``;
- ``with_bbox``: the frame with a ``bbox`` column (``geometry_bbox`` when
  it has none);
- ``bounds_aggs`` / ``bounds``: the four min/max aggregates, and the
  layer extent as one aggregate (None without coordinates);
  ``union_bounds``: the extent of several layers' known bounds.

The way back, a ring layer to shared-arc topology, is
``operators.topology.ring_topology``.

The synthetic region mosaic reproduces FIXTURES.md §2: an R x C grid of
rectangular "counties" over a bbox, with *shared* borders (each interior
edge is a single arc referenced +id by one cell and ~id by its neighbor) —
exercising the shared-arc topology exactly as two_states.shp does in the
reference test suite.
"""

from __future__ import annotations

import functools
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


DEFAULT_BBOX = (-120.0, 25.0, -60.0, 49.0)

BBOX_TYPE = T.StructType([
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
])

ARCS_SCHEMA = T.StructType([
    T.StructField("arc_id", T.LongType(), False),
    T.StructField("xs", T.ArrayType(T.DoubleType()), False),
    T.StructField("ys", T.ArrayType(T.DoubleType()), False),
    T.StructField("zs", T.ArrayType(T.DoubleType()), True),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("bbox", BBOX_TYPE, False),
])


def encode_reversed(arc_id: int) -> int:
    """JS ``~id`` encoding of a reversed arc reference."""
    return -(arc_id + 1)


def absolute_arc_id_col(signed: F.Column) -> F.Column:
    """abs id of a signed arc reference: id if >=0 else -(id+1)."""
    return F.when(signed >= 0, signed).otherwise(-(signed + 1))


def region_mosaic(spark: SparkSession, cols: int = 6, rows: int = 4,
                  bbox: Sequence[float] = DEFAULT_BBOX,
                  state_block: tuple[int, int] = (3, 2)):
    """Deterministic R x C rectangular county mosaic with shared arcs.

    Returns (features_df, arcs_df). Arc layout:
    - horizontal edges: id = r*cols + c   for r in [0, rows], c in [0, cols)
      (2 points, left -> right)
    - vertical edges:   id = H + r*(cols+1) + c  for r in [0, rows),
      c in [0, cols]  (2 points, bottom -> top), H = (rows+1)*cols
    Cell (r, c) ring (positive-area orientation per the reference's signed
    shoelace, shape-geom.js:270-288):
      +V(r,c), +H(r+1,c), ~V(r,c+1), ~H(r,c)
    """
    xmin, ymin, xmax, ymax = bbox
    w = (xmax - xmin) / cols
    h = (ymax - ymin) / rows
    H = (rows + 1) * cols

    arcs = []
    for r in range(rows + 1):
        y = ymin + r * h
        for c in range(cols):
            x0, x1 = xmin + c * w, xmin + (c + 1) * w
            arcs.append((r * cols + c, [x0, x1], [y, y], None, 2,
                         {"xmin": x0, "ymin": y, "xmax": x1, "ymax": y}))
    for r in range(rows):
        y0, y1 = ymin + r * h, ymin + (r + 1) * h
        for c in range(cols + 1):
            x = xmin + c * w
            arcs.append((H + r * (cols + 1) + c, [x, x], [y0, y1], None, 2,
                         {"xmin": x, "ymin": y0, "xmax": x, "ymax": y1}))
    import pyarrow as pa

    # Arrow-backed creation: evaluating these DataFrames is pure JVM work
    # (a pickled-list parallelize would spawn Python deserializer tasks on
    # every downstream job — ruinous for iterative algorithms)
    arcs_df = spark.createDataFrame(pa.table({
        "arc_id": pa.array([a[0] for a in arcs], pa.int64()),
        "xs": pa.array([a[1] for a in arcs], pa.list_(pa.float64())),
        "ys": pa.array([a[2] for a in arcs], pa.list_(pa.float64())),
        "zs": pa.array([a[3] for a in arcs], pa.list_(pa.float64())),
        "n": pa.array([a[4] for a in arcs], pa.int32()),
        "bbox": pa.array([a[5] for a in arcs],
                         pa.struct([("xmin", pa.float64()), ("ymin", pa.float64()),
                                    ("xmax", pa.float64()), ("ymax", pa.float64())])),
    }))

    feats = []
    sb_c, sb_r = state_block
    for r in range(rows):
        for c in range(cols):
            rid = r * cols + c
            v_l = H + r * (cols + 1) + c
            v_r = H + r * (cols + 1) + c + 1
            h_b = r * cols + c
            h_t = (r + 1) * cols + c
            parts = [[v_l, h_t, encode_reversed(v_r), encode_reversed(h_b)]]
            state = f"S{(r // sb_r) * ((cols + sb_c - 1) // sb_c) + (c // sb_c)}"
            pop = float((rid * 37) % 1000 + 100)
            feats.append((f"R{r}C{c}", rid, state, pop, f"county {rid}", parts,
                          {"xmin": xmin + c * w, "ymin": ymin + r * h,
                           "xmax": xmin + (c + 1) * w, "ymax": ymin + (r + 1) * h}))
    features_df = spark.createDataFrame(pa.table({
        "region_id": pa.array([f[0] for f in feats], pa.string()),
        "rid": pa.array([f[1] for f in feats], pa.int32()),
        "state": pa.array([f[2] for f in feats], pa.string()),
        "pop": pa.array([f[3] for f in feats], pa.float64()),
        "name": pa.array([f[4] for f in feats], pa.string()),
        "parts": pa.array([f[5] for f in feats], pa.list_(pa.list_(pa.int32()))),
        "bbox": pa.array([f[6] for f in feats],
                         pa.struct([("xmin", pa.float64()), ("ymin", pa.float64()),
                                    ("xmax", pa.float64()), ("ymax", pa.float64())])),
    }))
    return features_df, arcs_df


def arc_refs(features: DataFrame, key: str) -> DataFrame:
    """One row per signed arc reference of ``features``' ``parts``:
    (key, ring_idx, seq, signed, aid) — the ring's index in the feature,
    the reference's position in the ring, the signed id and its absolute
    arc id (long)."""
    return (features.select(key, F.posexplode("parts").alias("ring_idx", "refs"))
            .select(key, "ring_idx", F.posexplode("refs").alias("seq", "signed"))
            .withColumn("aid", absolute_arc_id_col(F.col("signed")).cast("long")))


def concat_arcs(refs: DataFrame, arcs: DataFrame, path: Sequence[str],
                seq: str = "arc_seq") -> DataFrame:
    """refs(*path, seq, signed) + arcs(arc_id, xs, ys) -> (*path, xs, ys):
    each path's arcs in ``seq`` order, reversed where referenced ~id,
    concatenated without the junction vertex consecutive arcs share — all
    JVM higher-order functions."""
    oriented = (refs.join(
        arcs.select(F.col("arc_id").alias("__aid"), "xs", "ys"),
        absolute_arc_id_col(F.col("signed")) == F.col("__aid"))
        .select(*path, seq,
                F.when(F.col("signed") < 0, F.reverse("xs")).otherwise(F.col("xs")).alias("xs"),
                F.when(F.col("signed") < 0, F.reverse("ys")).otherwise(F.col("ys")).alias("ys")))
    grouped = (oriented.groupBy(*path)
               .agg(F.sort_array(F.collect_list(
                   F.struct(seq, "xs", "ys"))).alias("parts")))
    concat = ("flatten(transform(parts, (p, i) -> IF(i = 0, p.{c}, "
              "slice(p.{c}, 2, size(p.{c}) - 1))))")
    return grouped.select(
        *path,
        F.expr(concat.format(c="xs")).alias("xs"),
        F.expr(concat.format(c="ys")).alias("ys"))


def assemble_rings(features: DataFrame, arcs: DataFrame, key: str = "rid") -> DataFrame:
    """Join features' signed arc-id parts with the arcs table and concatenate
    per-ring coordinate arrays (reversing arcs referenced with ~id).

    Distributed plan: ``arc_refs`` -> ``concat_arcs`` per (feature, ring)
    -> regroup per feature in ring order. Scales with #features; each ring
    must fit in a row (same envelope as the reference, which holds whole
    arcs in memory).
    """
    rings = concat_arcs(arc_refs(features, key), arcs, [key, "ring_idx"], "seq")
    per_feature = (
        rings.groupBy(key)
        .agg(F.sort_array(F.collect_list(F.struct("ring_idx", "xs", "ys"))).alias("rs"))
        .select(key, F.col("rs.xs").alias("rings_x"), F.col("rs.ys").alias("rings_y"))
    )
    return features.join(per_feature, key)


_RING_KINDS = ("polygon", "polyline", "path")


def geometry_bbox(df: DataFrame, kind: str | None = None) -> Column | None:
    """The per-row ``struct<xmin,ymin,xmax,ymax>`` of every coordinate
    column ``df`` has: ``rings_x``/``rings_y``, arc ``xs``/``ys`` and, in
    a point layer, scalar ``x``/``y`` (else ``lon``/``lat``). In a ring
    layer (``kind`` in ``_RING_KINDS``; with no ``kind``, a frame with ring
    or arc columns) x/y are data fields, e.g. a GeoJSON polygon's
    properties. least/greatest skip nulls, so a point layer mixing Point
    rows (x/y) with MultiPoint rows (rings) spans both. None when ``df``
    has no coordinate columns or is a ``table`` layer."""
    if kind == "table":
        return None
    types = dict(df.dtypes)
    carriers = []  # (xmin, ymin, xmax, ymax) per coordinate column pair
    for cx, cy in (("rings_x", "rings_y"), ("xs", "ys")):
        if types.get(cx, "").startswith("array") and cy in types:
            ax, ay = ((F.flatten(cx), F.flatten(cy)) if cx == "rings_x"
                      else (F.col(cx), F.col(cy)))
            carriers.append((F.array_min(ax), F.array_min(ay),
                             F.array_max(ax), F.array_max(ay)))
    ring_layer = kind in _RING_KINDS if kind else bool(carriers)
    scalar = None if ring_layer else next(
        ((x, y) for x, y in (("x", "y"), ("lon", "lat"))
         if x in types and y in types), None)
    if scalar:
        x, y = F.col(scalar[0]), F.col(scalar[1])
        carriers.insert(0, (x, y, x, y))
    if not carriers:
        return None

    def side(i, pick):
        cols = [c[i] for c in carriers]
        return cols[0] if len(cols) == 1 else pick(*cols)
    return F.struct(side(0, F.least).alias("xmin"),
                    side(1, F.least).alias("ymin"),
                    side(2, F.greatest).alias("xmax"),
                    side(3, F.greatest).alias("ymax"))


def row_bbox(df: DataFrame, kind: str | None = None) -> Column | None:
    """Each row's bbox: the stored ``bbox`` column when the frame has
    one, else ``geometry_bbox``."""
    return F.col("bbox") if "bbox" in df.columns else geometry_bbox(df, kind)


def with_bbox(df: DataFrame, kind: str | None = None) -> DataFrame:
    """``df`` with a per-row ``bbox`` column: the stored one, else
    ``geometry_bbox``."""
    if "bbox" in df.columns:
        return df
    bbox = geometry_bbox(df, kind)
    if bbox is None:
        raise ValueError("the layer has no coordinates")
    return df.withColumn("bbox", bbox)


def bounds_aggs(df: DataFrame, kind: str | None = None) -> list[Column]:
    """The four aggregates of a layer's extent (min xmin, min ymin,
    max xmax, max ymax) over its ``row_bbox``; null literals when it has
    no coordinates."""
    b = row_bbox(df, kind)
    if b is None:
        return [F.lit(None).cast("double")] * 4
    return [F.min(b["xmin"]), F.min(b["ymin"]),
            F.max(b["xmax"]), F.max(b["ymax"])]


def bounds(*dfs: DataFrame, kind: str | None = None) -> tuple | None:
    """(xmin, ymin, xmax, ymax) over every coordinate of the layers
    ``dfs`` in one aggregate, or None when they have none (no coordinate
    columns: no job)."""
    boxes = [df.select(b.alias("bbox")) for df in dfs
             if (b := row_bbox(df, kind)) is not None]
    if not boxes:
        return None
    u = functools.reduce(DataFrame.unionByName, boxes)
    row = u.agg(*bounds_aggs(u)).collect()[0]
    return None if row[0] is None else tuple(float(v) for v in row)


def union_bounds(*boxes: tuple | None) -> tuple | None:
    """The extent covering ``boxes`` (layer bounds, None for a layer
    without coordinates), None when none is set."""
    boxes = [b for b in boxes if b]
    if not boxes:
        return None
    return (min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes))


def region_mosaic_rings_local(spark: SparkSession, cols: int = 6, rows: int = 4,
                              bbox: Sequence[float] = DEFAULT_BBOX,
                              state_block: tuple[int, int] = (3, 2)) -> DataFrame:
    """Driver-side assembled version of region_mosaic + assemble_rings for the
    (tiny) polygon dimension: identical ring coordinates, zero Spark stages.

    The polygon side of the flagship join is a broadcast dimension; building
    it distributed costs several shuffle barriers per query for a table of a
    few dozen rows. At 100 TB the points side is the scan — the dimension
    belongs on the driver (then sc.broadcast), exactly like any other
    broadcast dim table.
    """
    xmin, ymin, xmax, ymax = bbox
    w = (xmax - xmin) / cols
    h = (ymax - ymin) / rows
    sb_c, sb_r = state_block
    rows_out = []
    for r in range(rows):
        for c in range(cols):
            rid = r * cols + c
            x0, x1 = xmin + c * w, xmin + (c + 1) * w
            y0, y1 = ymin + r * h, ymin + (r + 1) * h
            ring_x = [x0, x0, x1, x1, x0]
            ring_y = [y0, y1, y1, y0, y0]
            state = f"S{(r // sb_r) * ((cols + sb_c - 1) // sb_c) + (c // sb_c)}"
            pop = float((rid * 37) % 1000 + 100)
            rows_out.append((f"R{r}C{c}", rid, state, pop, f"county {rid}",
                             {"xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1},
                             [ring_x], [ring_y]))
    import pyarrow as pa

    # build through Arrow so evaluating this DataFrame is pure JVM work —
    # a plain createDataFrame(list) parallelizes *pickled* rows, and every
    # downstream use then spawns Python deserializer tasks (observed: more
    # wall time than the 20M-row fact scan it feeds)
    table = pa.table({
        "region_id": pa.array([r[0] for r in rows_out], pa.string()),
        "rid": pa.array([r[1] for r in rows_out], pa.int32()),
        "state": pa.array([r[2] for r in rows_out], pa.string()),
        "pop": pa.array([r[3] for r in rows_out], pa.float64()),
        "name": pa.array([r[4] for r in rows_out], pa.string()),
        "bbox": pa.array([r[5] for r in rows_out],
                         pa.struct([("xmin", pa.float64()), ("ymin", pa.float64()),
                                    ("xmax", pa.float64()), ("ymax", pa.float64())])),
        "rings_x": pa.array([r[6] for r in rows_out], pa.list_(pa.list_(pa.float64()))),
        "rings_y": pa.array([r[7] for r in rows_out], pa.list_(pa.list_(pa.float64()))),
    })
    return spark.createDataFrame(table)


def synth_images(spark: SparkSession, n: int, with_bytes: bool = False,
                 partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic images table (FIXTURES.md §1 / input_hint).

    Schema: (image_id string, bytes binary|null, w int, h int, fmt string,
    caption string, phash long). The footprint derivation used downstream is
    lon = -120 + (phash % 2^20)/2^20*60, lat = 25 + ((phash>>20) % 2^20)/2^20*24.

    ``phash`` is a Knuth multiplicative mix of the row id — chosen (over
    splitmix64) so the identical arithmetic is expressible in ANSI SQL for
    the DuckDB oracle without 64-bit overflow.
    """
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    df = (
        df.withColumn("image_id", F.format_string("img%012d", F.col("id")))
        .withColumn("phash", (F.col("id") * F.lit(2654435761)) % F.lit(1 << 40))
        .withColumn("w", F.element_at(F.array(F.lit(16), F.lit(32), F.lit(64)),
                                      (F.col("id") % 3 + 1).cast("int")).cast("int"))
        .withColumn("h", F.element_at(F.array(F.lit(16), F.lit(32), F.lit(64)),
                                      ((F.col("id") + 1) % 3 + 1).cast("int")).cast("int"))
        .withColumn("fmt", F.when(F.col("id") % 2 == 0, F.lit("png")).otherwise(F.lit("ppm")))
        .withColumn("caption", F.format_string("synthetic caption %d tok%d", F.col("id"), F.col("id") % 97))
    )
    if with_bytes:
        from mapshaper_spark.operators.images import encode_synthetic_bytes
        df = encode_synthetic_bytes(df)
    else:
        df = df.withColumn("bytes", F.lit(None).cast("binary"))
    return df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "id")


def footprint_cols(df: DataFrame, phash: str = "phash") -> DataFrame:
    """Point footprint from phash (FIXTURES.md §1 derivation)."""
    p = F.col(phash)
    lon = F.lit(-120.0) + (p % F.lit(1 << 20)).cast("double") / F.lit(float(1 << 20)) * F.lit(60.0)
    lat = F.lit(25.0) + (F.shiftright(p, 20) % F.lit(1 << 20)).cast("double") / F.lit(float(1 << 20)) * F.lit(24.0)
    return df.withColumn("lon", lon).withColumn("lat", lat)
