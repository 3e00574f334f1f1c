"""GeoJSON source/sink.

Import dispatch mirrors the reference's pathImporters table
(src/geojson/geojson-import.js:79-96: Point, MultiPoint, LineString,
MultiLineString, Polygon, MultiPolygon); export mirrors
exportLayerAsGeoJSON (src/geojson/geojson-export.js) with the RFC 7946
default precision of 1e-6 available via ``precision``.

Both importers parse each feature once, through ``_geometry_row``:
- ``geojson_table`` (behind ``import_geojson`` and ``-i``) parses a whole
  document on the driver, as the reference holds it in memory, into the
  layer's final table: ``fid``, the geometry columns and one typed column
  per property key, built as one Arrow table for one ``createDataFrame``;
- ``import_ndjson`` parses newline-delimited GeoJSON in Arrow batches on
  the executors and keeps each feature's properties as one JSON string,
  ``properties``, which the CLI flattens in Catalyst.

At-scale sink: ``to_geojson_features`` renders one Feature JSON string per
row with pure Catalyst ``to_json``, for newline-delimited GeoJSON
(.ndjson / GeoJSONSeq) written with ``df.write.text``.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ring_to_xy(ring):
    xs = [float(p[0]) for p in ring]
    ys = [float(p[1]) for p in ring]
    return xs, ys


def _rewind_ring(xs, ys, is_hole):
    """PathImporter.importRing (mapshaper-path-import.js:105-113): outer
    rings are stored CW (positive area), holes CCW — rings wound the wrong
    way are reversed on import, so GeoJSON's spec order (exterior CCW) and
    shapefile order (exterior CW) both normalize to the same layout.
    Open polygon rings are closed first (issue #125,
    path-import-test.js: the reference's importRing appends the start
    point when a ring doesn't close)."""
    if xs and (xs[0] != xs[-1] or ys[0] != ys[-1]):
        xs = xs + [xs[0]]
        ys = ys + [ys[0]]
    # offset shoelace, CW => positive (same convention as
    # geom.kernels.planar_path_area)
    s = 0.0
    x0, y0 = xs[0], ys[0]
    for i in range(len(xs) - 1):
        s += (xs[i + 1] - x0) * (ys[i] - y0) - (xs[i] - x0) * (ys[i + 1] - y0)
    area = s / 2
    if (is_hole and area > 0) or (not is_hole and area < 0):
        return xs[::-1], ys[::-1]
    return xs, ys


_BBOX_FIELDS = ("xmin", "ymin", "xmax", "ymax")
# the geometry columns of ``_geometry_row``, in its order
GEOMETRY_COLUMNS = ("geometry_type", "rings_x", "rings_y", "x", "y", "bbox")


def _geometry_fields() -> list:
    """(name, Arrow type) of the geometry columns of ``_geometry_row``."""
    import pyarrow as pa
    rings = pa.list_(pa.list_(pa.float64()))
    return list(zip(GEOMETRY_COLUMNS, (
        pa.string(), rings, rings, pa.float64(), pa.float64(),
        pa.struct([(k, pa.float64()) for k in _BBOX_FIELDS]))))


def _geometry_row(g: dict) -> tuple:
    """One GeoJSON geometry -> its row of the geometry columns
    (geometry_type, rings_x, rings_y, x, y, bbox), shared by the
    driver-side and ndjson importers. Points fill x/y; path types fill
    rings_x/rings_y (for LineString, one open path; for polygons, closed
    rings); a missing geometry has type 'null' and no coordinates."""
    t = g.get("type")
    c = g.get("coordinates")
    rx: list = []
    ry: list = []
    px = py = None
    if t == "Point":
        px, py = float(c[0]), float(c[1])
    elif t == "MultiPoint":
        rx, ry = [[float(p[0]) for p in c]], [[float(p[1]) for p in c]]
    elif t == "LineString":
        xs, ys = _ring_to_xy(c)
        rx, ry = [xs], [ys]
    elif t == "MultiLineString":
        for path in c:
            xs, ys = _ring_to_xy(path)
            rx.append(xs)
            ry.append(ys)
    elif t == "Polygon":
        for k, ring in enumerate(c):
            xs, ys = _rewind_ring(*_ring_to_xy(ring), is_hole=k > 0)
            rx.append(xs)
            ry.append(ys)
    elif t == "MultiPolygon":
        for poly in c:
            for k, ring in enumerate(poly):
                xs, ys = _rewind_ring(*_ring_to_xy(ring), is_hole=k > 0)
                rx.append(xs)
                ry.append(ys)
    elif t is not None:
        raise ValueError(f"unsupported GeoJSON type {t}")
    allx = [v for r in rx for v in r] + ([px] if px is not None else [])
    ally = [v for r in ry for v in r] + ([py] if py is not None else [])
    bbox = dict(zip(_BBOX_FIELDS, (min(allx), min(ally), max(allx),
                                   max(ally)))) if allx \
        else dict.fromkeys(_BBOX_FIELDS)
    return t or "null", rx, ry, px, py, bbox


def import_geojson(spark: SparkSession, obj: dict | str) -> DataFrame:
    """FeatureCollection / GeometryCollection / single feature / bare
    geometry -> the layer's DataFrame, the table of ``geojson_table``."""
    return spark.createDataFrame(geojson_table(obj)[0])


def table_bounds(table) -> tuple | None:
    """Layer bounds (xmin, ymin, xmax, ymax) of a ``geojson_table`` from its
    per-feature bboxes, or None when no feature has coordinates."""
    import pyarrow.compute as pc
    bb = table.column("bbox")
    b = tuple(agg(pc.struct_field(bb, k)).as_py() for agg, k in
              ((pc.min, "xmin"), (pc.min, "ymin"),
               (pc.max, "xmax"), (pc.max, "ymax")))
    return None if b[0] is None else b


def _property_arrays(records: list[dict]) -> dict:
    """Feature properties -> one Arrow array per key, in first-seen key
    order, typed like the other driver-assembled attribute tables
    (``topojson._infer_schema``: a column's first non-null value once
    pandas has unified its numbers, so an integer key that some feature
    lacks is a double)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StringType

    from mapshaper_spark.sources.topojson import _infer_schema
    pdf = pd.DataFrame(records)
    schema = _infer_schema(pdf)
    pdf = pdf.astype(object).where(pdf.notna(), None)
    out = {}
    for f in schema.fields:
        vals = pdf[f.name].tolist()
        if isinstance(f.dataType, StringType):
            # a string field's later non-string values become strings,
            # as Spark coerces them (a bool as 'true'/'false')
            vals = [v if v is None or isinstance(v, str) else
                    str(v).lower() if isinstance(v, bool) else str(v)
                    for v in vals]
        out[f.name] = pa.array(vals, to_arrow_type(f.dataType))
    return out


def geojson_table(obj: dict | str):
    """The driver-side parse of a GeoJSON document into its layer's table:
    ``fid``, the geometry columns of ``_geometry_row``, then one typed
    column per property key (``_property_arrays``), as one pyarrow table.
    ``fid`` is the record number unless the features carry a ``fid``
    property, which then keys the layer in its place (as a dbf ``fid``
    does) and must be a distinct, non-null scalar on every feature.
    Returns ``(table, fid_is_data)``."""
    import pyarrow as pa

    if isinstance(obj, str):
        obj = json.loads(obj)
    if obj.get("type") == "FeatureCollection":
        feats = obj["features"]
    elif obj.get("type") == "GeometryCollection":
        feats = [{"geometry": g} for g in obj["geometries"]]
    elif obj.get("type") == "Feature":
        feats = [obj]
    else:  # bare geometry
        feats = [{"geometry": obj}]

    records = [f.get("properties") or {} for f in feats]
    props = _property_arrays(records)
    fid_is_data = "fid" in props
    if fid_is_data:
        fids = [r.get("fid") for r in records]
        if not all(isinstance(v, (str, int, float)) for v in fids) or \
                len(set(fids)) != len(fids):
            raise ValueError("GeoJSON property 'fid' must be a distinct, "
                             "non-null scalar on every feature")
        fid = props.pop("fid")
    else:
        fid = pa.array(range(len(feats)), pa.int64())
    fields = _geometry_fields()
    cols = list(zip(*(_geometry_row(f.get("geometry") or {})
                      for f in feats))) or [()] * len(fields)
    geometry = [pa.array(col, t) for col, (_, t) in zip(cols, fields)]
    table = pa.Table.from_arrays(
        [fid, *geometry, *props.values()],
        names=["fid", *(n for n, _ in fields), *props])
    return table, fid_is_data


def import_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Distributed newline-delimited GeoJSON importer — the read-side
    counterpart of ``export_ndjson`` (engine extension): one Feature (or
    bare geometry) JSON per line via ``spark.read.text`` (splittable) +
    an Arrow-batched parse through the same ``_geometry_row`` as
    ``geojson_table``. Properties stay one JSON string column,
    ``properties``, for the CLI to flatten in Catalyst; fid = line order
    (ranked, no global window). A directory whose data files are not
    JSON text (e.g. a parquet output) is a ``ValueError``."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from mapshaper_spark.plans.scale import ranked_ids

    if os.path.isdir(path):
        _check_ndjson_dir(path)
    lines = (spark.read.text(path)
             .filter(F.trim(F.col("value")) != "")
             .withColumn("__ms_pos", F.monotonically_increasing_id()))
    schema = from_arrow_schema(pa.schema(
        [("__ms_pos", pa.int64()), *_geometry_fields(),
         ("properties", pa.string())]))

    def gen(it):
        for pdf in it:
            rows = []
            for pos, line in zip(pdf["__ms_pos"], pdf["value"]):
                f = json.loads(line)
                if f.get("type") != "Feature":
                    f = {"geometry": f}
                rows.append((int(pos), *_geometry_row(f.get("geometry") or {}),
                             json.dumps(f.get("properties") or {},
                                        sort_keys=True)))
            yield pd.DataFrame(rows, columns=schema.names)

    parsed = lines.mapInPandas(gen, schema=schema)
    return (ranked_ids(parsed, ["__ms_pos"], "fid")
            .drop("__ms_pos")
            .select("fid", "geometry_type", "rings_x", "rings_y",
                    "x", "y", "properties", "bbox"))


def _check_ndjson_dir(path: str) -> None:
    """Raise ``ValueError`` naming the directory and its format unless its
    first non-empty data file (Spark's ``_``/``.`` bookkeeping files
    skipped) starts with a JSON object or is compressed text."""
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(n for n in names if not n.startswith(("_", "."))):
            with open(os.path.join(root, name), "rb") as f:
                head = f.read(64).lstrip()
            if not head:
                continue
            if head[:1] == b"{" or head.startswith((b"\x1f\x8b", b"BZh")):
                return
            fmt = "parquet" if head.startswith(b"PAR1") else "non-JSON"
            raise ValueError(f"-i: {path} holds {fmt} data, not "
                             "newline-delimited GeoJSON")


def to_geojson_features(df: DataFrame, geometry_type: str = "Polygon",
                        x: str | None = None, y: str | None = None,
                        precision: float | None = None,
                        property_cols: Sequence[str] = (),
                        bare_geometry: bool = False) -> DataFrame:
    """One GeoJSON Feature string per row (pure JVM). For ``Point`` pass
    x/y column names; otherwise rings_x/rings_y are rendered as Polygon /
    LineString coordinates. Precision rounds coordinates like -o precision=
    (rounding.js)."""

    def r(c):
        if precision is None:
            return c
        from mapshaper_spark.operators.attributes import round_coords
        return round_coords(c, precision)

    props = F.struct(*[F.col(c).alias(c) for c in property_cols]) \
        if property_cols else F.struct(F.lit(None).alias("__empty"))

    def feat(gtype: str, coords):
        if bare_geometry:
            return F.to_json(F.struct(F.lit(gtype).alias("type"),
                                      coords.alias("coordinates")))
        return F.to_json(F.struct(
            F.lit("Feature").alias("type"),
            F.struct(F.lit(gtype).alias("type"),
                     coords.alias("coordinates")).alias("geometry"),
            props.alias("properties")))

    if geometry_type == "Point":
        feature = feat("Point", F.array(r(F.col(x)), r(F.col(y))))
    elif geometry_type == "MultiPoint":
        # point layers that carry MultiPoint shapes in the rings arrays
        # (mixed with scalar-x/y Point rows): multi-point shapes export as
        # MultiPoint, single-point shapes as Point — the reference's
        # per-shape type choice (geojson-export.js exportPointGeom)
        pts = F.zip_with(F.flatten("rings_x"), F.flatten("rings_y"),
                         lambda a, b: F.array(r(a), r(b)))
        from_rings = F.when(F.size(pts) > 1, feat("MultiPoint", pts)) \
            .otherwise(feat("Point", F.element_at(pts, 1)))
        scalar = feat("Point", F.array(r(F.col(x)), r(F.col(y))))
        feature = F.when(F.col("rings_x").isNotNull()
                         & (F.size("rings_x") > 0), from_rings) \
            .otherwise(scalar)
    elif geometry_type == "LineString":
        # multi-part path features serialize as MultiLineString (one
        # coordinates array per part), single-part as LineString — the
        # reference's per-shape type choice (geojson-export.js)
        multi = F.zip_with(
            "rings_x", "rings_y",
            lambda rx, ry: F.zip_with(rx, ry, lambda a, b: F.array(r(a), r(b))))
        feature = F.when(F.size("rings_x") > 1,
                         feat("MultiLineString", multi)) \
            .otherwise(feat("LineString", F.element_at(multi, 1)))
    else:  # Polygon: rings -> [[[x,y],...], ...]
        coords = F.zip_with(
            "rings_x", "rings_y",
            lambda rx, ry: F.zip_with(rx, ry, lambda a, b: F.array(r(a), r(b))))
        feature = feat(geometry_type, coords)
    return df.select(feature.alias("feature_json"))


def export_ndjson(df: DataFrame, path: str, **kwargs) -> None:
    """Newline-delimited GeoJSON sink (engine extension for scale): one
    Feature per line through a distributed ``df.write.text`` directory
    write — no driver-side document assembly. The single-file formats
    (export_geojson / topojson / svg / dsv) are inherently driver-bound
    by their one-document framing; this is the path for large layers
    (CLI spelling: ``-o format=ndjson <dir>`` or ``-o out.ndjson``)."""
    kwargs.pop("bbox", None)  # collection-level member; no wrapper here
    if not kwargs.get("property_cols"):
        kwargs = {k: v for k, v in kwargs.items() if k != "property_cols"}
        feats = to_geojson_features(df, bare_geometry=True, **kwargs)
    else:
        feats = to_geojson_features(df, **kwargs)
    (feats.select(F.col("feature_json").alias("value"))
     .write.mode("overwrite").text(path))


def export_geojson(df: DataFrame, bbox: Sequence[float] | None = None,
                   **kwargs) -> str:
    """Driver-side collection assembly (fixture-scale; at scale use
    to_geojson_features + write.text as GeoJSONSeq). A layer with NO
    attribute data exports as a GeometryCollection, matching the
    reference (geojson-export.js exportDatasetAsGeoJSON; Issue #174).
    ``bbox``: the layer bounds, written as the collection-level bbox
    member (opts.bbox, geojson-export.js:161-166)."""
    head = "" if bbox is None else \
        '"bbox":' + json.dumps([float(v) for v in bbox]) + ","
    if not kwargs.get("property_cols"):
        rows = to_geojson_features(df, bare_geometry=True, **kwargs).collect()
        geoms = ",".join(r.feature_json for r in rows)
        return ('{"type":"GeometryCollection",' + head +
                '"geometries":[' + geoms + "]}")
    rows = to_geojson_features(df, **kwargs).collect()
    feats = ",".join(r.feature_json for r in rows)
    return ('{"type":"FeatureCollection",' + head +
            '"features":[' + feats + "]}")


def import_files(spark, paths, combine: bool = True):
    """combine-files / merge-files (-i combine-files,
    /root/reference/src/io/mapshaper-import.js multi-file import): import
    several files (GeoJSON / TopoJSON / shapefile pairs / delimited) into
    one DataFrame per layer list, tagging each row with its source file
    stem. With combine=True the layers union (missing columns null-filled);
    otherwise the list of per-file DataFrames is returned."""
    import os
    from pyspark.sql import functions as F

    out = []
    for path in paths:
        stem, ext = os.path.splitext(os.path.basename(path))
        ext = ext.lower()
        if ext in (".json", ".geojson"):
            with open(path, encoding="utf-8-sig") as fh:
                df = import_geojson(spark, fh.read())
        elif ext == ".topojson":
            from mapshaper_spark.sources.topojson import import_topojson
            _arcs, df = import_topojson(
                spark, open(path, encoding="utf-8-sig").read())
        elif ext == ".shp":
            from mapshaper_spark.sources.shapefile import import_shapefile
            dbf = os.path.splitext(path)[0] + ".dbf"
            dbf_bytes = open(dbf, "rb").read() if os.path.exists(dbf) else None
            df = import_shapefile(spark, open(path, "rb").read(), dbf_bytes)
        elif ext in (".csv", ".tsv", ".txt"):
            from mapshaper_spark.sources.delim import import_delim
            df = import_delim(spark, path)
        else:
            raise ValueError(f"unsupported input format: {path}")
        out.append(df.withColumn("source", F.lit(stem)))
    if not combine:
        return out
    merged = out[0]
    for df in out[1:]:
        merged = merged.unionByName(df, allowMissingColumns=True)
    return merged
