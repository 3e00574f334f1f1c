"""TopoJSON source/sink.

Our native model (arcs table + features with signed arc refs) IS
TopoJSON-shaped; export is quantization + delta encoding
(/root/reference/src/topojson/topojson-export.js:13,66-100 — transform
scale = extent/(q-1), translate = (xmin, ymin), per-arc delta-encoded
integer coords), import is the inverse
(/root/reference/src/topojson/topojson-import.js).

Signed arc refs use the same complement convention (~id) as the reference
and the TopoJSON spec.

Quantization/delta math runs distributed as array transforms (pure JVM);
document assembly is driver-side (a TopoJSON file is a single JSON object).
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapshaper_spark.layers import bounds


# ---------------------------------------------------------------------------
# full-fidelity import: Topology -> catalog feature layers
# ---------------------------------------------------------------------------

def _decode_doc_arcs(topo: dict) -> list:
    """topology.arcs -> list of (xs, ys) float lists (delta + transform
    decode, TopoJSON.decodeArcs topojson-import.js:66-88)."""
    tr = topo.get("transform")
    kx, ky = (tr["scale"] if tr else (1.0, 1.0))
    tx, ty = (tr["translate"] if tr else (0.0, 0.0))
    out = []
    for arc in topo.get("arcs") or []:
        xs, ys = [], []
        cx = cy = 0
        for j, p in enumerate(arc):
            if tr:
                cx = p[0] if j == 0 else cx + p[0]
                cy = p[1] if j == 0 else cy + p[1]
                xs.append(cx * kx + tx)
                ys.append(cy * ky + ty)
            else:
                xs.append(float(p[0]))
                ys.append(float(p[1]))
        out.append((xs, ys))
    return out


def _math_area2(xs, ys) -> float:
    """Twice the math-convention (CCW-positive) shoelace area."""
    s = 0.0
    for i in range(len(xs) - 1):
        s += xs[i] * ys[i + 1] - xs[i + 1] * ys[i]
    return s


def _ref_coords(refs, arcs) -> tuple:
    """Signed arc refs -> one concatenated (xs, ys) path
    (the reference's path traversal; ~id == -(id+1) reverses)."""
    xs, ys = [], []
    for sid in refs:
        aid = sid if sid >= 0 else -(sid + 1)
        ax, ay = arcs[aid]
        if sid < 0:
            ax, ay = ax[::-1], ay[::-1]
        if xs:
            ax, ay = ax[1:], ay[1:]
        xs += ax
        ys += ay
    return xs, ys


def _dedup_consecutive(xs, ys) -> tuple:
    """Drop consecutive duplicate vertices (the reference's PathImporter
    skips duplicate points on import — quantized arcs routinely collapse
    neighbors onto one grid point)."""
    ox, oy = [xs[0]], [ys[0]]
    for x, y in zip(xs[1:], ys[1:]):
        if x != ox[-1] or y != oy[-1]:
            ox.append(x)
            oy.append(y)
    return ox, oy


def import_topojson_layers(spark: SparkSession, topo: dict | str):
    """Topology -> list of (object_name, features_df, kind, id_seen).

    The feature DataFrames use the catalog shape of the GeoJSON importer:
    (fid, geometry_type, rings_x, rings_y[, x, y]; fid alone in a
    data-only layer) + typed property
    columns; feature ``id`` lands in the reference's default id field FID
    (GeoJSON.ID_FIELD, geojson-common.js:6). Geometry decode follows
    topojson-import.js: delta+transform arcs, polygon rings rewound
    shell-CW/hole-CCW with zero-area rings dropped (importPolygonArcs),
    nested GeometryCollections flattened with the OUTER properties
    (GeometryImporter.addShape), mixed-type objects split per kind
    (divideFeaturesByType). Document decode is driver-side — a TopoJSON
    file is one JSON object; the scale path is parquet."""
    import pandas as _pd

    if isinstance(topo, str):
        topo = json.loads(topo)
    arcs = _decode_doc_arcs(topo)
    tr = topo.get("transform")

    def dec_pt(p):
        if tr:
            return (p[0] * tr["scale"][0] + tr["translate"][0],
                    p[1] * tr["scale"][1] + tr["translate"][1])
        return (float(p[0]), float(p[1]))

    _KIND = {"Point": "point", "MultiPoint": "point",
             "LineString": "polyline", "MultiLineString": "polyline",
             "Polygon": "polygon", "MultiPolygon": "polygon"}

    out = []
    for name, obj in (topo.get("objects") or {}).items():
        geoms = obj["geometries"] if obj.get("type") == "GeometryCollection" \
            else [obj]
        feats = []  # (gtype_label, rings_x, rings_y, x, y, rec, kind)
        id_seen = False
        for g in geoms:
            rec = dict(g.get("properties") or {})
            if "id" in g:
                rec["FID"] = g["id"]
                id_seen = True
            # flatten nested GeometryCollections, OUTER properties win
            stack, leaves = [g], []
            while stack:
                cur = stack.pop(0)
                if cur.get("type") == "GeometryCollection" and "geometries" in cur:
                    stack = list(cur["geometries"]) + stack
                else:
                    leaves.append(cur)
            kind = None
            rx, ry, px, py = [], [], None, None
            gtype = None
            for leaf in leaves:
                t = leaf.get("type")
                if not t:
                    continue
                if kind is not None and _KIND[t] != kind:
                    # topojson-import-test.js 'error on nested
                    # GeometryCollection objects of mixed types'
                    raise ValueError(
                        "Unable to import mixed geometry types in a "
                        "nested GeometryCollection")
                kind = _KIND[t]
                gtype = t
                if t == "Point":
                    px, py = dec_pt(leaf["coordinates"])
                elif t == "MultiPoint":
                    pts = [dec_pt(p) for p in leaf["coordinates"]]
                    rx.append([p[0] for p in pts])
                    ry.append([p[1] for p in pts])
                elif t == "LineString":
                    xs, ys = _dedup_consecutive(
                        *_ref_coords(leaf["arcs"], arcs))
                    if len(xs) > 1:
                        rx.append(xs); ry.append(ys)
                elif t == "MultiLineString":
                    for part in leaf["arcs"]:
                        xs, ys = _dedup_consecutive(
                            *_ref_coords(part, arcs))
                        if len(xs) > 1:
                            rx.append(xs); ry.append(ys)
                elif t in ("Polygon", "MultiPolygon"):
                    polys = [leaf["arcs"]] if t == "Polygon" else leaf["arcs"]
                    for rings in polys:
                        for k, ring in enumerate(rings):
                            xs, ys = _dedup_consecutive(
                                *_ref_coords(ring, arcs))
                            a2 = _math_area2(xs, ys)
                            if a2 == 0:
                                continue  # zero-area ring dropped
                            # shell: CW (math area < 0); hole: CCW
                            if (k == 0 and a2 > 0) or (k > 0 and a2 < 0):
                                xs, ys = xs[::-1], ys[::-1]
                            rx.append(xs); ry.append(ys)
            feats.append((gtype, rx, ry, px, py, rec, kind))

        kinds_present = {f[6] for f in feats if f[6]}
        # one layer per kind present (mixed objects divide; null-geometry
        # features ride with the first kind, or a table-only layer)
        targets = sorted(kinds_present) or [None]
        for kind in targets:
            sel = [f for f in feats
                   if f[6] == kind or (f[6] is None and kind == targets[0])]
            if not sel:
                continue
            recs = [f[5] for f in sel]
            pdf = _pd.DataFrame({"fid": range(len(sel))})
            if kind is not None:  # a data-only layer has no geometry
                pdf["geometry_type"] = [f[0] for f in sel]
            if kind == "point":
                if any(f[0] == "MultiPoint" for f in sel):
                    pdf["rings_x"] = [f[1] or None for f in sel]
                    pdf["rings_y"] = [f[2] or None for f in sel]
                if any(f[0] == "Point" for f in sel) or \
                        not any(f[0] == "MultiPoint" for f in sel):
                    pdf["x"] = [f[3] for f in sel]
                    pdf["y"] = [f[4] for f in sel]
            elif kind in ("polyline", "polygon"):
                pdf["rings_x"] = [f[1] or None for f in sel]
                pdf["rings_y"] = [f[2] or None for f in sel]
            # first-seen property order, like the reference's DataTable
            keys = list(dict.fromkeys(k for r in recs for k in r))
            for k in keys:
                pdf[k] = [r.get(k) for r in recs]
            out.append((name, typed_df(spark, pdf), kind, id_seen))
    return out


def typed_df(spark, pdf):
    """pandas frame -> Spark DataFrame with an explicitly inferred schema,
    NaN normalized to null (pandas floatifies missing scalars)."""
    schema = _infer_schema(pdf)
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return spark.createDataFrame(pdf, schema=schema)


def _infer_schema(pdf):
    """Explicit StructType for a driver-assembled frame: pandas/Spark
    inference chokes on all-None columns (a layer of type:null features
    has no geometry_type), so type each column from its first non-null
    value, defaulting string."""
    from pyspark.sql import types as T

    def _vtype(v):
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        if isinstance(v, (list, tuple)):
            inner = next((x for x in v if x is not None), None)
            return T.ArrayType(_vtype(inner) if inner is not None
                               else T.StringType())
        if isinstance(v, dict):
            vv = next((x for x in v.values() if x is not None), None)
            return T.MapType(T.StringType(),
                             _vtype(vv) if vv is not None else T.StringType())
        return T.StringType()

    fields = []
    for col in pdf.columns:
        v = next((x for x in pdf[col]
                  if x is not None and not (isinstance(x, float) and
                                            x != x)), None)
        fields.append(T.StructField(
            str(col), _vtype(v) if v is not None else T.StringType(), True))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# full-fidelity export: catalog feature layers -> Topology
# ---------------------------------------------------------------------------

def _group_polygon_rings(rings, arcs, reverse_winding=False) -> list:
    """Signed-ref ring lists -> list of polygons (shell + its holes), the
    reference's explodePolygon/groupPolygonRings (mapshaper-path-utils.js:
    237-330): reference-convention area (CW-positive; inverted when the
    pixel transform flipped y) picks shells, zero-area rings drop, each
    hole attaches to the SMALLEST shell whose bbox contains its bbox and
    whose area exceeds it; orphan holes drop."""
    sign = -1.0 if reverse_winding else 1.0
    shells = []  # [refs, area, bbox]
    holes = []
    for refs in rings:
        xs, ys = _ref_coords(refs, arcs)
        # reference getPlanarPathArea: CW rings positive = -math_area/2
        area = -_math_area2(xs, ys) / 2.0 * sign
        bbox = (min(xs), min(ys), max(xs), max(ys))
        if area > 0:
            shells.append([refs, area, bbox])
        elif area < 0:
            holes.append([refs, -area, bbox])
        # zero-area ring: skipped
    groups = [[s[0]] for s in shells]
    for refs, harea, hb in holes:
        best = -1
        best_area = 0.0
        for i, (_refs, sarea, sb) in enumerate(shells):
            contained = (sb[0] <= hb[0] and sb[1] <= hb[1] and
                         sb[2] >= hb[2] and sb[3] >= hb[3]) and sarea > harea
            if contained and (best_area == 0.0 or sarea < best_area):
                best_area = sarea
                best = i
        if best >= 0:
            groups[best].append(refs)
    return groups


def _round_js(v: float, precision: float) -> float:
    """Driver-side twin of attributes.round_coords (getRoundingFunction)."""
    inv = 1.0 / precision
    if inv > 1:
        inv = float(round(inv))
    return math.floor(v * inv + 0.5) / inv


def _get_id_field(fields, opts) -> str | None:
    """internal.getIdField (geojson-export.js:325-337): id-field option
    names first, then the default FID."""
    opt = opts.get("id_field")
    ids = [opt] if isinstance(opt, str) else list(opt or [])
    ids.append("FID")
    for n in ids:
        if n in fields:
            return n
    return None


def export_topology_doc(layers: list, opts: dict | None = None) -> dict:
    """Catalog layers -> one TopoJSON Topology document
    (TopoJSON.exportTopology, topojson-export.js:52-89).

    ``layers``: [{name, df, kind, props(list of data columns)}] in catalog
    order — every layer becomes a named GeometryCollection object and path
    layers share ONE arc table (build_topology over all rings together, so
    borders shared ACROSS layers also serialize once). ``opts``:
    quantization / no_quantization / precision / topojson_precision (the
    calcExportBounds ladder, :166-181), bbox, id_field, no_point_quantization,
    width/height/margin (pixel transform with inverted y), crs passthrough.

    Feature/ref assembly is driver-side (one JSON document is inherently a
    driver artifact); arc quantization + delta encoding and the topology
    build run distributed."""
    from mapshaper_spark.operators.topology import build_topology

    opts = opts or {}
    spark = layers[0]["df"].sparkSession if layers else None

    # ---- collect features driver-side, per layer, in row order
    collected = []  # per layer: list of row dicts
    for lay in layers:
        df = lay["df"]
        rows = [r.asDict(recursive=True) for r in df.collect()]
        for r in rows:  # NaN = missing (pandas-assembled frames)
            for k in ("x", "y"):
                v = r.get(k)
                if isinstance(v, float) and v != v:
                    r[k] = None
        collected.append(rows)

    # ---- optional pixel transform (width=/height=: invert y)
    if (opts.get("width") or 0) > 0 or (opts.get("height") or 0) > 0:
        from mapshaper_spark.sources.svg import fit_transform
        xs_all, ys_all = [], []
        for lay, rows in zip(layers, collected):
            for r in rows:
                if r.get("x") is not None:
                    xs_all.append(r["x"]); ys_all.append(r["y"])
                for ring in (r.get("rings_x") or []):
                    xs_all.extend(ring)
                for ring in (r.get("rings_y") or []):
                    ys_all.extend(ring)
        if xs_all:
            bx, by, kx, ky, _w, _h = fit_transform(
                min(xs_all), min(ys_all), max(xs_all), max(ys_all),
                width=opts.get("width"), height=opts.get("height"),
                margin=opts.get("margin"))

            def _px(x):
                return (x - bx) * kx

            def _py(y):
                return (by - y) * ky

            for rows in collected:
                for r in rows:
                    if r.get("x") is not None:
                        r["x"] = _px(r["x"]); r["y"] = _py(r["y"])
                    if r.get("rings_x"):
                        r["rings_x"] = [[_px(x) for x in ring]
                                        for ring in r["rings_x"]]
                        r["rings_y"] = [[_py(y) for y in ring]
                                        for ring in r["rings_y"]]

    # ---- setCoordinatePrecision (topojson-export.js:31-33): precision=
    # rounds every coordinate up front AND still feeds the quantization
    # ladder below
    prec = opts.get("precision")
    if prec:
        for rows in collected:
            for r in rows:
                if r.get("x") is not None:
                    r["x"] = _round_js(r["x"], prec)
                    r["y"] = _round_js(r["y"], prec)
                if r.get("rings_x"):
                    r["rings_x"] = [[_round_js(x, prec) for x in ring]
                                    for ring in r["rings_x"]]
                    r["rings_y"] = [[_round_js(y, prec) for y in ring]
                                    for ring in r["rings_y"]]

    # ---- shared arc table over ALL path layers
    path_layer_idx = [i for i, lay in enumerate(layers)
                      if lay["kind"] in ("polygon", "polyline")]
    has_paths = False
    ring_rows = []  # (layer_idx, feat_idx, ring_idx, xs, ys)
    for li in path_layer_idx:
        for fi, r in enumerate(collected[li]):
            for ri, (xs, ys) in enumerate(zip(r.get("rings_x") or [],
                                              r.get("rings_y") or [])):
                if xs:
                    ring_rows.append((li, fi, ri, list(xs), list(ys)))
                    has_paths = True
    arc_coords: list = []   # dense arc list [(xs, ys)]
    ring_refs: dict = {}    # (li, fi) -> [refs per ring, ring order]
    if has_paths:
        paths = spark.createDataFrame(
            [(i, xs, ys) for i, (_li, _fi, _ri, xs, ys)
             in enumerate(ring_rows)],
            "path_id long, xs array<double>, ys array<double>")
        arcs_df, refs_df = build_topology(paths, "path_id")
        arcs_sorted = sorted(arcs_df.collect(), key=lambda r: r.arc_id)
        dense = {r.arc_id: i for i, r in enumerate(arcs_sorted)}
        arc_coords = [(list(r.xs), list(r.ys)) for r in arcs_sorted]
        by_path: dict = {}
        for r in refs_df.collect():
            by_path.setdefault(r.path_id, {})[r.arc_seq] = int(r.signed)
        for pid, (li, fi, ri, _xs, _ys) in enumerate(ring_rows):
            seq = by_path[pid]
            refs = []
            for s in sorted(seq):
                sid = seq[s]
                refs.append(dense[sid] if sid >= 0
                            else ~dense[-(sid + 1)])
            ring_refs.setdefault((li, fi), []).append((ri, refs))

    # ---- dataset bounds
    xs_all, ys_all = [], []
    for xs, ys in arc_coords:
        xs_all += [min(xs), max(xs)]
        ys_all += [min(ys), max(ys)]
    for lay, rows in zip(layers, collected):
        if lay["kind"] == "point":
            for r in rows:
                if r.get("x") is not None:
                    xs_all.append(r["x"]); ys_all.append(r["y"])
                for ring in (r.get("rings_x") or []):
                    xs_all += ring
                for ring in (r.get("rings_y") or []):
                    ys_all += ring
    bounds = ((min(xs_all), min(ys_all), max(xs_all), max(ys_all))
              if xs_all else None)

    topology: dict = {"type": "Topology", "arcs": []}
    if opts.get("bbox") and bounds:
        topology["bbox"] = list(bounds)

    # ---- quantization transform (calcExportBounds ladder)
    transform = None
    quantize = None
    if not opts.get("no_quantization") and \
            (opts.get("quantization") or has_paths) and bounds:
        xmin, ymin, xmax, ymax = bounds
        w, h = xmax - xmin, ymax - ymin
        tp = opts.get("topojson_precision") or 0
        q = opts.get("quantization") or 0
        p = opts.get("precision") or 0
        if tp > 0 or not (q > 0 or p > 0):
            # avg |dx|, |dy| over all segments (getAvgSegment2) * k
            k = tp if tp > 0 else 0.02
            sdx = sdy = 0.0
            cnt = 0
            for xs, ys in arc_coords:
                for i in range(len(xs) - 1):
                    sdx += abs(xs[i + 1] - xs[i])
                    sdy += abs(ys[i + 1] - ys[i])
                    cnt += 1
            ux = (sdx / cnt) * k if cnt else 0.0
            uy = (sdy / cnt) * k if cnt else 0.0
        elif q > 0:
            ux = w / (q - 1) if q > 1 else 0.0
            uy = h / (q - 1) if q > 1 else 0.0
        else:
            ux = uy = p
        xmax2 = math.ceil(w / ux) if ux > 0 and w > 0 else 0
        ymax2 = math.ceil(h / uy) if uy > 0 and h > 0 else 0
        mx = (xmax2 / w) if (w > 0 and xmax2 > 0) else 1.0
        my = (ymax2 / h) if (h > 0 and ymax2 > 0) else 1.0

        def quantize(x, y):
            # JS Math.round = floor(v + 0.5), not banker's rounding
            return (int(math.floor((x - xmin) * mx + 0.5)),
                    int(math.floor((y - ymin) * my + 0.5)))

        transform = {"scale": [1.0 / mx, 1.0 / my],
                     "translate": [xmin, ymin]}
        topology["transform"] = transform

    # ---- arcs: quantize + delta encode; track collapsed arcs
    collapsed = set()
    final_arcs = []  # post-quantization coords, for ring area/bbox grouping
    for ai, (xs, ys) in enumerate(arc_coords):
        if quantize:
            pts = [list(quantize(x, y)) for x, y in zip(xs, ys)]
            if all(p == pts[0] for p in pts):
                collapsed.add(ai)
            final_arcs.append(([p[0] for p in pts], [p[1] for p in pts]))
            enc = []
            px = py = 0
            for i, p in enumerate(pts):
                enc.append(p if i == 0 else [p[0] - px, p[1] - py])
                px, py = p
            topology["arcs"].append(enc)
        else:
            pts = [[x, y] for x, y in zip(xs, ys)]
            if all(p == pts[0] for p in pts):
                collapsed.add(ai)
            final_arcs.append((list(xs), list(ys)))
            topology["arcs"].append(pts)

    def _filter_refs(rings):
        """filterEmptyArcs: drop refs to collapsed arcs; drop emptied
        rings; None when nothing is left."""
        out = []
        for refs in rings:
            kept = [s for s in refs
                    if (s if s >= 0 else ~s) not in collapsed]
            if kept:
                out.append(kept)
        return out or None

    # ---- objects
    objects = {}
    for li, (lay, rows) in enumerate(zip(layers, collected)):
        name = lay["name"] or f"layer{li + 1}"
        kind = lay["kind"]
        fields = list(lay.get("props") or [])
        id_field = _get_id_field(fields, opts)
        use_props = bool(fields) and not opts.get("cut_table") and \
            not (len(fields) == 1 and fields[0] == "FID" and
                 not opts.get("id_field"))
        geometries = []
        for fi, r in enumerate(rows):
            geom: dict = {"type": None}
            if kind == "point":
                if r.get("x") is not None:
                    cx, cy = r["x"], r["y"]
                    if quantize and not opts.get("no_point_quantization"):
                        cx, cy = quantize(cx, cy)
                    geom = {"type": "Point", "coordinates": [cx, cy]}
                elif r.get("rings_x"):
                    pts = list(zip(r["rings_x"][0], r["rings_y"][0]))
                    if quantize and not opts.get("no_point_quantization"):
                        pts = [quantize(x, y) for x, y in pts]
                    geom = {"type": "MultiPoint",
                            "coordinates": [list(p) for p in pts]}
            elif kind in ("polyline", "polygon"):
                rings = [refs for _ri, refs in
                         sorted(ring_refs.get((li, fi), []))]
                rings = _filter_refs(rings)
                if rings:
                    if kind == "polyline":
                        geom = ({"type": "LineString", "arcs": rings[0]}
                                if len(rings) == 1 else
                                {"type": "MultiLineString", "arcs": rings})
                    elif len(rings) == 1:
                        # single surviving ring exports verbatim, shell or
                        # not (exportPolygonGeom, topojson-export.js:219-222)
                        geom = {"type": "Polygon", "arcs": rings}
                    else:
                        polys = _group_polygon_rings(
                            rings, final_arcs,
                            reverse_winding=bool(opts.get("width") or
                                                 opts.get("height")))
                        if not polys:
                            geom = {"type": None}
                        elif len(polys) == 1:
                            geom = {"type": "Polygon", "arcs": polys[0]}
                        else:
                            geom = {"type": "MultiPolygon", "arcs": polys}
            if use_props:
                rec = {k: r.get(k) for k in fields}
                if id_field == "FID" and not opts.get("id_field"):
                    rec.pop("FID", None)
                geom["properties"] = rec
            if id_field is not None and id_field in r:
                geom["id"] = r[id_field]
            geometries.append(geom)
        objects[name] = {"type": "GeometryCollection",
                         "geometries": geometries}
    topology["objects"] = objects
    if opts.get("crs") is not None:
        topology["crs"] = opts["crs"]
    return topology


def export_topojson(arcs: DataFrame, features: DataFrame, key: str,
                    object_name: str = "layer", quantization: int = 10000,
                    presimplify: bool = False) -> dict:
    """arcs(arc_id, xs, ys) + features(key, parts) -> TopoJSON dict.

    ``presimplify`` embeds the per-vertex simplification thresholds from the
    ``zs`` column as a third coordinate per point (the reference's
    -o presimplify, /root/reference/src/topojson/topojson-presimplify.js:3-10
    — thresholds quantized like mapbox topojson-simplify expects)."""
    xmin, ymin, xmax, ymax = bounds(arcs)
    kx = (xmax - xmin) / (quantization - 1) if xmax > xmin else 1.0
    ky = (ymax - ymin) / (quantization - 1) if ymax > ymin else 1.0

    qx = F.transform("xs", lambda v: F.round((v - F.lit(xmin)) / F.lit(kx)).cast("long"))
    qy = F.transform("ys", lambda v: F.round((v - F.lit(ymin)) / F.lit(ky)).cast("long"))
    cols = [F.col("arc_id"), qx.alias("qx"), qy.alias("qy")]
    if presimplify:
        # getPresimplifyFunction (topojson-presimplify.js:3-10): z maps to
        # ceil(z * 10000 / bbox_width) display units, Infinity -> 0
        kz = 10000.0 / (xmax - xmin) if xmax > xmin else 1.0
        qz = F.transform("zs", lambda v: F.when(
            v == F.lit(float("inf")), F.lit(0)
        ).otherwise(F.ceil(v * F.lit(kz))).cast("long"))
        cols.append(qz.alias("qz"))
    quant = arcs.select(*cols).orderBy("arc_id")

    topo_arcs = []
    for r in quant.collect():
        pts = []
        px = py = 0
        zs = r.qz if presimplify else None
        for i, (x, y) in enumerate(zip(r.qx, r.qy)):
            p = [int(x), int(y)] if i == 0 else [int(x - px), int(y - py)]
            if zs is not None:
                p.append(int(zs[i]))
            pts.append(p)
            px, py = x, y
        topo_arcs.append(pts)

    geoms = []
    for r in features.select(key, "parts").orderBy(key).collect():
        rings = [[int(sid) for sid in part] for part in r.parts]
        geoms.append({"type": "Polygon", "arcs": rings,
                      "properties": {key: r[key]}})

    return {
        "type": "Topology",
        "transform": {"scale": [kx, ky], "translate": [xmin, ymin]},
        "arcs": topo_arcs,
        "objects": {object_name: {"type": "GeometryCollection", "geometries": geoms}},
    }


def import_topojson(spark: SparkSession, topo: dict | str, object_name: str | None = None):
    """TopoJSON dict -> (arcs_df, features_df(key='fid', parts))."""
    import pyarrow as pa

    if isinstance(topo, str):
        topo = json.loads(topo)
    tr = topo.get("transform")
    kx, ky = (tr["scale"] if tr else (1.0, 1.0))
    tx, ty = (tr["translate"] if tr else (0.0, 0.0))

    arc_ids, xss, yss, ns, bbs = [], [], [], [], []
    for i, arc in enumerate(topo["arcs"]):
        xs, ys = [], []
        cx = cy = 0
        for j, p in enumerate(arc):
            dx, dy = p[0], p[1]  # optional 3rd value (presimplify z) ignored
            if tr:
                cx = dx if j == 0 else cx + dx
                cy = dy if j == 0 else cy + dy
                xs.append(cx * kx + tx)
                ys.append(cy * ky + ty)
            else:
                xs.append(float(dx))
                ys.append(float(dy))
        arc_ids.append(i)
        xss.append(xs)
        yss.append(ys)
        ns.append(len(xs))
        bbs.append({"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)})
    arcs = spark.createDataFrame(pa.table({
        "arc_id": pa.array(arc_ids, pa.int64()),
        "xs": pa.array(xss, pa.list_(pa.float64())),
        "ys": pa.array(yss, pa.list_(pa.float64())),
        "n": pa.array(ns, pa.int32()),
        "bbox": pa.array(bbs, pa.struct([("xmin", pa.float64()), ("ymin", pa.float64()),
                                         ("xmax", pa.float64()), ("ymax", pa.float64())])),
    }))

    if object_name is None:
        object_name = next(iter(topo["objects"]))
    geoms = topo["objects"][object_name]["geometries"]
    fids, parts = [], []
    for i, g in enumerate(geoms):
        fids.append(i)
        parts.append([[int(s) for s in ring] for ring in g["arcs"]])
    features = spark.createDataFrame(pa.table({
        "fid": pa.array(fids, pa.int64()),
        "parts": pa.array(parts, pa.list_(pa.list_(pa.int32()))),
    }))
    return arcs, features
