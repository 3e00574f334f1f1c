"""SVG sink (-o .svg analog).

Reference semantics transcribed from:
- /root/reference/src/svg/mapshaper-svg.js (exportSVG template,
  exportLayerForSVG, getEmptyLayerForSVG layer defaults)
- /root/reference/src/svg/geojson-to-svg.js (geometry importers,
  SVG.stringify property ordering, applyStyleAttributes, stringEscape)
- /root/reference/src/svg/svg-common.js (propertiesBySymbolType)
- /root/reference/src/geom/mapshaper-pixel-transform.js
  (transformDatasetToPixels, parseMarginOption, applyMarginInPixels)

Distribution: per-feature element strings ("<path d=.../>", "<circle .../>",
"<text>...</text>") are built JVM-side — coordinate transform, precision
rounding, number formatting, XML escaping and style-attribute assembly are
all Catalyst expressions, so the heavy per-vertex work scales with the
cluster. Only the document shell (one string per feature) is assembled on
the driver, exactly like the reference's stringify pass.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# svg-common.js propertiesBySymbolType
_COMMON_PROPS = ("class", "opacity", "stroke", "stroke-width")
PROPS_BY_SYMBOL = {
    "polygon": _COMMON_PROPS + ("fill",),
    "polyline": _COMMON_PROPS,
    "point": _COMMON_PROPS + ("fill", "r"),
    "label": _COMMON_PROPS + ("fill", "r", "font-family", "font-size",
                              "text-anchor", "font-weight", "font-style",
                              "letter-spacing"),
}

ID_FIELD_DEFAULT = "FID"  # geojson-common.js GeoJSON.ID_FIELD


# ---------------------------------------------------------------------------
# pixel transform (mapshaper-pixel-transform.js)
# ---------------------------------------------------------------------------

def parse_margin_option(opt=None) -> list[float]:
    """parseMarginOption: '' -> [1,1,1,1]; '3,1' -> [3,1,3,1];
    '3 1 2' -> [3,1,2,2]; non-numeric entries default to 1."""
    s = str(opt) if isinstance(opt, (int, float)) else (opt or "")
    import re
    margins = re.split(r"[, ] *", s.strip())
    if len(margins) == 1:
        margins.append(margins[0])
    if len(margins) == 2:
        margins += [margins[0], margins[1]]
    if len(margins) == 3:
        margins.append(margins[2])
    out = []
    for t in margins[:4]:
        try:
            v = float(t)
            out.append(1.0 if math.isnan(v) else v)
        except ValueError:
            out.append(1.0)
    return out


def fit_transform(xmin: float, ymin: float, xmax: float, ymax: float,
                  width: Optional[float] = None,
                  height: Optional[float] = None,
                  margin=None, svg_scale: Optional[float] = None):
    """transformDatasetToPixels + applyMarginInPixels, as numbers.

    Returns (bxmin, bymax, kx, ky, width_out, height_out) such that
        px = (x - bxmin) * kx          py = (bymax - y) * ky   (invert_y)
    width_out/height_out are the rounded document dimensions.
    """
    margins = parse_margin_option(margin)
    if svg_scale and svg_scale > 0:
        width_px = (xmax - xmin) / svg_scale + margins[0] + margins[2]
        height_px = 0.0
    else:
        height_px = float(height or 0)
        width_px = float(width or (0 if height_px > 0 else 800))
    w, h = xmax - xmin, ymax - ymin
    margin_x = margins[0] + margins[2]
    margin_y = margins[1] + margins[3]
    pad_x = pad_y = 0.0
    kx = ky = 0.0
    if height_px > 0:
        ky = (h or w or 1.0) / (height_px - margin_y)
    if width_px > 0:
        kx = (w or h or 1.0) / (width_px - margin_x)
    if not kx:
        k = ky
        width_px = margin_x + w / k if w > 0 else height_px
    elif not ky:
        k = kx
        height_px = margin_y + h / k if h > 0 else width_px
    elif kx > ky:
        k = kx
        pad_y = k * (height_px - margin_y) - h
    elif ky > kx:
        k = ky
        pad_x = k * (width_px - margin_x) - w
    else:
        # kx == ky: content fits both constraints exactly. (The reference
        # error()s here — applyMarginInPixels's else branch — which can only
        # be a latent bug; no padding is needed.)
        k = kx
    # Bounds.padBounds(left, bottom, right, top), centered padding (wx=wy=.5)
    bxmin = xmin - (margins[0] * k + pad_x * 0.5)
    bymin = ymin - (margins[1] * k + pad_y * 0.5)
    bxmax = xmax + (margins[2] * k + pad_x * 0.5)
    bymax = ymax + (margins[3] * k + pad_y * 0.5)
    kx_px = width_px / (bxmax - bxmin) if bxmax > bxmin else 1.0
    ky_px = height_px / (bymax - bymin) if bymax > bymin else 1.0
    return (bxmin, bymax, kx_px, ky_px,
            int(round(width_px)), int(round(height_px)) or 1)


# ---------------------------------------------------------------------------
# JVM-side string helpers
# ---------------------------------------------------------------------------

def _esc(col: Column) -> Column:
    """SVG.stringEscape: & < > " ' -> entities (& first)."""
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    c = F.regexp_replace(c, '"', "&quot;")
    return F.regexp_replace(c, "'", "&apos;")


def _num_str(col: Column) -> Column:
    """JS-style number stringification: 10.0 -> '10', 0.50 -> '0.5'."""
    s = col.cast("string")
    s = F.regexp_replace(s, r"(\.\d*?)0+$", r"$1")
    s = F.regexp_replace(s, r"\.$", "")
    return F.regexp_replace(s, r"^-0$", "0")


def _px_round(col: Column, precision: float) -> Column:
    """setCoordinatePrecision grid rounding (post-transform pixel coords):
    getRoundingFunction (src/geom/mapshaper-rounding.js:33-41) snaps to the
    round(1/inc) grid — precision=0.2 means a 1/5 grid (3.14 -> 3.2), NOT
    1-decimal rounding.  (Tie direction on negative halves follows Spark's
    HALF_UP vs JS's half-toward-+inf; ties on a float grid are measure-zero.)
    """
    inv = 1.0 / precision
    if inv > 1:
        inv = math.floor(inv + 0.5)  # JS Math.round
    return F.round(col * inv) / inv


def _style_attrs(df: DataFrame, symbol: str) -> Column:
    """applyStyleAttributes: reserved style columns present in the frame,
    in column order; null/'' omitted (0 kept), numbers JS-formatted.
    The 'r' attribute on point symbols is assigned by the point importer,
    not here (svg-common.js SVG.setAttribute skips it)."""
    allowed = [p for p in PROPS_BY_SYMBOL[symbol] if p != "r"]
    parts = []
    for name in df.columns:
        if name not in allowed:
            continue
        c = F.col(name)
        sval = _num_str(c) if _is_numeric(df, name) else _esc(c.cast("string"))
        attr = F.concat(F.lit(f' {name}="'), sval, F.lit('"'))
        empty = c.isNull() | (c.cast("string") == "")
        parts.append(F.when(empty, F.lit("")).otherwise(attr))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def _is_numeric(df: DataFrame, name: str) -> bool:
    t = dict(df.dtypes)[name]
    return t in ("int", "bigint", "smallint", "tinyint", "float", "double",
                 "decimal") or t.startswith("decimal")


def _id_attr(df: DataFrame, id_prefix: str, id_field: Optional[str]) -> Column:
    """' id=\"<prefix><id>\"' when the id field is present and non-null
    (importGeoJSONFeatures: svgObj.properties.id = opts.id_prefix + obj.id)."""
    fld = id_field or (ID_FIELD_DEFAULT if ID_FIELD_DEFAULT in df.columns else None)
    if fld is None or fld not in df.columns:
        return F.lit("")
    c = F.col(fld)
    return F.when(c.isNull(), F.lit("")).otherwise(
        F.concat(F.lit(' id="'),
                 _esc(F.concat(F.lit(id_prefix), c.cast("string"))),
                 F.lit('"')))


# ---------------------------------------------------------------------------
# geometry importers (geojson-to-svg.js), as Catalyst expressions
# ---------------------------------------------------------------------------

def _path_d(rx: Column, ry: Column, bxmin: float, bymax: float,
            kx: float, ky: float, precision: float, close: bool) -> Column:
    """importPolygon / importLineString d strings over ring arrays:
    'M x y x y ...[ Z]' per part, parts joined by ' ' (implicit lineto —
    the reference never emits 'L')."""
    def part_d(r):
        pts = F.zip_with(
            r["rx"], r["ry"],
            lambda a, b: F.concat(
                _num_str(_px_round((a - F.lit(bxmin)) * F.lit(kx), precision)),
                F.lit(" "),
                _num_str(_px_round((F.lit(bymax) - b) * F.lit(ky), precision))))
        d = F.concat(F.lit("M "), F.array_join(pts, " "))
        return F.concat(d, F.lit(" Z")) if close else d
    parts = F.transform(F.arrays_zip(rx.alias("rx"), ry.alias("ry")), part_d)
    return F.array_join(parts, " ")


def path_feature_col(df: DataFrame, symbol: str, tf, precision: float,
                     id_prefix: str = "", id_field: Optional[str] = None) -> Column:
    """'<path d="..." [styles] [id]/>' per polygon/polyline feature."""
    bxmin, bymax, kx, ky, _, _ = tf
    d = _path_d(F.col("rings_x"), F.col("rings_y"), bxmin, bymax, kx, ky,
                precision, close=(symbol == "polygon"))
    el = F.concat(F.lit('<path d="'), d, F.lit('"'),
                  _style_attrs(df, symbol), _id_attr(df, id_prefix, id_field),
                  F.lit("/>"))
    # empty / null geometry -> empty '<g/>' (importGeoJSONFeatures)
    empty = F.col("rings_x").isNull() | (F.size("rings_x") == 0)
    return F.when(empty, F.lit("<g/>")).otherwise(el)


def point_feature_col(df: DataFrame, x: str, y: str, tf, precision: float,
                      id_prefix: str = "", id_field: Optional[str] = None,
                      point_symbol: str = "") -> Column:
    """Point features. Scalar x/y columns -> one symbol per row; array
    columns (multipoint shapes) -> '<g>' of symbols (importMultiPoint).
    A 'label-text' column switches the symbol type to label: a <text>
    element (with <tspan> continuation lines) replaces/augments the circle
    exactly like importLabel/importPoint."""
    bxmin, bymax, kx, ky, _, _ = tf
    is_label = "label-text" in df.columns
    symbol = "label" if is_label else "point"
    styles = _style_attrs(df, symbol)
    idc = _id_attr(df, id_prefix, id_field)
    has_r = "r" in df.columns
    r_num = F.coalesce(F.col("r").cast("double"), F.lit(0.0)) if has_r else F.lit(0.0)

    def trans_x(c):
        return _num_str(_px_round((c - F.lit(bxmin)) * F.lit(kx), precision))

    def trans_y(c):
        return _num_str(_px_round((F.lit(bymax) - c) * F.lit(ky), precision))

    multipoint = dict(df.dtypes).get(x, "").startswith("array")
    if multipoint:
        if point_symbol == "square":
            size = _num_str(r_num * 2)

            def one_sym(p):
                rect_x = _px_round((p["px"] - F.lit(bxmin)) * F.lit(kx),
                                   precision) - r_num
                rect_y = _px_round((F.lit(bymax) - p["py"]) * F.lit(ky),
                                   precision) - r_num
                return F.concat(F.lit('<rect x="'), _num_str(rect_x),
                                F.lit('" y="'), _num_str(rect_y),
                                F.lit('" width="'), size, F.lit('" height="'),
                                size, F.lit('"/>'))
        else:
            r_attr = F.when(r_num > 0, F.concat(F.lit(' r="'), _num_str(r_num),
                                                F.lit('"'))).otherwise(F.lit(""))

            def one_sym(p):
                return F.concat(F.lit('<circle cx="'), trans_x(p["px"]),
                                F.lit('" cy="'), trans_y(p["py"]), F.lit('"'),
                                r_attr, F.lit("/>"))
        syms = F.transform(
            F.arrays_zip(F.col(x).alias("px"), F.col(y).alias("py")), one_sym)
        inner = F.array_join(syms, "\n")
        single = F.size(x) == 1
        # 1 point -> bare symbol with styles+id; >1 -> <g styles id> of symbols
        bare = F.concat(
            F.regexp_replace(F.element_at(syms, 1), r"/>$", ""),
            styles, idc, F.lit("/>"))
        grouped = F.concat(F.lit("<g"), styles, idc, F.lit(">\n"), inner,
                           F.lit("\n</g>"))
        empty = F.col(x).isNull() | (F.size(x) == 0)
        return (F.when(empty, F.lit("<g/>"))
                .when(single, bare).otherwise(grouped))

    px, py = trans_x(F.col(x)), trans_y(F.col(y))
    if point_symbol == "square":
        size = _num_str(r_num * 2)
        rect_x = _px_round((F.col(x) - F.lit(bxmin)) * F.lit(kx), precision) - r_num
        rect_y = _px_round((F.lit(bymax) - F.col(y)) * F.lit(ky), precision) - r_num
        sym = F.concat(
            F.lit('<rect x="'), _num_str(rect_x),
            F.lit('" y="'), _num_str(rect_y),
            F.lit('" width="'), size, F.lit('" height="'), size, F.lit('"'))
    else:
        r_attr = F.when(r_num > 0, F.concat(F.lit(' r="'), _num_str(r_num),
                                            F.lit('"'))).otherwise(F.lit(""))
        sym = F.concat(F.lit('<circle cx="'), px, F.lit('" cy="'), py,
                       F.lit('"'), r_attr)
    if not is_label:
        return F.concat(sym, styles, idc, F.lit("/>"))
    # label path (importLabel): text element; symbol kept only when r > 0
    text = F.coalesce(F.col("label-text").cast("string"), F.lit(""))
    lines = F.split(text, r"(?i)\n|\\n|<br>")
    first = _esc(F.element_at(lines, 1))
    dx = (F.col("dx").cast("string") if "dx" in df.columns else F.lit(None))
    dy = (F.col("dy").cast("string") if "dy" in df.columns else F.lit(None))
    dx_attr = F.when(dx.isNull() | (dx == ""), F.lit("")).otherwise(
        F.concat(F.lit(' dx="'), _esc(dx), F.lit('"')))
    dy_attr = F.when(dy.isNull() | (dy == ""), F.lit("")).otherwise(
        F.concat(F.lit(' dy="'), _esc(dy), F.lit('"')))
    lh = (F.coalesce(F.col("line-height").cast("string"), F.lit("1.1em"))
          if "line-height" in df.columns else F.lit("1.1em"))
    tspans = F.array_join(F.transform(
        F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0))),
        lambda ln: F.concat(F.lit('<tspan x="'), px, F.lit('" dy="'), lh,
                            F.lit('"'), dx_attr, F.lit(">"), _esc(ln),
                            F.lit("</tspan>"))), "")
    label = F.concat(F.lit('<text x="'), px, F.lit('" y="'), py, F.lit('"'),
                     dx_attr, dy_attr, styles, idc, F.lit(">"), first, tspans,
                     F.lit("</text>"))
    with_sym = F.concat(F.lit("<g"), styles, idc, F.lit(">\n"),
                        sym, F.lit("/>\n"), label, F.lit("\n</g>"))
    return F.when(r_num > 0, with_sym).otherwise(label)


# ---------------------------------------------------------------------------
# layer + document assembly (mapshaper-svg.js)
# ---------------------------------------------------------------------------

def layer_group(name: str, df: DataFrame, geom_type: str, tf,
                precision: float = 0.0001, id_prefix: str = "",
                id_field: Optional[str] = None, point_symbol: str = "",
                x: str = "x", y: str = "y") -> str:
    """One '<g id=...>' layer element (exportLayerForSVG +
    getEmptyLayerForSVG defaults)."""
    attrs = f' id="{_esc_py(id_prefix + (name or ""))}"'
    if geom_type == "polyline":
        attrs += ' fill="none" stroke="black" stroke-width="1"'
    if "label-text" in df.columns:
        attrs += ' font-family="sans-serif" font-size="12" text-anchor="middle"'
    if geom_type in ("polygon", "polyline"):
        el = path_feature_col(df, geom_type, tf, precision, id_prefix, id_field)
    else:
        el = point_feature_col(df, x, y, tf, precision, id_prefix, id_field,
                               point_symbol)
    feats = [r[0] for r in df.select(el).collect()]
    return f"<g{attrs}>\n" + "\n".join(feats) + "\n</g>"


def _esc_py(s: str) -> str:
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;").replace("'", "&apos;"))


def export_svg_document(layers: Sequence[tuple], bounds: Sequence[float],
                        width: Optional[float] = None,
                        height: Optional[float] = None, margin=None,
                        svg_scale: Optional[float] = None,
                        precision: float = 0.0001, id_prefix: str = "",
                        id_field: Optional[str] = None,
                        point_symbol: str = "") -> str:
    """exportSVG: layers = [(name, df, geom_type)] or
    [(name, df, geom_type, xcol, ycol)]; one '<g>' per layer inside the
    reference's document template, framed on ``bounds``, the layers'
    combined (xmin, ymin, xmax, ymax)."""
    norm = [tuple(e[:5]) if len(e) > 4 else (*e[:3], "x", "y")
            for e in layers]
    tf = fit_transform(*bounds, width=width, height=height, margin=margin,
                       svg_scale=svg_scale)
    w_px, h_px = tf[4], tf[5]
    body = "\n".join(
        layer_group(name, df, geom, tf, precision=precision,
                    id_prefix=id_prefix, id_field=id_field,
                    point_symbol=point_symbol, x=x, y=y)
        for name, df, geom, x, y in norm)
    return ('<?xml version="1.0"?>\n'
            '<svg xmlns="http://www.w3.org/2000/svg" version="1.2" '
            f'baseProfile="tiny" width="{w_px}" height="{h_px}" '
            f'viewBox="0 0 {w_px} {h_px}" stroke-linecap="round" '
            f'stroke-linejoin="round">\n{body}\n</svg>')


def export_svg(df: DataFrame, bounds: Sequence[float], name: str = "layer1",
               geom_type: str = "polygon", **opts) -> str:
    """Single-layer convenience wrapper (the original sink surface)."""
    return export_svg_document([(name, df, geom_type)], bounds, **opts)
