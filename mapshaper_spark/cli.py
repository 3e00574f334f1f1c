"""mapshaper-style command-string front end — the reference's CLI surface.

The reference is driven by command strings (``mapshaper in.shp -filter
'POP > 100' -dissolve STATE -o out.json``); its tests call
``api.runCommands``. This module is the engine's analog:

    from mapshaper_spark.cli import run_commands
    cat = run_commands(spark, "-i states.shp -filter 'POP > 0' "
                              "-dissolve REGION sum-fields=POP -o out.json")

Grammar (re-implemented from the public behavior of
/root/reference/src/cli/mapshaper-parse-commands.js — NOT a port: tokens
come from shlex, which honors the same single/double-quote rules):

  * a token matching ``-[a-zA-Z]...`` starts a command; everything up to
    the next command token belongs to it;
  * ``key=value`` tokens are named options (``-`` in keys normalized to
    ``_``); bare tokens are positional values; a bare known flag word
    (``remove-empty``, ``keep-shapes``...) is a boolean option;
  * the leading tokens before any command are implicit ``-i`` inputs.

State threads through a :class:`Catalog` of named layers, mirroring the
reference's internal.Catalog (src/dataset/mapshaper-catalog.js): ``-target``
selects, ``-o`` serializes. Each command delegates to the operators package;
nothing here re-implements geometry.

Layer geometry is carried the engine's way: polygons/paths as
``rings_x``/``rings_y`` array columns, points as ``lon``/``lat`` (or
``x``/``y``) columns — the shapes every operator in this repo speaks.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import shlex
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapshaper_spark.sources.geojson import GEOMETRY_COLUMNS as _IMPORT_GEOMETRY

# boolean flag words per command (reference option definitions,
# src/cli/mapshaper-options.js)
_FLAG_WORDS = {
    "remove-empty", "keep-shapes", "lock-box", "descending", "unjoined",
    "unmatched",
    "combine-files", "merge-files", "erase", "centroid", "inner",
    "vertices", "endpoints",
    "no-gap-fill", "planar", "force", "each", "closed", "geometry",
    "postprocess", "debug", "final", "bbox", "snap", "auto-snap",
    "no-quantization", "singles", "no-point-quantization", "cut-table",
    "naive", "no-topology", "no-repair", "stats",
}

# named options the grammar recognizes; any other k=v token is a positional
# VALUE (e.g. the -each expression 'FOO=0') — mirroring the reference's
# per-command option definitions (src/cli/mapshaper-options.js)
_KNOWN_OPTS = {
    "name", "where", "keys", "fields", "sum-fields", "copy-fields", "calc",
    "max-count", "format", "bbox", "min-area", "min-vertices", "interval",
    "precision", "source", "scale", "rotate", "shift", "anchor", "x", "y",
    "percentage", "target-name", "key", "names", "encoding", "delimiter",
    "snap-interval", "min-gap-area",
    # the reference gives (nearly) every command a targets option
    # (src/cli/mapshaper-options.js targetOpt); dispatch_command retargets
    "target",
}

# per-command option names — the reference's parser is context-sensitive
# (each command declares its own options, src/cli/mapshaper-options.js), so
# e.g. fill= is an option of -style but a plain assignment inside -each
_STYLE_OPTS = {"fill", "stroke", "stroke-width", "opacity", "r", "class"}
_CMD_OPTS = {
    "point-grid": {"cols", "rows"},
    "polygon-grid": {"cols", "rows"},
    "rectangle": {"offset"},
    "shape": {"coordinates", "offsets"},
    "cluster": {"id-field", "pct", "count", "max-width", "max-height",
                "max-area", "group-by"},
    "dissolve": {"field"},
    "dissolve2": {"field"},
    "data-fill": {"field"},
    "slice": {"id-field"},
    "style": _STYLE_OPTS,
    "svg-style": _STYLE_OPTS,
    "drop": {"target"},
    "merge-layers": {"target"},
    "o": {"target", "width", "height", "margin", "svg-scale", "id-prefix",
          "id-field", "point-symbol", "field-order", "quantization",
          "extension", "topojson-precision"},
    "colorizer": {"colors", "breaks", "categories", "other", "nodata"},
    "target": {"type"},
    "include": {"file"},
    "polygons": {"gap-tolerance"},
    "proj": {"from", "match"},
    "i": {"files", "field-types", "string-fields"},
}

_CMD_RE = re.compile(r"^-[a-zA-Z][\w-]*$")

# implicit row-order column threaded by -sort and honored by -o (the
# reference's feature order; a distributed engine must carry it explicitly)
_ORDER_COL = "__ms_order"


@dataclass
class Command:
    name: str
    values: list[str] = field(default_factory=list)
    options: dict[str, str | bool] = field(default_factory=dict)

    def opt(self, key: str, default=None):
        return self.options.get(key.replace("-", "_"), default)

    def num(self, key: str, default=None):
        v = self.opt(key)
        return default if v is None else float(v)

    def flag(self, key: str) -> bool:
        return bool(self.opt(key, False))

    def csv(self, key: str) -> list[str]:
        v = self.opt(key)
        return parse_string_list(str(v)) if v else []

    def colors(self, key: str) -> list[str]:
        v = self.opt(key)
        return parse_color_list(str(v)) if v else []


def _trim_quotes(s: str) -> str:
    """utils.trimQuotes (mapshaper-chunker.js:20-30)."""
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "\"'":
        return s[1:-1]
    return s


def split_tokens(s: str, delim_chars: str) -> list[str]:
    """internal.splitTokens (/root/reference/src/cli/mapshaper-chunker.js
    :7-18): delimiter-separated chunks, quoted runs kept whole, each chunk
    quote-trimmed."""
    rxp = re.compile(r'(?:[^%s\'"]|"(?:\\"|[^"])*"|\'(?:\\\'|[^\'])*\')+'
                     % re.escape(delim_chars))
    return [_trim_quotes(c) for c in rxp.findall(s) if c and c != "\\"]


def parse_string_list(token: str) -> list[str]:
    """internal.parseStringList (option-parser.js:425-432): comma list,
    quotes trimmed from the whole list and from members — so both
    '\"County FIPS,State FIPS\"' and '\"County FIPS\",\"State FIPS\"'
    yield two members."""
    lst = split_tokens(token, ",")
    if len(lst) == 1:
        lst = split_tokens(lst[0], ",")
    return [s.strip() for s in lst]


def parse_color_list(token: str) -> list[str]:
    """internal.parseColorList (option-parser.js:435-446): spaces and/or
    commas delimit, but commas inside rgb()/rgba()/hsl() calls don't
    split (the reference's lookahead kludge, ported verbatim)."""
    token2 = re.sub(r", *(?=[^(]*\))", "~~~", token)
    lst = split_tokens(token2, ", ")
    if len(lst) == 1:
        lst = split_tokens(lst[0], ", ")
    return [s.replace("~~~", ",") for s in lst]


def parse_commands(command_str: str) -> list[Command]:
    """Command string -> list of Command (name, positional values, options).

    For -i / -o the reference's space-separated option form is accepted
    too ('-i file.shp precision 0.1 name states', options-test.js import/
    output blocks): a bare known value-option name consumes the next
    token as its value (an empty value in that form is an error, matching
    the reference's whitespace-token rejection). Expression-carrying
    commands keep bare words positional so '-each ...' text is never
    eaten."""
    tokens = shlex.split(command_str)
    cmds: list[Command] = []
    cur: Command | None = None
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        i += 1
        if _CMD_RE.match(tok):
            cur = Command(tok[1:])
            cmds.append(cur)
            continue
        if cur is None:  # leading tokens = implicit -i
            cur = Command("i")
            cmds.append(cur)
        m = re.match(r"^([\w-]+)=(.*)$", tok)
        if m and (m.group(1) in _KNOWN_OPTS or
                  m.group(1) in _CMD_OPTS.get(cur.name, ())):
            cur.options[m.group(1).replace("-", "_")] = m.group(2)
        elif tok in _FLAG_WORDS:
            cur.options[tok.replace("-", "_")] = True
        elif cur.name in ("i", "o") and tok not in _FLAG_WORDS and \
                (tok in _KNOWN_OPTS or tok in _CMD_OPTS.get(cur.name, ())):
            if i >= len(tokens) or _CMD_RE.match(tokens[i]) or \
                    not tokens[i]:
                raise ValueError(
                    f"-{cur.name} {tok}: missing a value for option "
                    f"'{tok}'")
            cur.options[tok.replace("-", "_")] = tokens[i]
            i += 1
        else:
            cur.values.append(tok)
    return cmds


@dataclass(frozen=True, eq=False)
class Layer:
    """One named layer: its frame plus what the program knows about it
    (the reference's layer record with its dataset's info,
    src/dataset/mapshaper-dataset-utils.js). A command never edits one: it
    puts a whole new value in the catalog (``Catalog.replace``), derives
    one from its source (``with_df``), or merges several
    (``_merged_layer``)."""
    df: DataFrame
    hint: str | None = None  # the kind an importer or command declared
    format: str | None = None  # input format, which a pathless -o mirrors
    delim: str | None = None  # sniffed input delimiter (input_delimiter)
    crs: str | None = None  # proj4
    prj: str | None = None  # the imported .prj WKT, re-exported untouched
    json_crs: object = None  # an imported TopoJSON crs object
    auto_fid: bool = False  # the fid column is the import's, not data
    # coordinate-named columns (x/y/lon/lat) that are REAL data fields
    # (e.g. after -points x=lat ...), so exports keep them as properties
    # (commands-test.js 'converts csv to geojson points')
    coord_data: frozenset = frozenset()
    # what an importer learned for free about THIS frame (GeoJSON:
    # ``bounds``); a value holding another frame starts without them
    facts: dict = field(default_factory=dict)

    @property
    def kind(self) -> str:
        """The declared kind, else the one the frame's columns show."""
        return self.hint or _geometry_kind(self.df)

    def with_df(self, df: DataFrame, **changes) -> Layer:
        """This layer holding ``df``: the facts about the old frame go,
        and so does a ring-kind hint the new frame has no rings for
        (-lines turns a polygon layer into arcs)."""
        hint = changes.pop("hint", self.hint)
        if hint in ("polygon", "polyline") and "rings_x" not in df.columns:
            hint = None
        return dataclasses.replace(self, df=df, hint=hint, facts={},
                                   **changes)


@dataclass
class Catalog:
    """Named layers + current target, mirroring internal.Catalog."""
    spark: SparkSession
    layers: dict[str, Layer] = field(default_factory=dict)
    order: list[str] = field(default_factory=list)
    target: str | None = None
    outputs: dict[str, str | bytes | dict] = field(default_factory=dict)
    info: list[dict] = field(default_factory=list)
    calc_env: dict[str, object] = field(default_factory=dict)
    flags: set = field(default_factory=set)  # -quiet/-verbose/-debug

    def add(self, name: str, layer: Layer | DataFrame,
            make_target: bool = True) -> str:
        base, k = name, 2
        while name in self.layers:
            name = f"{base}{k}"
            k += 1
        self.layers[name] = layer if isinstance(layer, Layer) \
            else Layer(layer)
        self.order.append(name)
        if make_target:
            self.target = name
        return name

    def layer(self, name: str | None = None) -> Layer:
        name = name or self.target
        if name is None or name not in self.layers:
            raise ValueError(f"no target layer (have: {self.order})")
        return self.layers[name]

    def df(self, name: str | None = None) -> DataFrame:
        return self.layer(name).df

    def replace(self, df: DataFrame, **changes) -> None:
        """Put ``df`` in the target layer, with the metadata ``changes``
        (Layer fields)."""
        self.layers[self.target] = self.layer().with_df(df, **changes)

    def rename(self, names: dict[str, str]) -> None:
        """Rename layers (old -> new) in one pass, so a swap keeps both."""
        order = [names.get(n, n) for n in self.order]
        if len(set(order)) < len(order):
            raise ValueError(f"layer names must be unique: {order}")
        self.layers = {names.get(n, n): v for n, v in self.layers.items()}
        self.order = order
        self.target = names.get(self.target, self.target)

    def drop(self, name: str) -> None:
        del self.layers[name]
        self.order.remove(name)


def _probably_latlong(df: DataFrame) -> bool:
    """internal.probablyDecimalDegreeBounds: bounds within the (slightly
    padded) lat-long envelope -> assume an unprojected dataset."""
    try:
        cols = set(df.columns)
        if "bbox" in cols:
            r = df.agg(F.min("bbox.xmin"), F.min("bbox.ymin"),
                       F.max("bbox.xmax"), F.max("bbox.ymax")).collect()[0]
        elif "rings_x" in cols:
            fx = F.flatten("rings_x")
            fy = F.flatten("rings_y")
            r = df.agg(F.min(F.array_min(fx)), F.min(F.array_min(fy)),
                       F.max(F.array_max(fx)),
                       F.max(F.array_max(fy))).collect()[0]
        else:
            x, y = _point_cols(df)
            r = df.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        xmin, ymin, xmax, ymax = (float(v) for v in r)
        return -200 <= xmin and xmax <= 200 and -91 <= ymin and ymax <= 91
    except Exception:
        return False


def _geometry_kind(df: DataFrame) -> str:
    cols = set(df.columns)
    if "rings_x" in cols:
        return "polygon"
    if "xs" in cols and "ys" in cols:
        return "path"
    if {"lon", "lat"} <= cols or {"x", "y"} <= cols:
        return "point"
    return "table"


def _point_cols(df: DataFrame) -> tuple[str, str]:
    return ("lon", "lat") if "lon" in df.columns else ("x", "y")


def _layer_name(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _sql(expr: str, env: dict[str, object] | None = None) -> str:
    """JS-flavored reference expressions -> Spark SQL (the documented
    expression-surface deviation: `$.` proxies, ===, &&, ||). ``env``:
    -calc results visible to later expressions (mapshaper-calc.js: calc
    assignments enter the expression scope)."""
    from mapshaper_spark.functions.expressions import translate_proxy_expression
    out = translate_proxy_expression(expr)
    out = out.replace("===", "=").replace("!==", "<>")
    out = out.replace("&&", " AND ").replace("||", " OR ")
    for name in sorted(env or {}, key=len, reverse=True):
        val = env[name]
        if not isinstance(val, (str, int, float, bool, type(None))):
            # -include can register JS functions/objects: not SQL-
            # substitutable — leave the name so analysis fails and the
            # command falls back to the JS interpreter path
            continue
        lit = "NULL" if val is None else repr(val)
        out = re.sub(rf"\b{re.escape(name)}\b", lit, out)
    return out


# ---------------------------------------------------------------------------
# command implementations (each: (catalog, command) -> None)
# ---------------------------------------------------------------------------

_GEOJSON_KINDS = {"Point": "point", "MultiPoint": "point",
                  "LineString": "polyline", "MultiLineString": "polyline",
                  "Polygon": "polygon", "MultiPolygon": "polygon"}


# the columns a layer of each kind carries for its geometry: a GeoJSON
# import keeps only its kind's of the importer's geometry columns
# (_IMPORT_GEOMETRY), and none of a layer's is ever a data field
_GEOMETRY_COLUMNS = {
    "point": ("x", "y", "rings_x", "rings_y", "geometry_type", "bbox",
              "shp_type"),
    "polyline": ("rings_x", "rings_y", "geometry_type", "bbox", "shp_type",
                 "parts"),
    "polygon": ("rings_x", "rings_y", "geometry_type", "bbox", "shp_type",
                "parts"),
    "table": (),
}
# a layer of no known kind (derived frames, mixed kinds) skips them all
_ANY_GEOMETRY = ("rings_x", "rings_y", "bbox", "xs", "ys", "n",
                 "geometry_type", "properties", "shp_type", "parts")


def _kind_columns(gtypes: set) -> set:
    """The import geometry columns a layer of GeoJSON geometry types
    ``gtypes`` (null left out) uses: its kinds' (all of them for several
    kinds); a Point layer without MultiPoint uses no rings."""
    kinds = {_GEOJSON_KINDS[t] for t in gtypes} or {"table"}
    used = set().union(*(_GEOMETRY_COLUMNS[k] for k in kinds))
    if kinds == {"point"} and "MultiPoint" not in gtypes:
        used -= {"rings_x", "rings_y"}
    return used & set(_IMPORT_GEOMETRY)


def _property_artifacts(keys, gtypes: set) -> set:
    """Property keys named like an import geometry column. One the layer's
    geometry uses stops the import; the others name artifact columns of
    other kinds, and the property wins over them."""
    clash = set(keys) & set(_IMPORT_GEOMETRY)
    used = sorted(clash & _kind_columns(gtypes))
    if used:
        raise ValueError(f"-i: GeoJSON property '{used[0]}' is named like "
                         "a geometry column of its layer")
    return clash


def _kind_layer(df: DataFrame, gtypes: set,
                props: set = frozenset()) -> tuple[DataFrame, str | None]:
    """A GeoJSON-imported layer whose geometry types (null geometries
    left out) are ``gtypes`` -> (the layer without the import's geometry
    columns its kind does not use, its kind hint). ``props``: property
    columns named like such a column, which stay. No types: a data-only
    table (no x/y artifact columns, commands-test.js 'converts geojson to
    tsv'); types of several kinds: all geometry columns, no hint."""
    kinds = {_GEOJSON_KINDS[t] for t in gtypes}
    used = _kind_columns(gtypes)
    drop = [c for c in _IMPORT_GEOMETRY
            if c in df.columns and c not in used and c not in props]
    hint = "table" if not kinds else kinds.pop() if len(kinds) == 1 else None
    return df.drop(*drop), hint


def _input_format(path: str, hint: str | None) -> str | None:
    """The format a pathless -o mirrors (the reference derives the output
    format from the imported file): geojson CONTENT in a .json file
    round-trips as geojson; only a JSON array of records is format=json."""
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if ext == "json" and hint != "table":
        ext = "geojson"
    return ext if ext in ("json", "geojson", "csv", "tsv", "shp",
                          "topojson") else None


def _cmd_i(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.sources import delim as DL
    from mapshaper_spark.sources import geojson as GJ
    from mapshaper_spark.sources import shapefile as SH
    from mapshaper_spark.sources import topojson as TJ

    found: list[tuple[str, Layer]] = []  # (layer name, layer) per input layer
    paths = list(c.values)
    if c.opt("files"):  # '-i files=a.json,b.json' (options-test.js)
        paths += parse_string_list(str(c.opt("files")))
    for path in paths:
        ext = os.path.splitext(path)[1].lower()
        name = _layer_name(path)
        if ext in (".ndjson", ".geojsonl") or \
                (not ext and os.path.isdir(path)):
            # distributed newline-delimited GeoJSON import (engine
            # extension, r5 — read counterpart of -o format=ndjson):
            # splittable text scan + Arrow-batched feature parse; the
            # property columns are extracted JVM-side (get_json_object)
            df = GJ.import_ndjson(cat.spark, path)
            gtypes = {r[0] for r in df.select("geometry_type")
                      .distinct().collect()} - {"null"}
            df, keys = _flatten_props_sampled(df)
            df, hint = _kind_layer(df, gtypes,
                                   _property_artifacts(keys, gtypes))
            found.append((name, Layer(df, hint=hint, auto_fid=True)))
        elif ext in (".json", ".geojson", ".topojson"):
            # utf-8-sig: the reference's readFile trims a BOM before
            # parsing (test/encodings-test.js 'trims BOM')
            with open(path, encoding="utf-8-sig") as f:
                obj = json.load(f)
            if isinstance(obj, list):  # JSON array of records = table
                import pandas as _pd
                pdf_ = _pd.DataFrame(obj)
                no_fields = pdf_.shape[1] == 0
                if no_fields:
                    # records with no fields are still features
                    # (include-test.js 'values cover existing fields'
                    # runs -each over [{}]); carry our import id so the
                    # frame has a column — exports skip auto fids
                    pdf_.insert(0, "fid", range(len(pdf_)))
                found.append((name, Layer(
                    cat.spark.createDataFrame(pdf_), hint="table",
                    format=_input_format(path, "table"),
                    auto_fid=no_fields)))
            elif obj.get("type") == "Topology" or "objects" in obj:
                # a TopoJSON doc is recognized by its objects/arcs keys even
                # without "type": "Topology" (identifyJSONString,
                # json-import-test.js 'TopoJSON')
                # one catalog layer per named object (importTopoJSON);
                # feature ids land in FID; crs rides along for re-export
                for obj_name, tdf, tkind, _ids in \
                        TJ.import_topojson_layers(cat.spark, obj):
                    found.append((obj_name, Layer(
                        tdf, hint=tkind, format="topojson",
                        json_crs=obj.get("crs"), auto_fid=True)))
            else:
                table, fid_is_data = GJ.geojson_table(obj)
                gtypes = set(table.column("geometry_type").unique()
                             .to_pylist())
                props = _property_artifacts(
                    table.column_names[1 + len(_IMPORT_GEOMETRY):],
                    gtypes - {"null"})
                for prop in props:  # the geometry column comes first
                    table = table.remove_column(
                        table.column_names.index(prop))
                df = cat.spark.createDataFrame(table)
                kinds = {_GEOJSON_KINDS[t] for t in gtypes - {"null"}}
                if len(kinds) < 2:
                    parts = [(df, gtypes - {"null"})]
                else:
                    # mixed-type collection: one layer per geometry kind
                    # (the reference's divideFeaturesByType,
                    # src/geojson/geojson-import.js; target-test.js:57-73);
                    # null-geometry features form their own data-only
                    # layer (divideFeaturesByType keeps geoType=null
                    # records with no shapes, mapshaper-dataset-utils.js)
                    groups = ({t for t in gtypes
                               if _GEOJSON_KINDS.get(t) == kname}
                              for kname in ("point", "polyline", "polygon",
                                            None))
                    parts = [(df.filter(F.col("geometry_type").isin(*types)),
                              types - {"null"}) for types in groups if types]
                for sub, types in parts:
                    sub, hint = _kind_layer(sub, types, props)
                    facts = {"bounds": GJ.table_bounds(table)} \
                        if len(parts) == 1 and "bbox" not in props else {}
                    found.append((name, Layer(
                        sub, hint=hint, format=_input_format(path, hint),
                        auto_fid=not fid_is_data, facts=facts)))
        elif ext == ".shp":
            shp = open(path, "rb").read()
            stem = os.path.splitext(path)[0]
            dbf_path = stem + ".dbf"
            dbf = open(dbf_path, "rb").read() if os.path.exists(dbf_path) else None
            # encoding precedence like the reference: -i encoding= option,
            # then the .cpg sidecar, then the dbf ldid byte / detection
            enc = str(c.opt("encoding")) if c.opt("encoding") else None
            cpg_path = stem + ".cpg"
            if enc is None and os.path.exists(cpg_path):
                enc = open(cpg_path).read().strip() or None
            df = SH.import_shapefile(cat.spark, shp, dbf, encoding=enc)
            import struct as _struct
            base_type = SH.BASE_TYPE.get(_struct.unpack("<i", shp[32:36])[0])
            hint = None
            if base_type == SH.SHP_POINT:
                df = df.drop("rings_x", "rings_y")
                hint = "point"
            else:
                if base_type == SH.SHP_POLYLINE:
                    hint = "polyline"
                df = df.drop(*[col for col in ("x", "y")
                               if col in df.columns])
            wkt = p4 = None
            prj_path = stem + ".prj"
            if os.path.exists(prj_path):
                from mapshaper_spark.sources import prj as PJ
                wkt = open(prj_path).read().strip()
                try:
                    p4 = PJ.wkt_to_proj4(wkt)
                except ValueError:
                    pass  # keep the WKT for re-export
            # a record number, not a dbf field, is our own fid
            found.append((name, Layer(
                df, hint=hint, format="shp", prj=wkt, crs=p4,
                auto_fid=dbf is None or
                "fid" not in SH.dbf_field_names(dbf))))
        elif ext in (".csv", ".tsv", ".txt"):
            # .txt = delimited text with a sniffed delimiter
            # (guessInputType, file-types-test.js 'input.txt' -> 'text')
            enc = str(c.opt("encoding")) if c.opt("encoding") else "UTF-8"
            delim = str(c.opt("delimiter")) if c.opt("delimiter") \
                else DL.detect_delimiter(path, enc)
            # field-types=fips:str,+count / string-fields=a,b hints
            # (getFieldTypeHints, mapshaper-delim-import.js:
            # 'a:str' / 'a:s' / 'a:STR' / '+count'; later hints win)
            ftypes: dict[str, str] = {}
            if c.opt("field-types"):
                for hint in str(c.opt("field-types")).split(","):
                    if hint.startswith("+"):
                        ftypes[hint[1:]] = "num"
                    elif ":" in hint:
                        fname, _, t = hint.partition(":")
                        t = t.lower()
                        if t.startswith("n"):
                            ftypes[fname] = "num"
                        elif t.startswith("s"):
                            ftypes[fname] = "str"
            sfields = str(c.opt("string-fields")).split(",") \
                if c.opt("string-fields") else ()
            df = DL.import_delim(cat.spark, path, delimiter=delim,
                                 encoding=enc, string_fields=sfields,
                                 field_types=ftypes)
            # a delimited file is a data table whatever its column
            # names: an `n` or `xs` field is data, not geometry
            found.append((name, Layer(df, hint="table",
                                      format=_input_format(path, None),
                                      delim=delim)))
        elif ext == ".parquet":
            found.append((name, Layer(cat.spark.read.parquet(path))))
        else:
            raise ValueError(f"-i: unsupported input format '{ext}'")
    # -i snap / auto-snap / snap-interval= (path-import.js:16-22): snap
    # path vertices on import, then dedup the consecutive duplicates
    if c.flag("snap") or c.flag("auto-snap") or \
            c.opt("snap-interval") is not None:
        from mapshaper_spark.operators.topology import snap_paths
        si = c.opt("snap-interval")
        found = [(n, lyr.with_df(snap_paths(
            lyr.df, float(si) if si is not None else None)))
            for n, lyr in found]
    # a projected and an unprojected file cannot combine into one dataset
    # (merge-files-test.js 'importing a projected and an unprojected
    # polygon file throws'); an unknown CRS combines with anything
    # (issue #166)
    if len({"latlong" if "+proj=longlat" in lyr.crs else "projected"
            for _n, lyr in found if lyr.crs}) > 1:
        raise ValueError("Unable to combine projected and unprojected datasets")
    # reference semantics (mapshaper-file-import.js:22-28): merge-files
    # unions everything into ONE layer; combine-files imports each file as
    # its own layer of one dataset — which is this catalog's default
    if c.opt("precision"):
        # -i precision= rounds coordinates ON IMPORT (setCoordinatePrecision,
        # mapshaper-rounding.js:10-15; commands-test.js 'import GeoJSON
        # points with rounding on import')
        _prec = c.num("precision")
        found = [(n, lyr.with_df(_round_layer_coords(lyr.df, _prec)))
                 for n, lyr in found]
    # multi-file behavior
    if c.flag("merge-files") and len(found) > 1:
        from mapshaper_spark.operators.attributes import merge_layers
        sources = [lyr for _n, lyr in found]
        cat.add(str(c.opt("name", found[0][0])), _merged_layer(
            sources, merge_layers([s.df for s in sources], force=True)))
    else:
        for name, lyr in found:
            cat.add(str(c.opt("name", name)), lyr)


def _round_layer_coords(df: DataFrame, precision: float) -> DataFrame:
    """Round every coordinate of a layer (scalar x/y and ring arrays) with
    the reference rounding function; a stale bbox is dropped so downstream
    consumers re-derive it from the rounded rings."""
    from mapshaper_spark.operators.attributes import round_coords
    for col in ("x", "y"):
        if col in df.columns:
            df = df.withColumn(col, round_coords(F.col(col), precision))
    for col in ("rings_x", "rings_y"):
        if col in df.columns:
            df = df.withColumn(col, F.transform(
                col, lambda r: F.transform(
                    r, lambda v: round_coords(v, precision))))
    if "bbox" in df.columns and ("rings_x" in df.columns or
                                 "x" in df.columns):
        df = df.drop("bbox")
    return df


def _flatten_props_sampled(df: DataFrame) -> tuple[DataFrame, list]:
    """Distributed property flattening for the ndjson importer, returning
    the flattened frame and its property keys. The key
    set comes from every row in one Catalyst aggregate (json_object_keys),
    in first-seen order; column types come from the pandas inference of
    the driver-side tables (``topojson._infer_schema``) over a 500-row
    sample, and a key the sample never saw comes out as a string. The
    extraction is pure Catalyst get_json_object + cast — no Python over
    the whole table."""
    import pandas as _pd

    from mapshaper_spark.sources.topojson import _infer_schema
    first = (df.select("fid", F.posexplode(F.json_object_keys("properties")))
             .groupBy("col").agg(F.min(F.struct("fid", "pos")).alias("at"))
             .collect())
    keys = [r["col"] for r in sorted(first, key=lambda r: tuple(r["at"]))]
    if not keys:
        return df.drop("properties"), keys
    sample = [json.loads(r[0]) for r in
              df.select("properties").limit(500).collect()]
    types = {f.name: f.dataType for f in
             _infer_schema(_pd.DataFrame(sample)).fields}
    # a property named like an engine column (e.g. an exported 'fid')
    # replaces it — same winner as the reference's record fields
    cols = [df[c] for c in df.columns
            if c != "properties" and c not in keys]
    for k in keys:
        path = "$['" + k.replace("'", "\\'") + "']"
        cols.append(F.get_json_object("properties", path)
                    .cast(types.get(k, "string")).alias(k))
    return df.select(*cols), keys


def _cmd_filter(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import attributes as AT
    df = cat.df()
    plus = "+" in c.values  # '+' = keep source, add result as a new layer
    vals = [v for v in c.values if v != "+"]
    if vals:
        try:
            df = AT.filter_features(df, _sql(vals[0], cat.calc_env))
            df.schema  # force analysis so translation failures surface here
        except Exception:
            from mapshaper_spark.operators.jseach import filter_js
            df = filter_js(cat.df(), vals[0], env=cat.calc_env)
    if c.flag("remove-empty"):
        df = AT.filter_remove_empty(df)
    if plus:
        cat.add(str(c.opt("name", "filter")), cat.layer().with_df(df))
    else:
        cat.replace(df)


def _cmd_filter_fields(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import attributes as AT
    fields = [s for v in c.values for s in v.split(",")]
    df = cat.df()
    geom = [g for g in ("rings_x", "rings_y", "bbox", "xs", "ys", "n")
            if g in df.columns and g not in fields]
    cat.replace(AT.filter_fields(df, fields + geom))


def _cmd_rename_fields(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import attributes as AT
    mapping = {}
    for v in c.values:
        for pair in v.split(","):
            # rename_fields takes {new: old} pairs, the reference's new=old
            new, old = pair.split("=")
            mapping[new] = old
    cat.replace(AT.rename_fields(cat.df(), mapping))


def _cmd_each(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.functions.expressions import each_expr
    from mapshaper_spark.operators.styling import DEFS
    where = c.opt("where")
    # defs calls first: 'fill = getColor(RATING)' where getColor is a
    # -colorizer / -include definition (the reference resolves these from
    # getStateVar('defs') inside the expression context)
    m = re.match(r"^\s*([\w-]+)\s*=\s*(\w+)\(\s*([\w.]+)\s*\)\s*$", c.values[0])
    if m and m.group(2) in DEFS and callable(DEFS[m.group(2)]):
        fn = DEFS[m.group(2)]
        col = fn(F.col(m.group(3)))
        if where:
            # unmatched rows keep their previous value (the reference only
            # evaluates the expression where the filter matches)
            name = m.group(1)
            prev = F.col(name) if name in cat.df().columns else F.lit(None)
            col = F.when(F.expr(_sql(str(where), cat.calc_env)), col).otherwise(prev)
        cat.replace(cat.df().withColumn(m.group(1), col))
        return
    try:
        cat.replace(each_expr(cat.df(), _sql(c.values[0], cat.calc_env),
                              _sql(str(where), cat.calc_env) if where else None))
    except Exception:
        # expression outside the SQL-translatable surface -> interpret the
        # original JS per row (operators/jseach.py, the documented slow path)
        from mapshaper_spark.operators.jseach import each_js
        cat.replace(each_js(cat.df(), c.values[0],
                            where=str(where) if where else None,
                            env=cat.calc_env))


def _cmd_uniq(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import attributes as AT
    df = AT.with_feature_index(cat.df())
    out = AT.uniq(df, _sql(c.values[0]), max_count=int(c.num("max-count", 1)))
    cat.replace(out.drop(AT.ROW_IDX))


def _cmd_sort(cat: Catalog, c: Command) -> None:
    """-sort, STABLE across multiple calls (sort-test.js:5-12: a later
    sort preserves the previous order among ties). The catalog threads an
    __ms_order column: each sort ranks by (key, previous order) and
    rewrites it; -o emits rows in __ms_order."""
    from mapshaper_spark.plans.scale import ranked_ids
    df = cat.df()
    if _ORDER_COL not in df.columns:
        df = df.withColumn(_ORDER_COL, F.monotonically_increasing_id())
    asc = not c.flag("descending")
    # two-phase rank (no single-task global window): rank by (key, prev
    # order), rewrite the order column, 1-based like row_number
    keyed = df.withColumn("__ms_sort_key", F.expr(_sql(c.values[0], cat.calc_env)))
    ranked = ranked_ids(keyed, ["__ms_sort_key", _ORDER_COL], "__ms_rank",
                        ascending=[asc, True])
    cat.replace(ranked.withColumn(_ORDER_COL, F.col("__ms_rank") + 1)
                .drop("__ms_sort_key", "__ms_rank"))


def _parse_calc(spec: str) -> dict[str, tuple[str, str]]:
    """'total=sum(POP), n=count()' -> {out: (fn, col)}"""
    out: dict[str, tuple[str, str]] = {}
    for part in re.split(r",\s*(?=\w+\s*=)", spec):
        m = re.match(r"^\s*(\w+)\s*=\s*(\w+)\(\s*([\w.]*)\s*\)\s*$", part)
        if not m:
            raise ValueError(f"calc= spec not understood: '{part}'")
        out[m.group(1)] = (m.group(2), m.group(3) or "1")
    return out


def _resolve_source(cat: Catalog, token: str) -> DataFrame:
    """A command's source operand: an existing layer name, or a file path
    to auto-import (the reference imports -join/-clip file sources)."""
    if token in cat.layers:
        return cat.df(token)
    if _layer_name(token) in cat.layers:
        return cat.df(_layer_name(token))
    if os.path.exists(token):
        saved = cat.target
        _cmd_i(cat, Command("i", values=[token]))
        df = cat.df()
        cat.target = saved
        return df
    raise ValueError(f"no layer or file '{token}' (layers: {cat.order})")


def _cmd_join(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import joins as J
    source = _resolve_source(cat, c.values[0] if c.values
                             else str(c.opt("source")))
    keys = c.csv("keys")
    if len(keys) != 2:
        raise ValueError("-join requires keys=target_key,source_key")
    target = cat.df()
    # fields= semantics (mapshaper-join.js): absent -> all source fields
    # except the key; '*' -> all INCLUDING the key; '' -> none
    fields_opt = c.opt("fields")
    if fields_opt is None:
        copy = [col for col in source.columns if col != keys[1]]
    elif str(fields_opt) == "":
        copy = []
    elif str(fields_opt) == "*":
        copy = list(source.columns)
    else:
        copy = c.csv("fields")
    if c.flag("force"):
        # force: join fields REPLACE same-named target columns — matched
        # rows take the source value, unmatched go null
        # (mapshaper-join.js:255-258 + updateUnmatchedRecords)
        clobber = [f for f in copy if f in target.columns and f != keys[0]]
        if clobber:
            target = target.drop(*clobber)
    else:
        # only overwrite existing fields if "force" is set (join.js:255)
        copy = [f for f in copy if f not in target.columns]
    calc = _parse_calc(str(c.opt("calc"))) if c.opt("calc") else None
    if calc:  # calc= outputs supersede same-named fields= copies
        copy = [f for f in copy if f not in calc]
    where = c.opt("where")
    if where and re.match(r"^is(Max|Min|Mode)\(", str(where)):
        m = re.match(r"^is(Max|Min|Mode)\(\s*([\w.]+)\s*\)$", str(where))
        if m.group(1) == "Mode":
            out = J.join_where_is_mode(target, source, tuple(keys),
                                       m.group(2), copy_fields=copy)
        else:
            out = J.join_where_is_max(target, source, tuple(keys), m.group(2),
                                      is_min=(m.group(1) == "Min"),
                                      copy_fields=copy)
    else:
        source_o, src_order = _record_order(source)
        out = J.join_attributes(target, source_o, tuple(keys),
                                copy_fields=copy,
                                sum_fields=c.csv("sum-fields"), calc=calc,
                                source_order=src_order)
        out = _drop_exact(out, "joins")
        if calc:  # count()-style calcs read 0 on unmatched rows, not null
            zero_fill = {name: 0 for name, (fn, _c) in calc.items()
                         if fn == "count"}
            if zero_fill:
                out = out.fillna(zero_fill)
    if isinstance(c.opt("where"), str) and c.opt("where"):
        out = _drop_exact(out, "joins")
    if c.flag("unjoined"):
        cat.add(cat.target + "_unjoined",
                J.join_unjoined(target, source, tuple(keys)), make_target=False)
    if c.flag("unmatched"):
        cat.add(cat.target + "_unmatched",
                J.join_unmatched(target, source, tuple(keys)), make_target=False)
    cat.replace(out)


def _drop_exact(df: DataFrame, name: str) -> DataFrame:
    """Drop by EXACT (case-sensitive) column name — Spark's resolver is
    case-insensitive, so df.drop('joins') is ambiguous when a user column
    'JOINS' also exists. Positional rename sidesteps the resolver."""
    cols = list(df.columns)
    if name not in cols:
        return df
    tmp = [f"__c{i}" for i in range(len(cols))]
    keep = [i for i in range(len(cols)) if i != cols.index(name)]
    return df.toDF(*tmp).select(
        *[F.col(tmp[i]).alias(cols[i]) for i in keep])


def _cmd_dissolve(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import dissolve as DS
    df = cat.df()
    plus = "+" in c.values  # '+' = add as a new layer (reference no_replace)
    fields = [s for v in c.values if v != "+" for s in v.split(",")] \
        or ([str(c.opt("field"))] if c.opt("field") else c.csv("fields")) \
        or ["__all__"]
    if fields == ["__all__"]:
        df = df.withColumn("__all__", F.lit(1))
    calc = _parse_calc(str(c.opt("calc"))) if c.opt("calc") else None
    kind = _geometry_kind(df)
    df_o, order_o = _record_order(df)
    attrs = DS.dissolve_attributes(
        df_o, fields, sum_fields=c.csv("sum-fields"),
        copy_fields=c.csv("copy-fields"), calc=calc, order_col=order_o)
    if kind == "polygon":
        from mapshaper_spark.operators.topology import ring_topology
        field = fields[0]
        topo = ring_topology(df, field)
        out = DS.dissolve_polygons(topo.features, topo.arcs,
                                   topo.fid).withColumnRenamed(topo.fid, field)
        if set(attrs.columns) - set(fields):
            out = out.join(attrs, field, "left")
    elif kind == "point":
        x, y = _point_cols(df)
        out = DS.dissolve_points(df, fields, x, y)
    else:
        out = attrs
    # the reference emits dissolved groups in first-encounter record order
    # (aggregateDataRecords walks the classifier's insertion order); pin it
    # with the min original position per group
    omap = df_o.groupBy(*fields).agg(F.min(order_o).alias("__ms_gorder"))
    out = (out.join(omap, fields, "left")
           .drop(_ORDER_COL)
           .withColumnRenamed("__ms_gorder", _ORDER_COL))
    if "__all__" in out.columns:  # synthetic whole-layer key, not a field
        out = out.drop("__all__")
    if plus:
        cat.add(str(c.opt("name", "dissolve")), cat.layer().with_df(out))
    else:
        cat.replace(out)


def _min_gap_area(cat: Catalog, c: Command) -> float | None:
    """min-gap-area= with units (the reference parses '10km2' etc. through
    convertAreaParam, mapshaper-units.js) against the target layer's CRS."""
    v = c.opt("min-gap-area")
    if v is None:
        return None
    from mapshaper_spark.geom.units import convert_area_param
    return convert_area_param(str(v), cat.layer().crs)


def _cmd_dissolve2(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import dissolve as DS
    from mapshaper_spark.operators.overlay import dissolve2
    df = cat.df()
    fields = [s for v in c.values if v != "+" for s in v.split(",")] \
        or ([str(c.opt("field"))] if c.opt("field") else c.csv("fields"))
    if not fields:
        df = df.withColumn("__all__", F.lit("all"))
        fields = ["__all__"]
    out = dissolve2(df.select(fields[0], "rings_x", "rings_y"), fields[0],
                    gap_fill=not c.flag("no-gap-fill"),
                    min_gap_area=_min_gap_area(cat, c))
    # calc= / sum-fields= / copy-fields= aggregate the attribute table per
    # group exactly like -dissolve (mapshaper-dissolve2.js reuses
    # aggregateDataRecords)
    calc = _parse_calc(str(c.opt("calc"))) if c.opt("calc") else None
    if calc or c.csv("sum-fields") or c.csv("copy-fields"):
        attrs = DS.dissolve_attributes(
            df, [fields[0]], sum_fields=c.csv("sum-fields"),
            copy_fields=c.csv("copy-fields"), calc=calc)
        if set(attrs.columns) - {fields[0]}:
            out = out.join(attrs, fields[0], "left")
    if fields == ["__all__"]:
        out = out.drop("__all__")
    if "+" in c.values:
        cat.add(str(c.opt("name")) if c.opt("name") else "dissolve2", out)
    else:
        cat.replace(out)
        if c.opt("name"):
            cat.rename({cat.target: str(c.opt("name"))})


def _cmd_clean(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.overlay import clean
    df = cat.df()
    key = c.opt("key") or df.columns[0]
    cat.replace(clean(df, str(key), gap_fill=not c.flag("no-gap-fill"),
                      min_gap_area=_min_gap_area(cat, c)))


def _cmd_clip(cat: Catalog, c: Command, erase: bool = False) -> None:
    from mapshaper_spark.operators import paths as P
    from mapshaper_spark.operators.overlay import clip_polygons, clip_polylines
    df = cat.df()
    kind = _geometry_kind(df)
    if c.opt("bbox"):
        bbox = [float(v) for v in c.csv("bbox")]
        if len(bbox) != 4 or bbox[2] <= bbox[0] or bbox[3] <= bbox[1]:
            # the reference raises UserError on a degenerate bbox
            raise ValueError(f"-clip: invalid bbox {bbox}")
        if erase:
            raise ValueError("-erase bbox= not supported; use a clip layer")
        kind = cat.layer().kind
        if kind == "point":
            x, y = _point_cols(df)
            cat.replace(P.clip_bbox_points(df, x, y, bbox))
        elif kind == "polyline":
            from mapshaper_spark.operators.overlay import _ensure_bbox
            had_bbox = "bbox" in df.columns
            out = P.clip_bbox_paths(_ensure_bbox(df), bbox)
            cat.replace(out if had_bbox else out.drop("bbox"))
        elif kind == "polygon":
            cat.replace(P.clip_polygons_bbox(df, bbox))
        else:
            if "bbox" not in df.columns:
                df = df.withColumn("bbox", F.struct(
                    F.array_min("xs").alias("xmin"),
                    F.array_min("ys").alias("ymin"),
                    F.array_max("xs").alias("xmax"),
                    F.array_max("ys").alias("ymax")))
            cat.replace(P.clip_bbox_paths(df, bbox).drop("bbox"))
        return
    from mapshaper_spark.operators.overlay import _ensure_bbox
    clip_layer = _resolve_source(cat, c.values[0])
    if _geometry_kind(clip_layer) != "polygon":
        raise ValueError("-clip/-erase source must be a polygon layer")
    if kind == "point":
        x, y = _point_cols(df)
        cat.replace(P.clip_points(df, x, y, clip_layer,
                                  clip_layer.columns[0], erase=erase))
    elif kind == "path" or cat.layer().kind == "polyline":
        # a rings-frame flagged polyline clips with midpoint-enclosure
        # semantics, not ring overlay (Issue #192)
        cat.replace(clip_polylines(df, clip_layer, erase=erase))
    else:
        cat.replace(clip_polygons(_ensure_bbox(df), clip_layer, erase=erase,
                                  key=df.columns[0]))


def _cmd_explode(cat: Catalog, c: Command) -> None:
    """-explode (mapshaper-explode.js): one feature per part. Point layers
    split each MultiPoint into one Point per coordinate, copying the record
    (explode.test.js:6-20); ring layers go through the hole-preserving
    part grouping in paths.explode."""
    from mapshaper_spark.operators.paths import explode
    df = cat.df()
    if cat.layer().kind == "point" and "rings_x" in df.columns:
        # multipoint coords ride in the rings arrays; single points may mix
        # in as scalar x/y rows — normalize both to one row per coordinate
        has_rings = F.col("rings_x").isNotNull() & (F.size("rings_x") > 0)
        x, y = _point_cols(df)
        pts = F.when(has_rings, F.arrays_zip(
            F.flatten("rings_x").alias("px"),
            F.flatten("rings_y").alias("py"))) \
            .otherwise(F.array(F.struct(F.col(x).alias("px"),
                                        F.col(y).alias("py"))))
        out = (df.withColumn("__pt", F.explode(pts))
               .withColumn(x, F.col("__pt.px"))
               .withColumn(y, F.col("__pt.py"))
               .drop("__pt", "rings_x", "rings_y"))
        if "geometry_type" in out.columns:
            out = out.withColumn("geometry_type", F.lit("Point"))
        if "bbox" in out.columns:
            out = out.withColumn("bbox", F.struct(
                F.col(x).alias("xmin"), F.col(y).alias("ymin"),
                F.col(x).alias("xmax"), F.col(y).alias("ymax")))
        cat.replace(out)
        return
    # the reference adds no field to exploded records; part_idx is the
    # operator's programmatic handle only
    cat.replace(explode(df, naive=c.flag("naive")).drop("part_idx"))


def _cmd_filter_islands(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.paths import filter_islands
    cat.replace(filter_islands(
        cat.df(), min_area=c.num("min-area"),
        min_vertices=int(c.num("min-vertices")) if c.opt("min-vertices") else None))


def _cmd_filter_slivers(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.paths import filter_slivers
    cat.replace(filter_slivers(cat.df(), min_area=c.num("min-area", 0.0)))


def _cmd_lines(cat: Catalog, c: Command, inner_only: bool = False) -> None:
    from mapshaper_spark.operators import dissolve as DS
    from mapshaper_spark.operators.topology import ring_topology
    df = cat.df()
    group = c.values[0] if c.values else df.columns[0]
    if "parts" in df.columns:  # already in arc-topology form
        cat.replace(DS.innerlines(df, group) if inner_only
                    else DS.lines(df, group))
        return
    topo = ring_topology(df, group)
    feats = topo.features.withColumnRenamed(topo.fid, group)
    classified = (DS.innerlines(feats, group) if inner_only
                  else DS.lines(feats, group))
    cat.replace(classified.join(
        topo.arcs.select(F.col("arc_id").alias("aid"), "xs", "ys"), "aid"))


def _cmd_points(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import paths as P
    df = cat.df()
    xy = None  # operator-specific coordinate column names
    keepers = frozenset()  # coordinate-named columns that stay data fields
    if c.opt("x") and c.opt("y"):
        out = P.points_from_columns(df, str(c.opt("x")), str(c.opt("y")))
        # the named source columns stay DATA fields (the reference's
        # -points x= y= reads coordinates without consuming the fields)
        keepers = frozenset({str(c.opt("x")), str(c.opt("y"))})
    elif c.flag("vertices"):
        out = P.points_vertices(df, df.columns[0])
    elif c.flag("endpoints"):
        out = P.points_endpoints(df, df.columns[0])
    elif c.opt("interval"):
        out = P.points_interpolated(df, df.columns[0], c.num("interval"))
    elif c.flag("inner"):
        out = P.points_inner(df)
        xy = ("ix", "iy")
    else:  # centroid default, matching -points with no options
        out = P.points_from_centroids(df)
        xy = ("cx", "cy")
    # -points REPLACES the geometry with points (points.js): the source
    # rings must not ride along, and coords normalize to x/y
    if xy is not None:
        out = out.withColumnRenamed(xy[0], "x").withColumnRenamed(xy[1], "y")
    drop = [g for g in ("rings_x", "rings_y", "bbox", "xs", "ys", "n")
            if g in out.columns]
    if drop:
        out = out.drop(*drop)
    if "+" in c.values:
        # '+': add as a NEW layer (keep the source), reference no_replace
        cat.add(str(c.opt("name")) if c.opt("name") else "points",
                cat.layer().with_df(out, hint="point", coord_data=keepers))
    else:
        cat.replace(out, hint="point", coord_data=keepers)
        if c.opt("name"):
            cat.rename({cat.target: str(c.opt("name"))})


def _cmd_proj(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import proj as PR
    df = cat.df()
    crs = " ".join(c.values)
    match_prj: str | None = None  # .prj WKT to copy through on export

    def _resolve_crs_arg(value: str) -> tuple[str, str | None]:
        """A proj4 string, a layer name, or a .prj file path -> (proj4,
        original WKT or None) — the reference's getCrsInfo resolution
        order for -proj from=/match= (proj-test.js)."""
        from mapshaper_spark.sources.prj import wkt_to_proj4
        if value in cat.layers:
            known = cat.layers[value]
            return known.crs or "wgs84", known.prj
        if value.endswith(".prj") or os.path.exists(value):
            wkt = open(value).read().strip()
            return wkt_to_proj4(wkt), wkt
        return value, None

    # match=/source= (alias): adopt another layer's / a .prj file's CRS as
    # the DESTINATION (proj-test.js '-proj match=' cases)
    match = c.opt("match") or c.opt("source")
    if match and not crs:
        crs, match_prj = _resolve_crs_arg(str(match))
    # an imported .prj sets the SOURCE crs (the reference projects from the
    # dataset CRS); a from= option (proj4, layer, or .prj path) overrides it
    src = _resolve_crs_arg(str(c.opt("from")))[0] if c.opt("from") else \
        cat.layer().crs or "wgs84"
    if not crs:
        # '-proj from=X' alone assigns the CRS without reprojecting
        # (proj-test.js 'from= sets CRS if no dest CRS is given')
        if c.opt("from"):
            cat.replace(df, crs=src, prj=None)
        return
    kind = cat.layer().kind
    if kind == "point":
        x, y = _point_cols(df)
        out = PR.project_points(df, x, y, crs=crs, src=src)
    elif kind == "path":
        out = PR.project_arcs(df, crs=crs, src=src)
    else:
        # ring layers: explode rings -> per-path projection (project_arcs,
        # adaptive densify included) -> regroup in ring order
        other = [col for col in df.columns
                 if col not in ("rings_x", "rings_y", "bbox")]
        exploded = (df.select(*other, F.posexplode(F.arrays_zip(
            F.col("rings_x").alias("xs"),
            F.col("rings_y").alias("ys"))).alias("__ri", "__r"))
            .select(*other, "__ri", F.col("__r.xs").alias("xs"),
                    F.col("__r.ys").alias("ys")))
        projected = PR.project_arcs(exploded, crs=crs, src=src)
        out = projected.groupBy(*other).agg(
            F.expr("transform(sort_array(collect_list("
                   "struct(__ri, xs, ys))), s -> s.xs)").alias("rings_x"),
            F.expr("transform(sort_array(collect_list("
                   "struct(__ri, xs, ys))), s -> s.ys)").alias("rings_y"))
    # output copies the .prj text from a match= source verbatim
    # (proj-test.js 'output copies .prj string from match= source')
    cat.replace(out, crs=crs, prj=match_prj)


def _cmd_simplify(cat: Catalog, c: Command) -> None:
    """-simplify N% [dp|visvalingam [weighted]] [interval=] [keep-shapes]
    over a polygon layer: build shared-arc topology, threshold, reassemble
    (the reference pipeline: mapshaper-simplify.js -> arc dataset)."""
    from mapshaper_spark.layers import concat_arcs
    from mapshaper_spark.operators import simplify as SI
    from mapshaper_spark.operators.topology import ring_topology
    df = cat.df()
    method = "dp" if "dp" in c.values else (
        "visvalingam" if "visvalingam" in c.values and "weighted" not in c.values
        else "weighted_visvalingam")
    pct = None
    for v in c.values:
        if v.endswith("%"):
            pct = float(v[:-1]) / 100.0
        elif re.match(r"^[\d.]+$", v) and v not in ("dp",):
            pct = float(v) / 100.0
    if c.opt("percentage"):
        pct = float(str(c.opt("percentage")).rstrip("%")) / 100.0
        if pct > 1:
            pct /= 100.0
    def _threshold(arcs):
        """thresholds -> edge protection -> retained interval (the
        reference's simplifyPaths order: protection modifies zz BEFORE
        setRetainedPct reads the quantile, mapshaper-simplify.js:57-68).
        Spherical auto-detection: decimal-degree-looking bounds simplify
        on the 3D sphere unless 'planar' (useSphericalSimplify :51-53).
        The bounds are the layer's import fact when it has one."""
        b = cat.layer().facts.get("bounds")
        if b is None:
            b = SI.arc_bounds(arcs)
        latlong = (b is not None and -181 <= b[0] and -91 <= b[1] and
                   b[2] <= 181 and b[3] <= 91)
        spherical = latlong and not c.flag("planar")
        with_z = SI.compute_thresholds(arcs, method=method,
                                       spherical=spherical)
        if spherical:
            with_z = SI.protect_world_edges(with_z, b)
        if c.flag("lock-box"):
            with_z = SI.protect_content_edges(with_z, b)
        if c.opt("interval"):
            # convertSimplifyInterval: '0.5km' -> meters on spherical
            # data; units are an error on unitless latlong-planar
            # (simplify-test.js convertSimplifyInterval cases)
            from mapshaper_spark.geom import units as U
            raw = c.opt("interval")
            if spherical:
                return with_z, U.convert_distance_param(raw, "wgs84")
            o = U.parse_measure_full(raw)
            if o.get("units"):
                if latlong:
                    raise ValueError("Parameter does not support distance "
                                     "units with latlong datasets")
                # projected coordinates: assume meters (the reference's
                # to_meter default for projected CRSs)
                return with_z, o["value"] * U.TO_METERS[o["units"]]
            return with_z, float(o["value"])
        if c.opt("resolution"):
            return with_z, SI.convert_simplify_resolution(
                str(c.opt("resolution")), b, spherical)
        p = 1.0 if pct is None else pct
        # materialize once: the quantile probes and the export all read it
        with_z = with_z.localCheckpoint()
        return with_z, SI.threshold_for_pct(with_z, p)

    if _geometry_kind(df) == "path":
        # polyline layers: each row IS an arc — threshold directly, no
        # shared-arc topology needed (the reference's polyline path)
        arcs = df.withColumn(
            "zs", F.expr("array_repeat(CAST(0.0 AS DOUBLE), size(xs))"))
        with_z, zlimit = _threshold(arcs)
        cat.replace(SI.apply_zlimit(with_z, zlimit).drop("zs"))
        return
    if _geometry_kind(df) != "polygon":
        raise ValueError("-simplify needs a polygon or polyline layer")
    key = df.columns[0]
    topo = ring_topology(df, key)
    # compute_thresholds fills zs in place (schema = input schema)
    arcs = topo.arcs.withColumn(
        "zs", F.expr("array_repeat(CAST(0.0 AS DOUBLE), size(xs))"))
    with_z, zlimit = _threshold(arcs)
    if not c.flag("no-repair") and zlimit > 0:
        # the reference repairs simplification-introduced intersections by
        # DEFAULT (mapshaper-simplify.js:34-36); no-repair opts out
        with_z = SI.post_simplify_repair(with_z, zlimit)
    if c.flag("keep-shapes"):
        with_z = SI.keep_shapes(topo.features, with_z, topo.fid)
    kept = SI.apply_zlimit(with_z, zlimit)
    rebuilt = concat_arcs(topo.refs, kept, ["path_id"])
    rings = (topo.paths.select("path_id", topo.fid).join(rebuilt, "path_id")
             .groupBy(F.col(topo.fid).alias(key))
             .agg(F.collect_list("xs").alias("rings_x"),
                  F.collect_list("ys").alias("rings_y")))
    # the join shuffles: tag the record order first, -o emits rows in it
    # (the reference keeps input order); features without rings stay
    attrs = _order_tagged(df.drop("rings_x", "rings_y", "bbox"))
    cat.replace(attrs.join(rings, key, "left").select(
        key, "rings_x", "rings_y", *attrs.columns[1:]))


def _cmd_affine(cat: Catalog, c: Command) -> None:
    """-affine (mapshaper-affine.js): rotate/scale about anchor + shift,
    on points or ring geometry; where= limits the targets; the default
    anchor is the CENTER of the (selected) features' bounds
    (getAffineAnchor, affine-test.js:55-67)."""
    from mapshaper_spark.operators.attributes import affine, affine_rings
    df = cat.df()
    # the import hint beats the column heuristic: a point layer with
    # MultiPoint rows carries rings columns and would read as "polygon"
    kind = cat.layer().kind
    shift = [float(v) for v in c.csv("shift")] or [0.0, 0.0]
    where = None
    if c.opt("where"):
        where = F.expr(_sql(str(c.opt("where")), cat.calc_env))
    if c.opt("anchor"):
        anchor = tuple(float(v) for v in c.csv("anchor"))
    else:
        sel = df.filter(where) if where is not None else df
        if kind == "point" and "rings_x" not in df.columns:
            x, y = _point_cols(df)
            b = sel.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        elif kind == "point":
            # MultiPoint coords ride in the rings arrays alongside scalar
            # Point rows — bounds must span both
            x, y = _point_cols(df)
            b = sel.agg(
                F.least(F.min(x), F.min(F.array_min(
                    F.transform("rings_x", F.array_min)))),
                F.least(F.min(y), F.min(F.array_min(
                    F.transform("rings_y", F.array_min)))),
                F.greatest(F.max(x), F.max(F.array_max(
                    F.transform("rings_x", F.array_max)))),
                F.greatest(F.max(y), F.max(F.array_max(
                    F.transform("rings_y", F.array_max))))
            ).collect()[0]
        else:
            b = sel.agg(
                F.min(F.array_min(F.transform("rings_x", F.array_min))),
                F.min(F.array_min(F.transform("rings_y", F.array_min))),
                F.max(F.array_max(F.transform("rings_x", F.array_max))),
                F.max(F.array_max(F.transform("rings_y", F.array_max)))
            ).collect()[0]
        anchor = ((float(b[0]) + float(b[2])) / 2,
                  (float(b[1]) + float(b[3])) / 2) if b[0] is not None \
            else (0.0, 0.0)
    kw = dict(shift=tuple(shift), scale=c.num("scale", 1.0),
              rotate_deg=c.num("rotate", 0.0), anchor=anchor, where=where)
    if kind == "point":
        x, y = _point_cols(df)
        out = affine(df, x, y, **kw)
        if "rings_x" in out.columns:  # MultiPoint rows carry ring coords
            out = affine_rings(out, **kw)
        cat.replace(out)
    else:
        cat.replace(affine_rings(df, **kw))


def _cmd_merge_layers(cat: Catalog, c: Command) -> None:
    """-merge-layers (src/commands/mapshaper-merge-layers.js): target=
    selects the source layers (default: every layer), the merged layer
    REPLACES them in the catalog (merge-layers-test.js:35-48), name= names
    it (default: first source's name)."""
    from mapshaper_spark.operators.attributes import merge_layers
    tgt = c.opt("target")
    names = list(cat.order) if tgt is None or str(tgt) == "*" \
        else [s.strip() for s in str(tgt).split(",")]
    missing = [n for n in names if n not in cat.layers]
    if missing:
        raise ValueError(f"-merge-layers: no layer {missing} (have {cat.order})")
    sources = [cat.layers[n] for n in names]
    merged = merge_layers([s.df for s in sources], force=c.flag("force"))
    # mixing projected with unprojected inputs is an error like the
    # reference's
    crss = {s.crs for s in sources if s.crs}
    if len(crss) > 1:
        raise ValueError(f"-merge-layers: layers have different CRS: {crss}")
    if not all(s.crs for s in sources):
        # some sources carry no declared CRS: fall back to the reference's
        # bounds heuristic (probablyDecimalDegreeBounds, mapshaper-common.js:
        # 184-188 via mergeDatasets, mapshaper-merging.js:48-56) — a layer
        # whose bbox fits [-181,-91,181,91] reads as lat-lng; mixing
        # lat-lng with projected sources is an error
        is_ll = set()
        for s in sources:
            ldf = s.df
            if not ({"x", "rings_x", "xs"} & set(ldf.columns)):
                continue  # data-only layer: no bounds, no vote
            try:
                bb = _layer_bbox(ldf)
            except (TypeError, ValueError):  # empty layer -> no bounds
                continue
            is_ll.add(bb[0] >= -181 and bb[1] >= -91 and
                      bb[2] <= 181 and bb[3] <= 91)
        if len(is_ll) > 1:
            raise ValueError("-merge-layers: unable to combine projected "
                             "and unprojected layers")
    pos = cat.order.index(names[0])
    for n in names:  # sources are consumed by the merge
        cat.drop(n)
    cat.add(str(c.opt("name") or c.opt("target-name") or names[0]),
            _merged_layer(sources, merged))
    cat.order.insert(pos, cat.order.pop())


def _merged_layer(sources: list[Layer], df: DataFrame) -> Layer:
    """The value of the layer ``df`` merged from ``sources``: the kind,
    format, delimiter, CRS and TopoJSON crs that the sources declaring one
    agree on; the first source .prj (Issue #166: preserved through
    combine-files + -merge-layers, whichever input carried it); a fid that
    is the import's only when it is every source's."""
    def agreed(values):
        declared = {v for v in values if v is not None}
        return declared.pop() if len(declared) == 1 else None
    with_prj = [s for s in sources if s.prj is not None]
    return Layer(df, hint=agreed(s.hint for s in sources),
                 format=agreed(s.format for s in sources),
                 delim=agreed(s.delim for s in sources),
                 crs=agreed(s.crs for s in sources),
                 prj=with_prj[0].prj if with_prj else None,
                 json_crs=next((s.json_crs for s in sources
                                if s.json_crs is not None), None),
                 auto_fid=all(s.auto_fid for s in sources))


def _cmd_split(cat: Catalog, c: Command) -> None:
    """-split field (src/commands/mapshaper-split.js): one layer per
    distinct value, named '<layer>-<value>' (bare '<value>' when the
    source is the anonymous import layer — Issue #123); the source layer
    is CONSUMED and the first split layer becomes the target
    (split-test.js:19-37)."""
    from mapshaper_spark.operators.grid import split_by_field
    field_name = c.values[0]
    src = cat.target
    source = cat.layer()
    # the reference only prefixes when the layer has a user-visible name;
    # our catalog always names layers, so prefix unless it's the default
    prefix = "" if src in (None, "layer1") else f"{src}-"
    first = None
    for val, df in split_by_field(source.df, field_name).items():
        name = cat.add(f"{prefix}{val}", source.with_df(df),
                       make_target=False)
        first = first or name
    cat.drop(src)
    cat.target = first


def _cmd_split_on_grid(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.grid import split_on_grid
    cols, rows = (int(v) for v in c.values[0].split(","))
    df = cat.df()
    if _geometry_kind(df) == "point":
        x, y = _point_cols(df)
        cat.replace(split_on_grid(df, cols, rows, x=x, y=y))
    else:
        cat.replace(split_on_grid(df, cols, rows))


def _cmd_target(cat: Catalog, c: Command) -> None:
    """-target (src/commands/mapshaper-target.js): select by layer name,
    1-based layer number, or type=point|polyline|polygon (reference
    findMatchingLayers); name= renames the selection. No match or an
    ambiguous match is an error (target-test.js:41-55)."""
    val = c.values[0] if c.values else None
    want = str(c.opt("type")) if c.opt("type") else None
    cands = list(cat.order)
    if want:
        def _kind(n):
            k = cat.layers[n].kind
            return "polyline" if k == "path" else k
        cands = [n for n in cands if _kind(n) == want]
    if val is not None:
        if val in cat.layers:
            cands = [n for n in cands if n == val]
        elif str(val).isdigit():
            idx = int(val) - 1
            if not 0 <= idx < len(cat.order):
                raise ValueError(f"-target: no layer number {val}")
            cands = [n for n in cands if n == cat.order[idx]]
        else:
            cands = []
    if not cands:
        raise ValueError(f"-target: no layer matched (have {cat.order})")
    if len(cands) > 1:
        raise ValueError(f"-target: multiple layers matched: {cands}")
    cat.target = cands[0]
    if c.opt("name"):
        cat.rename({cat.target: str(c.opt("name"))})


def _cmd_rename_layers(cat: Catalog, c: Command) -> None:
    """renameLayers (src/commands/mapshaper-rename-layers.js): when there
    are more layers than names, the LAST name fans out with a 1-based
    counter (names=['layer'] over 2 layers -> layer1, layer2); no names at
    all defaults to the 'layer' stem; excess names are ignored."""
    new_names = [s for v in c.values for s in v.split(",")]
    n_layers = len(cat.order)
    if not new_names:  # no names: layer1, layer2, ... (even for one layer)
        new_names = [f"layer{i + 1}" for i in range(n_layers)]
    elif n_layers > len(new_names):
        stem = new_names.pop()
        new_names += [f"{stem}{i + 1}"
                      for i in range(n_layers - len(new_names))]
    cat.rename(dict(zip(cat.order, new_names)))


def _order_tagged(df: DataFrame) -> DataFrame:
    """The layer with its record order as a column (the -sort order column
    when it has one), for a command whose joins shuffle the rows:
    ``_in_record_order`` restores it on export."""
    if _ORDER_COL in df.columns:
        return df
    return df.withColumn(_ORDER_COL, F.monotonically_increasing_id())


def _in_record_order(df: DataFrame, one_task: bool = True) -> DataFrame:
    """The layer's rows in its record order (the -sort / -simplify order
    column, then dropped), for export. A document assembled on the driver
    is merged in one task anyway, so it sorts in one partition, which needs
    no range-sampling job; a distributed sink (``one_task=False``) sorts by
    range."""
    if _ORDER_COL not in df.columns:
        return df
    if one_task:
        df = df.repartition(1).sortWithinPartitions(_ORDER_COL)
    else:
        df = df.orderBy(_ORDER_COL)
    return df.drop(_ORDER_COL)


def _svg_payload(cat: Catalog, names: list[str], c: Command) -> str:
    """Render one SVG document holding the named layers (the reference's
    exportSVG maps every target layer to a <g> in a single file)."""
    from mapshaper_spark.sources import svg as SVG
    layers = []
    for name in names:
        df = _in_record_order(cat.df(name))
        kind = cat.layers[name].kind
        if kind == "point":
            px, py = _point_cols(df)
            if "rings_x" in df.columns:
                # MultiPoint shapes carry their points in the rings arrays;
                # Point rows fall back to the scalar x/y columns
                has_rings = (F.col("rings_x").isNotNull()
                             & (F.size("rings_x") > 0))
                df = df.withColumn(
                    "__pxs", F.when(has_rings, F.flatten("rings_x"))
                    .otherwise(F.when(F.col(px).isNotNull(), F.array(px)))
                ).withColumn(
                    "__pys", F.when(has_rings, F.flatten("rings_y"))
                    .otherwise(F.when(F.col(py).isNotNull(), F.array(py))))
                px, py = "__pxs", "__pys"
            layers.append((name, df, "point", px, py))
            continue
        if kind == "path":
            df = (df.withColumn("rings_x", F.array("xs"))
                    .withColumn("rings_y", F.array("ys")))
            gt = "polyline"
        else:
            gt = "polyline" if kind == "polyline" else "polygon"
        layers.append((name, df, gt))
    opts = {}
    if c.opt("width"):
        opts["width"] = c.num("width")
    if c.opt("height"):
        opts["height"] = c.num("height")
    if c.opt("margin") is not None:
        opts["margin"] = c.opt("margin")
    if c.opt("svg-scale"):
        opts["svg_scale"] = c.num("svg-scale")
    if c.opt("precision"):
        opts["precision"] = c.num("precision")
    if c.opt("id-prefix"):
        opts["id_prefix"] = str(c.opt("id-prefix"))
    if c.opt("id-field"):
        opts["id_field"] = str(c.opt("id-field"))
    if c.opt("point-symbol"):
        opts["point_symbol"] = str(c.opt("point-symbol"))
    return SVG.export_svg_document(layers, **opts)


def _topojson_payload(cat: Catalog, names: list[str], c: Command) -> str:
    """Render one TopoJSON Topology holding the named layers (the
    reference's exportTopoJSON serializes a whole dataset into a single
    Topology with one named object per layer and ONE shared arc table)."""
    from mapshaper_spark.sources import topojson as TJ
    layers = []
    for name in names:
        layer = cat.layers[name]
        df = _in_record_order(layer.df)
        kind = layer.kind
        if kind == "path":  # arc frames: xs/ys -> single-ring polyline
            df = (df.withColumn("rings_x", F.array("xs"))
                    .withColumn("rings_y", F.array("ys")))
            kind = "polyline"
        layers.append({"name": name, "df": df, "kind": kind,
                       "props": _data_fields(layer, df)})
    opts: dict = {}
    if c.opt("quantization") is not None:
        opts["quantization"] = int(c.num("quantization"))
    if c.flag("no-quantization"):
        opts["no_quantization"] = True
    if c.opt("precision") is not None:
        opts["precision"] = c.num("precision")
    if c.opt("topojson-precision") is not None:
        opts["topojson_precision"] = c.num("topojson-precision")
    if c.opt("bbox") is True:
        opts["bbox"] = True
    if c.opt("id-field"):
        opts["id_field"] = str(c.opt("id-field"))
    if c.flag("no-point-quantization"):
        opts["no_point_quantization"] = True
    if c.flag("cut-table"):
        opts["cut_table"] = True
    for k in ("width", "height"):
        if c.opt(k) is not None:
            opts[k] = c.num(k)
    if c.opt("margin") is not None:  # raw: parse_margin_option handles it
        opts["margin"] = c.opt("margin")
    # imported *JSON crs rides through to re-export
    opts["crs"] = next((cat.layers[n].json_crs for n in names
                        if cat.layers[n].json_crs is not None), None)
    return json.dumps(TJ.export_topology_doc(layers, opts))


def _data_fields(layer: Layer, df: DataFrame) -> list[str]:
    """The DATA TABLE columns of ``df``, the frame ``layer`` exports:
    geometry carriers and import artifacts are not data fields (the
    reference keeps geometry separate from the table; Issue #174), nor are
    synthetic point coordinates or a fid this importer minted. A layer of
    no declared kind skips every geometry column name."""
    skip = set(_GEOMETRY_COLUMNS.get(layer.hint, _ANY_GEOMETRY))
    if layer.hint != "table" and {"xs", "ys"} <= set(df.columns):
        # an arc frame's geometry
        skip |= {"xs", "ys", "n", "bbox"}
    if layer.kind == "point":
        skip |= {"lon", "lat", "x", "y"}
    skip -= layer.coord_data
    if layer.auto_fid:
        skip.add("fid")
    return [col for col in df.columns if col not in skip]


def _prj_text(layer: Layer) -> str | None:
    """The .prj sidecar of a shapefile export: the imported WKT untouched
    (shp-export.js:21); a fresh WKT for a -proj'd layer's new CRS (Issue
    #193: -proj wgs84 -o emits a WGS84 .prj); WGS84 for unprojected input
    with decimal-degree bounds (shapefile-test.js 'WGS84 prj is generated
    if input is unprojected GeoJSON'). None: no sidecar, including a CRS
    family without a WKT spelling."""
    from mapshaper_spark.sources.prj import proj4_to_wkt
    if layer.prj is not None:
        return layer.prj
    if layer.crs:
        try:
            return proj4_to_wkt(layer.crs)
        except ValueError:
            return None
    return proj4_to_wkt("wgs84") if _probably_latlong(layer.df) else None


def _delim_out(cat: Catalog, c: Command, df: DataFrame, fmt: str,
               path: str | None) -> None:
    """-o csv/tsv: the export delimiter follows delimiter= > the .tsv
    extension > the layer's sniffed input delimiter (info.input_delimiter,
    mapshaper-delim-export.js:84-96); field-order=ascending sorts columns
    case-insensitively (delim-export-test.js field_order case); encoding=
    re-encodes the payload with '?' replacement like the reference's
    iconv-lite output (delim-export-test.js encoding cases)."""
    from mapshaper_spark.sources.delim import delim_payload
    keep = _data_fields(cat.layer(), df)
    if keep != df.columns:
        # (no-op when nothing is dropped: selecting by name would be
        # ambiguous on case-duplicate fields like id/ID after a force merge)
        df = df.select(*keep)
    if c.opt("field-order") == "ascending":
        df = df.select(*sorted(df.columns, key=lambda s: (s.lower(), s)))
    delim = str(c.opt("delimiter")) if c.opt("delimiter") else (
        "\t" if fmt == "tsv" else cat.layer().delim or ",")
    payload = delim_payload(df, delim)
    enc = str(c.opt("encoding")) if c.opt("encoding") else None
    if path is not None:
        if enc:
            with open(path, "wb") as f:
                f.write(payload.encode(enc, errors="replace"))
        else:
            with open(path, "w") as f:
                f.write(payload)
        cat.outputs[path] = path
        return
    # delim_payload is already d3-formatRows style (no trailing newline;
    # an all-null LAST row keeps its final "\n" + empty line)
    # pathless name takes its extension from the delimiter (the reference
    # picks .tsv for tab output, mapshaper-delim-export.js:96-101)
    key = f"{cat.target}." + ("tsv" if delim == "\t" else "csv")
    cat.outputs[key] = (payload.encode(enc, errors="replace")
                        if enc else payload)


def _cmd_o(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.sources import geojson as GJ
    from mapshaper_spark.sources import shapefile as SH
    # target= selects which layer(s) to write; '*' = every layer, each to
    # its own derived '<layer>.<ext>' output (the reference's -o target=*)
    # — EXCEPT svg, where all target layers land in ONE document as <g>
    # groups (exportSVG; reference test issue-247)
    tgt = c.opt("target")
    path0 = c.values[0] if c.values else None
    fmt0 = str(c.opt("format", "")) or (
        os.path.splitext(path0)[1].lstrip(".").lower() if path0 else "")
    if tgt:
        names = list(cat.order) if str(tgt) == "*" \
            else [s.strip() for s in str(tgt).split(",")]
        if not names:
            raise ValueError("-o: no layers to output")
        for name in names:
            if name not in cat.layers:
                raise ValueError(f"-o: no layer '{name}' (have {cat.order})")
    if tgt and (fmt0 == "svg" or
                (fmt0 == "topojson" and not c.flag("singles"))):
        # all target layers in ONE document: svg <g> groups, or one
        # Topology (exportTopoJSON groups a dataset's layers as named
        # objects over one shared arc table); -o singles falls through to
        # the per-layer loop below
        svg = fmt0 == "svg"
        payload = (_svg_payload if svg else _topojson_payload)(cat, names, c)
        key = path0 or f"{names[0]}." + ("svg" if svg else "json")
        if path0:
            with open(path0, "w") as f:
                f.write(payload)
        cat.outputs[key] = payload
        return
    if fmt0 == "topojson" and c.flag("singles") and not tgt and \
            len(cat.order) > 1:
        # -o singles: each layer of the dataset to its own file
        # (splitDataset, topojson-export.js:35-41)
        sub = Command("o", values=list(c.values),
                      options={**c.options, "target": "*"})
        _cmd_o(cat, sub)
        return
    if tgt:
        saved = cat.target
        for i, name in enumerate(names):
            cat.target = name
            # with a positional path and multiple layers, version the file
            # name per layer like the reference (assignUniqueFileNames /
            # formatVersionedFileName: out.json, out2.json, ...)
            vals = list(c.values)
            if vals and len(names) > 1:
                base, ext = os.path.splitext(vals[0])
                vals[0] = base + (str(i + 1) if i else "") + ext
            sub = Command("o", values=vals,
                          options={k: v for k, v in c.options.items()
                                   if k not in ("target", "singles")})
            _cmd_o(cat, sub)
        cat.target = saved
        return
    layer = cat.layer()
    df = layer.df
    kind0 = _geometry_kind(df)
    path = c.values[0] if c.values else None
    fmt = str(c.opt("format", "")) or (
        os.path.splitext(path)[1].lstrip(".").lower() if path
        else layer.format or ("csv" if kind0 == "table" else "geojson"))
    if fmt == "shapefile":  # the reference's format name for shp output
        fmt = "shp"
    df = _in_record_order(df, one_task=fmt not in ("ndjson", "geojson-seq"))
    if fmt == "json" and (str(c.opt("format", "")) == "json"
                          or kind0 == "table"):
        # records-json: an EXPLICIT format=json exports the data table of
        # ANY layer (the reference drops geometry — json-table-test.js:
        # 28-50 exports a point layer's records without coordinates); a
        # bare .json path extension on a geometry layer means geojson.
        from mapshaper_spark.operators.attributes import to_json_records
        payload = to_json_records(df.select(*_data_fields(layer, df)))
        key = path or f"{cat.target}.json"
        if path:
            with open(path, "w") as f:
                f.write(payload)
        cat.outputs[key] = payload
        return
    if fmt in ("csv", "tsv", "txt") and path is None:
        _delim_out(cat, c, df, fmt, None)
        return
    if fmt in ("json", "geojson", "ndjson", "geojson-seq"):
        kind = layer.kind
        props = _data_fields(layer, df)
        kwargs = {"property_cols": props}
        if kind == "point":
            px, py = _point_cols(df)
            gt = "MultiPoint" if "rings_x" in df.columns else "Point"
            kwargs.update(geometry_type=gt, x=px, y=py)
        elif kind == "polyline":
            kwargs.update(geometry_type="LineString")
        elif kind == "path":
            # arc frames carry xs/ys; LineString rendering reads ring arrays
            df = df.withColumn("rings_x", F.array("xs")) \
                   .withColumn("rings_y", F.array("ys"))
            kwargs.update(geometry_type="LineString")
        if c.opt("precision"):
            kwargs["precision"] = c.num("precision")
        if c.opt("bbox") is True:  # -o bbox flag (geojson-export.js:161)
            kwargs["bbox"] = True
        if fmt in ("ndjson", "geojson-seq"):
            # scale-safe sink: distributed directory write, one Feature
            # (or record, for attribute tables) per line — the only -o
            # text format with no driver-side document assembly
            if path is None:
                raise ValueError(
                    "-o format=ndjson requires an output path (directory)")
            if kind == "table":
                (df.select(*props).write.mode("overwrite").json(path))
            else:
                GJ.export_ndjson(df, path, **kwargs)
            cat.outputs[path] = path
            return
        out = GJ.export_geojson(df, **kwargs)
        payload = out if isinstance(out, str) else json.dumps(out)
    elif fmt == "topojson":
        # full-fidelity Topology export: shared arc table, quantization
        # ladder, ids/properties (TopoJSON.exportTopology)
        payload = _topojson_payload(cat, [cat.target], c)
    elif fmt == "svg":
        payload = _svg_payload(cat, [cat.target], c)
    elif fmt in ("csv", "tsv", "txt"):
        _delim_out(cat, c, df, fmt, path)
        return
    elif fmt == "shp":
        files = dict(zip((".shp", ".shx", ".dbf"), SH.export_shapefile(
            df, fields=_data_fields(layer, df))))
        prj = _prj_text(layer)
        if prj is not None:
            files[".prj"] = prj
        if path:
            base = os.path.splitext(path)[0]
            for ext, blob in files.items():
                with open(base + ext, "w" if ext == ".prj" else "wb") as f:
                    f.write(blob)
            cat.outputs[path] = files[".shp"]
        else:
            # pathless: derived '<layer>.shp' (+ sidecars) like the
            # reference's output-file naming (target-test.js:14-21)
            for ext, blob in files.items():
                cat.outputs[cat.target + ext] = blob
        return
    elif fmt == "dbf":
        # attribute table only (the reference's -o format=dbf path,
        # io/mapshaper-file-types.js:47-48)
        keep = set(_data_fields(layer, df))
        recs = [{k: v for k, v in r.asDict().items() if k in keep}
                for r in df.collect()]
        blob = SH.write_dbf(recs)
        if path:
            with open(path, "wb") as f:
                f.write(blob)
        cat.outputs[path or f"{cat.target}.dbf"] = blob
        return
    elif fmt == "parquet":
        if path is None:
            raise ValueError("-o parquet requires a file path")
        df.write.mode("overwrite").parquet(path)
        cat.outputs[path] = path
        return
    else:
        raise ValueError(f"-o: unsupported format '{fmt}'")
    if path:
        with open(path, "w") as f:
            f.write(payload)
    ext = {"svg": "svg", "topojson": "json"}.get(fmt, "json")
    if c.opt("extension"):  # -o extension= overrides the derived name
        ext = str(c.opt("extension")).lstrip(".")
    cat.outputs[path or f"{cat.target}.{ext}"] = payload


def _cmd_info(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.attributes import layer_info
    cat.info.append({"layer": cat.target,
                     "rows": layer_info(cat.df(), cat.target or "").collect()})


def _record_order(df: DataFrame) -> tuple[DataFrame, str]:
    """A column giving the layer's record order for the reference's
    order-sensitive aggregates (first/last/mode tie-breaks): the -sort
    order column or the import fid when present, else a synthesized
    monotonically-increasing id (per-partition ascending — equals record
    order for driver-created tables and file-scan order for splits, the
    same notion of order the reference's single file read has)."""
    if _ORDER_COL in df.columns:
        return df, _ORDER_COL
    if "fid" in df.columns:
        return df, "fid"
    return df.withColumn("__ms_tmporder",
                         F.monotonically_increasing_id()), "__ms_tmporder"


def _cmd_calc(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.attributes import calc
    df = cat.df()
    where = c.opt("where")
    if where:
        df = df.filter(F.expr(_sql(str(where))))
    aggs = _parse_calc(c.values[0]) if "=" in c.values[0] else \
        {"result": next(iter(_parse_calc("result=" + c.values[0]).values()))}
    df, order = _record_order(df)
    result = calc(df, aggs, order_col=order).collect()[0].asDict()
    cat.info.append({"layer": cat.target, "calc": result})
    cat.calc_env.update(result)  # calc results enter later expression scope


def _layer_bbox(df: DataFrame) -> list[float]:
    """Overall [xmin, ymin, xmax, ymax] of a layer, any geometry kind."""
    kind = _geometry_kind(df)
    if kind == "point":
        x, y = _point_cols(df)
        r = df.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        return [float(v) for v in r]
    if "bbox" in df.columns:
        r = df.agg(F.min("bbox.xmin"), F.min("bbox.ymin"),
                   F.max("bbox.xmax"), F.max("bbox.ymax")).collect()[0]
        return [float(v) for v in r]
    if "rings_x" in df.columns:
        r = df.agg(
            F.min(F.array_min(F.transform("rings_x", F.array_min))),
            F.min(F.array_min(F.transform("rings_y", F.array_min))),
            F.max(F.array_max(F.transform("rings_x", F.array_max))),
            F.max(F.array_max(F.transform("rings_y", F.array_max)))).collect()[0]
        return [float(v) for v in r]
    r = df.agg(F.min(F.array_min("xs")), F.min(F.array_min("ys")),
               F.max(F.array_max("xs")), F.max(F.array_max("ys"))).collect()[0]
    return [float(v) for v in r]


def _opt_bbox(cat: Catalog, c: Command) -> list[float]:
    """bbox= option, defaulting to the target layer's bounds (the
    reference's 'default is bbox of data')."""
    if c.opt("bbox"):
        return [float(v) for v in c.csv("bbox")]
    return _layer_bbox(cat.df())


def _grid_shape(c: Command) -> tuple[int, int]:
    """cols/rows from the positional '<cols,rows>' or cols=/rows= options."""
    if c.values:
        parts = c.values[0].split(",")
        return int(parts[0]), int(parts[1])
    cols = c.opt("cols")
    rows = c.opt("rows")
    if cols is None or rows is None:
        raise ValueError("grid commands need <cols,rows> or cols=/rows=")
    return int(cols), int(rows)


def _cmd_point_grid(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import grid as G
    bbox = _opt_bbox(cat, c) if (cat.target or c.opt("bbox")) else None
    if bbox is None:
        raise ValueError("-point-grid needs bbox= or an existing layer")
    if c.opt("interval") and not c.values:
        out = G.point_grid_interval(cat.spark, c.num("interval"), bbox)
    else:
        cols, rows = _grid_shape(c)
        out = G.point_grid(cat.spark, cols, rows, bbox)
    cat.add(str(c.opt("name", "grid")), out)


def _cmd_polygon_grid(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import grid as G
    bbox = _opt_bbox(cat, c) if (cat.target or c.opt("bbox")) else None
    if bbox is None:
        raise ValueError("-polygon-grid needs bbox= or an existing layer")
    cols, rows = _grid_shape(c)
    cat.add(str(c.opt("name", "grid")), G.polygon_grid(cat.spark, cols, rows, bbox))


def _cmd_graticule(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.grid import graticule
    g = graticule(cat.spark)
    # a graticule added to a projected dataset is reprojected to match it
    # (graticule-test.js 'reproject to match dataset with known
    # projection')
    crs = cat.layer().crs if cat.target else None
    if crs and crs not in ("wgs84", "latlong") and \
            "+proj=longlat" not in crs:
        from mapshaper_spark.operators import proj as PR
        g = PR.project_arcs(g, crs=crs, src="wgs84")
    cat.add("graticule", Layer(g, crs=crs))


def _cmd_rectangle(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.grid import rectangle
    if c.opt("bbox"):
        bbox = [float(v) for v in c.csv("bbox")]
    elif c.opt("source"):
        bbox = _layer_bbox(_resolve_source(cat, str(c.opt("source"))))
    elif cat.target:
        bbox = _layer_bbox(cat.df())
    else:
        raise ValueError("-rectangle needs bbox= or source=")
    if c.opt("offset"):
        off = c.num("offset")
        bbox = [bbox[0] - off, bbox[1] - off, bbox[2] + off, bbox[3] + off]
    # the rectangle's id is synthetic, not a data field
    cat.add(str(c.opt("name", "rectangle")),
            Layer(rectangle(cat.spark, bbox), auto_fid=True))


def _cmd_shape(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.grid import shape
    coords = [float(v) for v in c.csv("coordinates")]
    offsets = [float(v) for v in c.csv("offsets")]
    out = shape(cat.spark, coords, offsets, closed=c.flag("closed"),
                name=str(c.opt("name", "shape")))
    polyline = out.limit(1).collect()[0]["geometry_type"] == "polyline"
    cat.add(str(c.opt("name", "shape")),
            Layer(out, hint="polyline" if polyline else None))


def _cmd_subdivide(cat: Catalog, c: Command) -> None:
    """-subdivide 'sum(foo) > 5' (mapshaper-subdivide.js): any SQL-aggregate
    calc expression; count()/average()/median() spellings are translated
    (arbitrary JS conditions are the documented expression-surface
    deviation)."""
    from mapshaper_spark.operators.grid import subdivide
    df = cat.df()
    if _geometry_kind(df) != "point":
        raise ValueError("-subdivide CLI v1 supports point layers")
    x, y = _point_cols(df)
    cat.replace(subdivide(df, x, y, expression=c.values[0],
                          name=cat.target))


def _cmd_cluster(cat: Catalog, c: Command) -> None:
    """-cluster: polygon layers run the reference-exact greedy
    agglomeration (mapshaper-cluster.js:15-42, count = Math.round(n*pct)
    merges of the closest neighbor centroids under max-width/height/area
    caps, cluster ids in shapeItems scan order). Point layers keep the
    engine extension count=K Lloyd spec (operators/cluster.py) — the
    reference rejects non-polygon layers outright."""
    from mapshaper_spark.operators.cluster import (agglomerative_cluster,
                                                   cluster_points)
    df = cat.df()
    id_field = str(c.opt("id-field", "cluster"))
    kind = _geometry_kind(df)
    pct_raw = c.opt("pct")
    if pct_raw is None:
        pct = None
    else:
        s = str(pct_raw)
        pct = float(s[:-1]) / 100.0 if s.endswith("%") else float(s)
    if kind != "point":
        order = _ORDER_COL if _ORDER_COL in df.columns else "fid"
        out = agglomerative_cluster(
            df, order, pct=pct, id_field=id_field,
            max_width=c.num("max-width"), max_height=c.num("max-height"),
            max_area=c.num("max-area"),
            group_by=(str(c.opt("group-by")) if c.opt("group-by") else None))
        if order != _ORDER_COL:
            # the operator's joins scramble row order; pin the original
            # record order the way -sort does so exports restore it
            out = out.withColumn(_ORDER_COL, F.col(order))
        cat.replace(out)
        return
    work, x, y = df, *_point_cols(df)
    if c.opt("count"):
        count = int(c.num("count"))
    else:
        count = max(1, round(work.count() * (pct if pct is not None else 1.0)))
    cat.replace(cluster_points(work, x, y, count, id_field=id_field))


def _cmd_data_fill(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators import datafill as DF_
    from mapshaper_spark.operators.topology import ring_topology
    field_name = str(c.opt("field"))
    df0 = cat.df()
    # the reference's isEmptyValue treats '' like null (data-fill-test.js
    # 'works for simple case': state='' gets filled)
    if dict(df0.dtypes).get(field_name) == "string":
        df0 = df0.withColumn(field_name, F.when(
            F.col(field_name) == "", None).otherwise(F.col(field_name)))
    # numeric surrogate key: data_fill's deterministic neighbor tie-break
    # orders by key value, which needs a numeric key (string feature ids
    # get a stable hash; ties then break by hash order — same contract)
    df = df0.withColumn("__dfk", F.xxhash64(F.col(df0.columns[0]).cast("string")))
    topo = ring_topology(df, "__dfk")
    feats = (topo.features.withColumnRenamed(topo.fid, "__dfk")
             .join(df.select("__dfk", field_name), "__dfk"))
    filled = DF_.data_fill(feats, topo.arcs, "__dfk", field_name)
    # the join shuffles: tag the record order first, -o emits rows in it
    attrs = _order_tagged(df.drop(field_name))
    cat.replace(attrs.join(filled.select("__dfk", field_name), "__dfk", "left")
                .drop("__dfk"))


def _cmd_drop(cat: Catalog, c: Command) -> None:
    """-drop: no args = delete the target layer; fields= deletes columns
    ('*' = all attribute fields); geometry deletes the geometry columns
    (mapshaper-drop.js:5-28)."""
    geom_cols = {"rings_x", "rings_y", "bbox", "xs", "ys", "n",
                 "lon", "lat", "x", "y"}
    df = cat.df() if cat.target else None
    if c.flag("geometry") and df is not None:
        cat.replace(df.drop(*[g for g in geom_cols if g in df.columns]))
        return
    if c.opt("fields") and df is not None:
        want = c.csv("fields")
        if want == ["*"]:
            drop = [col for col in df.columns if col not in geom_cols]
        else:
            drop = [f for f in want if f in df.columns]
        cat.replace(df.drop(*drop))
        return
    # delete the target layer(s); target= selects by name, '*' = all
    tgt = c.opt("target")
    if tgt and str(tgt) == "*":
        names = list(cat.order)
    elif tgt:
        names = [s.strip() for s in str(tgt).split(",")]
    else:
        if cat.target is None:
            raise ValueError("-drop: no target layer")
        names = [cat.target]
    for name in names:
        if name not in cat.layers:
            raise ValueError(f"-drop: no layer '{name}' (have {cat.order})")
        cat.drop(name)
    if cat.target not in cat.layers:
        cat.target = cat.order[-1] if cat.order else None


def _cmd_filter_geom(cat: Catalog, c: Command) -> None:
    """-filter-geom bbox= (mapshaper-filter-geom.js:3-28): the filter is
    PART-level — each part of a multi-part geometry is kept iff its bounds
    intersect the bbox (closed intervals); features whose every part is
    removed drop entirely."""
    from mapshaper_spark.operators.spatial import filter_geom_bbox
    bbox = [float(v) for v in c.csv("bbox")]
    df = cat.df()
    if _geometry_kind(df) == "point":
        x, y = _point_cols(df)
        cat.replace(filter_geom_bbox(df, bbox, x=x, y=y))
        return
    if "rings_x" in df.columns:
        xmin, ymin, xmax, ymax = bbox
        zipped = F.arrays_zip(F.col("rings_x").alias("rx"),
                              F.col("rings_y").alias("ry"))
        keep = F.filter(zipped, lambda p:
                        (F.array_min(p["rx"]) <= F.lit(xmax)) &
                        (F.array_max(p["rx"]) >= F.lit(xmin)) &
                        (F.array_min(p["ry"]) <= F.lit(ymax)) &
                        (F.array_max(p["ry"]) >= F.lit(ymin)))
        out = (df.withColumn("__keep", keep)
               .filter(F.size("__keep") > 0)
               .withColumn("rings_x", F.transform("__keep", lambda p: p["rx"]))
               .withColumn("rings_y", F.transform("__keep", lambda p: p["ry"]))
               .drop("__keep"))
        if "bbox" in df.columns:
            out = out.withColumn("bbox", F.struct(
                F.array_min(F.transform("rings_x", F.array_min)).alias("xmin"),
                F.array_min(F.transform("rings_y", F.array_min)).alias("ymin"),
                F.array_max(F.transform("rings_x", F.array_max)).alias("xmax"),
                F.array_max(F.transform("rings_y", F.array_max)).alias("ymax")))
        cat.replace(out)
        return
    # single-part path rows (xs/ys): part == feature, bounds test suffices
    had_bbox = "bbox" in df.columns
    if not had_bbox:
        df = df.withColumn("bbox", F.struct(
            F.array_min("xs").alias("xmin"), F.array_min("ys").alias("ymin"),
            F.array_max("xs").alias("xmax"), F.array_max("ys").alias("ymax")))
    out = filter_geom_bbox(df, bbox)
    cat.replace(out if had_bbox else out.drop("bbox"))


def _cmd_mosaic(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.overlay import mosaic
    cat.replace(mosaic(cat.df()))


def _cmd_polygons(cat: Catalog, c: Command) -> None:
    """-polygons [gap-tolerance=]: enclosed faces of a polyline network.
    Paths are noded first (shared-vertex topology + segment-intersection
    cuts), optionally gap-healed (topology.close_gaps — the reference's
    gap-tolerance option), then the per-component half-edge face walk runs
    (topology.polygons_from_lines)."""
    from mapshaper_spark.operators.topology import (
        build_topology, close_gaps, find_segment_intersections,
        insert_cut_points, polygons_from_lines)
    df = cat.df()
    if "xs" not in df.columns and "rings_x" in df.columns:
        # multi-part polyline layer (e.g. imported MultiLineString):
        # explode parts into per-path rows
        df = (df.select(F.explode(F.arrays_zip(
            F.col("rings_x").alias("xs"), F.col("rings_y").alias("ys")))
            .alias("__p"))
            .select(F.col("__p.xs").alias("xs"), F.col("__p.ys").alias("ys")))
    if "xs" not in df.columns:
        raise ValueError("-polygons needs a polyline layer (xs/ys)")
    tol = None
    if c.opt("gap-tolerance"):
        tol = c.num("gap-tolerance")
    elif "gap-tolerance" in c.values:  # '-polygons gap-tolerance 0.11' form
        tol = float(c.values[c.values.index("gap-tolerance") + 1])
    # each phase is materialized once: build_topology checkpoints its own
    # occurrence table and the healed arcs are checkpointed here, so an
    # unbroken lazy chain of 4+ phases never recomputes shared subtrees
    paths = df.select(F.xxhash64("xs", "ys").alias("path_id"), "xs", "ys")
    arcs0, _ = build_topology(paths, "path_id")
    hits = find_segment_intersections(arcs0)
    arcs_cut = insert_cut_points(arcs0, hits)
    paths2 = arcs_cut.select(F.col("arc_id").alias("path_id"), "xs", "ys")
    arcs, _ = build_topology(paths2, "path_id")
    if tol:
        # heal undershoots, then re-node (healed endpoints become junctions)
        healed = close_gaps(arcs, tol).localCheckpoint()
        hits2 = find_segment_intersections(healed)
        healed = insert_cut_points(healed, hits2)
        arcs, _ = build_topology(
            healed.select(F.col("arc_id").alias("path_id"), "xs", "ys"),
            "path_id")
    faces = polygons_from_lines(arcs)
    out = faces.select(
        F.xxhash64("xs", "ys").alias("fid"),
        F.array("xs").alias("rings_x"), F.array("ys").alias("rings_y"),
        "area")
    # the layer is polygons now, and its face ids are synthetic too
    cat.replace(out, hint=None, auto_fid=True)


def _cmd_slice(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.overlay import _ensure_bbox, slice_polygons
    source = _resolve_source(cat, c.values[0] if c.values
                             else str(c.opt("source")))
    if _geometry_kind(source) != "polygon":
        raise ValueError("-slice source must be a polygon layer")
    # the pair join shuffles: tag the record order first, -o emits rows in it
    df = _order_tagged(_ensure_bbox(cat.df()))
    id_field = c.opt("id-field")
    cat.replace(slice_polygons(df, source,
                               id_field=str(id_field) if id_field else None))


def _cmd_stitch(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.paths import stitch
    cat.replace(stitch(cat.df()))


_COLOR_LIT = re.compile(r"^([a-z]+|#[0-9a-fA-F]+|rgba?\([0-9,. ]+\)|-?[.0-9]+[a-z]*)$")


def _cmd_style(cat: Catalog, c: Command) -> None:
    """-style / -svg-style: set reserved SVG fields. The reference's
    literal-vs-expression rule (mapshaper-svg-style.js parseSvgValue):
    a field name or JS-syntax string is an expression; color/number/
    classname literals pass through."""
    df = cat.df()
    where = c.opt("where")
    for key in ("fill", "stroke", "stroke_width", "opacity", "r", "class"):
        v = c.opt(key)
        if v is None:
            continue
        sval = str(v).strip()
        if sval in df.columns or not _COLOR_LIT.match(sval):
            col = F.expr(_sql(sval, cat.calc_env))
        else:
            col = F.lit(float(sval)) if re.match(r"^-?[.0-9]+$", sval) \
                else F.lit(sval)
        svg_name = key.replace("_", "-") if key != "class" else "class"
        if where:
            keep = F.col(svg_name) if svg_name in df.columns else F.lit(None)
            col = F.when(F.expr(_sql(str(where), cat.calc_env)), col) \
                .otherwise(keep)
        df = df.withColumn(svg_name, col)
    cat.replace(df)


def _cmd_colorizer(cat: Catalog, c: Command) -> None:
    from mapshaper_spark.operators.styling import colorizer
    colorizer(str(c.opt("name")),
              c.colors("colors"),
              breaks=[float(b) for b in c.csv("breaks")] or None,
              categories=c.csv("categories") or None,
              other=str(c.opt("other")) if c.opt("other") else None,
              nodata=str(c.opt("nodata", "white")),
              precision=c.num("precision") if c.opt("precision") else None)


def _cmd_include(cat: Catalog, c: Command) -> None:
    """-include: merge an object of definitions into the expression scope
    (mapshaper-include.js:3-35 evaluates a JS object in an isolated
    scope). A JS object literal runs through the bundled JS interpreter —
    values and FUNCTIONS land in cat.calc_env, where the -each/-filter JS
    fallback resolves them (include-test.js 'imports data and functions').
    A Python file keeps the engine-native include_defs path. BOUNDARY:
    the cross-record mutable-accumulator idiom (include-test.js
    'can be used as an accumulator') cannot work distributed — a
    distributed -each gives each partition its own copy of the include
    object — so -each/-filter RAISE when an expression mutates an
    include-scope object (jseach._reject_include_accumulator), naming
    -calc / -join calc= as the supported spellings."""
    from mapshaper_spark.operators.styling import include_defs
    src = c.values[0] if c.values else str(c.opt("file"))
    content = None
    if os.path.exists(src):
        with open(src) as fh:
            content = fh.read()
    if content is not None and content.lstrip()[:1] == "{":
        import mapshaper_spark.functions.jsengine as J
        obj = J._Interp({}, {}).run(J.parse("(" + content + ")"))
        if not isinstance(obj, dict):
            raise ValueError("-include: expected an object")
        cat.calc_env.update(obj)
        # scalar defs also feed the styling/colorizer registry like the
        # Python path does
        include_defs({k: v for k, v in obj.items()
                      if isinstance(v, (str, int, float, bool))})
        return
    include_defs(src)


def _cmd_inspect(cat: Catalog, c: Command) -> None:
    """-inspect <expression>: select features with a boolean expression;
    exactly one match reports full geometry + attribute detail, otherwise
    the match count (api.inspect, commands/mapshaper-inspect.js:3-12)."""
    df = cat.df()
    matched = df.filter(F.expr(_sql(c.values[0], cat.calc_env)))
    rows = matched.limit(2).collect()
    if len(rows) != 1:
        n = matched.count() if len(rows) > 1 else 0
        s = "" if n == 1 else "s"
        cat.info.append({"layer": cat.target,
                         "inspect": f"Expression matched {n} feature{s}. "
                                    "Select one feature for details"})
        return
    row = rows[0].asDict()
    geom_cols = {"rings_x", "rings_y", "xs", "ys", "bbox", "ring_areas"}
    kind = cat.layer().kind
    geo: dict[str, object] = {"type": kind}
    if row.get("rings_x") is not None:
        # getPolygonInfo parity: cw/ccw ring counts + planar area
        # (mapshaper-inspect.js getShapeInfo)
        import numpy as np
        from mapshaper_spark.geom import kernels as K
        areas = [K.planar_path_area(np.asarray(rx, dtype=np.float64),
                                    np.asarray(ry, dtype=np.float64))
                 for rx, ry in zip(row["rings_x"], row["rings_y"])]
        geo["rings_cw"] = sum(1 for a in areas if a > 0)
        geo["rings_ccw"] = sum(1 for a in areas if a < 0)
        geo["planar_area"] = float(sum(areas))
    elif row.get("xs") is not None:
        geo["points" if kind == "point" else "parts"] = len(row["xs"])
    cat.info.append({"layer": cat.target, "geometry": geo,
                     "attributes": {k: v for k, v in row.items()
                                    if k not in geom_cols}})


def _cmd_projections(cat: Catalog, c: Command) -> None:
    """-projections: the implemented projection index (the reference prints
    mproj's pj_list + its alias index, geom/mapshaper-projections.js:104)."""
    from mapshaper_spark.geom.projections import ALIASES, PROJ_NAMES
    cat.info.append({"projections": list(PROJ_NAMES),
                     "aliases": sorted(ALIASES) + ["albersusa"]})


def _cmd_encodings(cat: Catalog, c: Command) -> None:
    """-encodings: supported text encodings (internal.printEncodings,
    text/mapshaper-encodings.js:123) — here, the DBF language-driver
    codepage set plus the universal codecs."""
    from mapshaper_spark.sources.shapefile import (_LANGUAGE_IDS,
                                                   normalize_encoding)
    encs = sorted({normalize_encoding(v) for v in _LANGUAGE_IDS.values()} |
                  {"utf-8", "latin-1", "ascii", "utf-16"})
    cat.info.append({"encodings": encs})


def _cmd_version(cat: Catalog, c: Command) -> None:
    from mapshaper_spark import __version__
    cat.info.append({"version": __version__})


def _cmd_help(cat: Catalog, c: Command) -> None:
    cat.info.append({"commands": sorted(COMMANDS)})


def _cmd_verbosity(cat: Catalog, c: Command) -> None:
    """-quiet/-verbose/-debug: logging switches (cli/mapshaper-commands.js
    dispatch); mapped onto the Spark log level + a catalog flag callers
    can consult."""
    cat.flags.add(c.name)
    cat.spark.sparkContext.setLogLevel(
        {"quiet": "ERROR", "verbose": "INFO", "debug": "DEBUG"}[c.name])


COMMANDS = {
    "i": _cmd_i,
    "filter": _cmd_filter,
    "filter-fields": _cmd_filter_fields,
    "rename-fields": _cmd_rename_fields,
    "each": _cmd_each,
    "uniq": _cmd_uniq,
    "sort": _cmd_sort,
    "join": _cmd_join,
    "dissolve": _cmd_dissolve,
    "dissolve2": _cmd_dissolve2,
    "clean": _cmd_clean,
    "clip": _cmd_clip,
    "erase": lambda cat, c: _cmd_clip(cat, c, erase=True),
    "explode": _cmd_explode,
    "filter-islands": _cmd_filter_islands,
    "filter-slivers": _cmd_filter_slivers,
    "lines": _cmd_lines,
    "innerlines": lambda cat, c: _cmd_lines(cat, c, inner_only=True),
    "points": _cmd_points,
    "proj": _cmd_proj,
    "simplify": _cmd_simplify,
    "affine": _cmd_affine,
    "merge-layers": _cmd_merge_layers,
    "split": _cmd_split,
    "split-on-grid": _cmd_split_on_grid,
    "target": _cmd_target,
    "rename-layers": _cmd_rename_layers,
    "o": _cmd_o,
    "info": _cmd_info,
    "calc": _cmd_calc,
    "point-grid": _cmd_point_grid,
    "polygon-grid": _cmd_polygon_grid,
    "graticule": _cmd_graticule,
    "rectangle": _cmd_rectangle,
    "shape": _cmd_shape,
    "subdivide": _cmd_subdivide,
    "cluster": _cmd_cluster,
    "data-fill": _cmd_data_fill,
    "drop": _cmd_drop,
    "filter-geom": _cmd_filter_geom,
    "mosaic": _cmd_mosaic,
    "polygons": _cmd_polygons,
    "slice": _cmd_slice,
    "stitch": _cmd_stitch,
    "style": _cmd_style,
    "svg-style": _cmd_style,
    "colorizer": _cmd_colorizer,
    "include": _cmd_include,
    "inspect": _cmd_inspect,
    "projections": _cmd_projections,
    "encodings": _cmd_encodings,
    "version": _cmd_version,
    "help": _cmd_help,
    "quiet": _cmd_verbosity,
    "verbose": _cmd_verbosity,
    "debug": _cmd_verbosity,
}


def _divide_import_runs(cmds: list[Command]) -> list[list[Command]]:
    """divideImportCommand (reference src/cli/mapshaper-commands.js:152-178):
    ``-i a b c`` WITHOUT combine-files/merge-files runs the whole command
    pipeline once per input file against a fresh catalog ('output from
    sequentially processed files is combined', commands-test.js)."""
    import copy as _copy
    if not cmds:
        return [cmds]
    first = cmds[0]
    files = first.values or first.csv("files")
    if (first.name != "i" or first.flag("combine-files") or
            first.flag("merge-files") or len(files) < 2):
        return [cmds]
    runs = []
    for f in files:
        icmd = Command("i", values=[f],
                       options={k: v for k, v in first.options.items()
                                if k != "files"})
        runs.append([icmd] + _copy.deepcopy(cmds[1:]))
    return runs


def apply_commands(spark: SparkSession, command_str: str,
                   inputs: dict[str, str | bytes] | None = None
                   ) -> dict[str, str | bytes]:
    """The reference's ``api.applyCommands(cmd, {name: content})`` shape:
    in-memory named inputs, outputs returned as {name: content}. Input and
    output names in the command string are resolved inside a temp dir, so
    reference test strings transcribe nearly verbatim."""
    import tempfile
    inputs = inputs or {}
    with tempfile.TemporaryDirectory() as td:
        for name, content in inputs.items():
            mode = "wb" if isinstance(content, (bytes, bytearray)) else "w"
            with open(os.path.join(td, name), mode) as f:
                f.write(content)
        cmds = parse_commands(command_str)
        out_names: list[str] = []
        for cmd in cmds:
            if cmd.name in ("i", "join", "clip", "erase", "include"):
                cmd.values = [os.path.join(td, v) if v in inputs else v
                              for v in cmd.values]
            elif cmd.name == "o":
                out_names.extend(cmd.values)
                cmd.values = [os.path.join(td, v) for v in cmd.values]
        pathless_outputs: dict = {}
        for run in _divide_import_runs(cmds):
            cat = Catalog(spark)
            for cmd in run:
                dispatch_command(cat, cmd)
            pathless_outputs.update(cat.outputs)
        cat.outputs = pathless_outputs
        results: dict[str, str | bytes] = {}
        for name in out_names:
            path = os.path.join(td, name)
            if os.path.isdir(path):  # spark csv/parquet directory output
                parts = sorted(p for p in os.listdir(path)
                               if p.startswith("part-"))
                results[name] = "".join(
                    open(os.path.join(path, p)).read() for p in parts)
            elif os.path.exists(path):
                ext = os.path.splitext(name)[1].lower()
                mode = "rb" if ext in (".shp", ".shx", ".dbf") else "r"
                try:
                    with open(path, mode) as f:
                        results[name] = f.read()
                except UnicodeDecodeError:
                    # e.g. -o encoding=utf-16be csv: return raw bytes like
                    # the reference's Buffer outputs
                    with open(path, "rb") as f:
                        results[name] = f.read()
                if ext == ".shp":
                    base = os.path.splitext(path)[0]
                    for side, m in ((".shx", "rb"), (".dbf", "rb"),
                                    (".prj", "r")):
                        sp = base + side
                        if os.path.exists(sp):
                            results[os.path.splitext(name)[0] + side] = \
                                open(sp, m).read()
        # pathless -o outputs (e.g. '-o format=json') live in cat.outputs
        # keyed '<layer>.<ext>', the reference's derived output names
        for k, v in cat.outputs.items():
            if not os.path.isabs(str(k)) and k not in results:
                results[k] = v
        return results


# commands that consume target= themselves (layer selection is part of
# their own semantics rather than "retarget, then run")
_SELF_TARGETING = {"o", "merge-layers", "drop", "target", "i"}


def dispatch_command(cat: Catalog, cmd: Command) -> None:
    """Run one command honoring the reference's SHARED target= option
    (src/cli/mapshaper-options.js gives every command a targets option;
    runParsedCommands retargets the catalog before dispatch). A command
    with target=name runs against that layer (comma list / '*' = each in
    turn); the last command output stays the current target, matching the
    reference's convention that a command's output becomes the target."""
    fn = COMMANDS.get(cmd.name)
    if fn is None:
        raise ValueError(f"unknown command -{cmd.name} "
                         f"(supported: {sorted(COMMANDS)})")
    tgt = cmd.options.get("target")
    if tgt is None or cmd.name in _SELF_TARGETING:
        fn(cat, cmd)
        return
    names = list(cat.order) if str(tgt) == "*" \
        else [s.strip() for s in str(tgt).split(",")]
    missing = [n for n in names if n not in cat.layers]
    if missing:
        raise ValueError(
            f"-{cmd.name}: no layer {missing} (have {cat.order})")
    for n in names:
        cat.target = n
        fn(cat, cmd)


def run_commands(spark: SparkSession, command_str: str,
                 layers: dict[str, DataFrame] | None = None) -> Catalog:
    """Execute a mapshaper-style command string against a fresh Catalog.

    ``layers``: pre-loaded named DataFrames (the tests' stand-in for file
    inputs; the first one becomes the initial target). Returns the final
    Catalog — outputs under ``.outputs``, layer frames under ``.layers``.
    """
    cat = Catalog(spark)
    if layers:
        for name, df in layers.items():
            cat.add(name, df)
        cat.target = next(iter(layers))
        for cmd in parse_commands(command_str):
            dispatch_command(cat, cmd)
        return cat
    for run in _divide_import_runs(parse_commands(command_str)):
        cat = Catalog(spark)
        for cmd in run:
            dispatch_command(cat, cmd)
    return cat  # sequential runs: the LAST file's catalog (testCommands)
