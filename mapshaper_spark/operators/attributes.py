"""Attribute algebra — mapshaper's row-wise commands as thin DataFrame ops.

Each function keeps the reference's option semantics; the heavy lifting is
native Catalyst (filter/select/window/agg — no Python in any of these).

- -filter:         /root/reference/src/commands/mapshaper-filter.js:3-46
- -filter-fields / -rename-fields:
                   /root/reference/src/commands/mapshaper-filter-rename-fields.js
- -each:           /root/reference/src/commands/mapshaper-each.js:6-24
- -uniq:           /root/reference/src/commands/mapshaper-uniq.js:6-35
- -sort:           /root/reference/src/commands/mapshaper-sort.js:6-23
- -calc:           /root/reference/src/commands/mapshaper-calc.js:15-34
                   (mode: /root/reference/src/utils/mapshaper-calc-utils.js:3-43)
- -merge-layers:   /root/reference/src/commands/mapshaper-merge-layers.js:4-106
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapshaper_spark.layers import bounds_aggs

ROW_IDX = "__feature_idx"


def with_feature_index(df: DataFrame, name: str = ROW_IDX) -> DataFrame:
    """Stable feature index standing in for the reference's array order.

    The reference's semantics ("first match", "first occurrence") depend on
    feature order; DataFrames are unordered, so order-sensitive ops require
    an explicit index column (callers pass a key or we derive one once at
    import time, analogous to topology build assigning ids on ingest).
    """
    return df.withColumn(name, F.monotonically_increasing_id())


def filter_features(df: DataFrame, expr: str | Column) -> DataFrame:
    """-filter: keep rows where the expression is true. The reference demands
    strictly-boolean expressions (filter.js:49-54); Spark's filter enforces a
    boolean column type, which is the static analog."""
    return df.filter(expr)


def filter_fields(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    return df.select(*fields)


def rename_fields(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """mapping: {new_name: old_name} pairs (the reference's ``new=old``).
    Renamed fields move to the FRONT in mapping order, remaining columns
    keep their relative order — renameFields builds the record mapper from
    {renames, then defaults} key order (mapshaper-filter-rename-fields.js:
    10-15, filter-rename-fields-test.js:21-30)."""
    renamed_old = list(mapping.values())
    # getRecordMapper iterates {renames, then identity defaults} and writes
    # dest[map[key]] = src[key] into a JS object — so when a rename target
    # collides with an existing untouched column, the later identity write
    # WINS on value while the first write fixes the column position
    # (`-rename-fields a=b` on fields [a,b] yields one column `a` holding
    # the original a).  A Python dict reproduces both rules.
    assigns: dict[str, str] = dict(mapping)
    for c in df.columns:
        if c not in renamed_old:
            assigns[c] = c
    return df.select(*[df[old].alias(new) for new, old in assigns.items()])


def each(df: DataFrame, assignments: Mapping[str, str | Column],
         where: str | Column | None = None) -> DataFrame:
    """-each: derive/mutate columns; with ``where=``, non-matching rows keep
    their old value (or null for new columns), per each.js:12-19."""
    for name, expr in assignments.items():
        col = F.expr(expr) if isinstance(expr, str) else expr
        if where is not None:
            cond = F.expr(where) if isinstance(where, str) else where
            old = F.col(name) if name in df.columns else F.lit(None)
            col = F.when(cond, col).otherwise(old)
        df = df.withColumn(name, col)
    return df


def uniq(df: DataFrame, expr: str | Column, max_count: int = 1,
         order_col: str = ROW_IDX) -> DataFrame:
    """-uniq: keep the first ``max_count`` rows per expression value, in
    feature order (uniq.js:16-24)."""
    key = F.expr(expr) if isinstance(expr, str) else expr
    w = Window.partitionBy(key).orderBy(F.col(order_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_count).drop("__rn"))


def sort(df: DataFrame, expr: str | Column, ascending: bool = True) -> DataFrame:
    col = F.expr(expr) if isinstance(expr, str) else expr
    return df.orderBy(col.asc() if ascending else col.desc())


def calc_exprs() -> dict[str, callable]:
    """The -calc aggregate vocabulary -> Spark builtins (calc.js:40-177).
    ``median`` uses exact percentile (the reference computes exact); ``mode``
    uses Spark's mode (first-encountered tie-breaking matches getModeData's
    insertion-order modes[0] for deterministic inputs)."""
    return {
        "count": lambda c: F.count(F.lit(1)),
        "sum": F.sum,
        "average": F.avg,
        "median": lambda c: F.expr(f"percentile({c}, 0.5)") if isinstance(c, str) else F.percentile(c, F.lit(0.5)),
        "min": F.min,
        "max": F.max,
        "mode": F.mode,
        "collect": F.collect_list,
        "first": F.first,
        "last": F.last,
    }


def mode_agg(df: DataFrame, value: Column, out: str, order_col: str,
             group_cols: Sequence[str | Column] = ()) -> tuple[DataFrame, Column]:
    """Reference-exact ``mode()``: highest count, ties broken by FIRST
    OCCURRENCE in record order (getModeData insertion-order modes[0],
    calc-utils.js:8-43 — calc-utils-test.js 'multiple modes' pins
    [1,3,4,4,3,0,0] -> 3). Plan: window count + first-position per value
    (one extra hash exchange on (groups, value)), then ``max_by`` over the
    (count, -first_pos) struct — no join, no collect. Returns (df-with-
    helper-column, aggregate expression)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy(*group_cols, value)
    helper = f"__mode_{out}"
    df = df.withColumn(helper, F.struct(
        F.count(F.lit(1)).over(w).alias("n"),
        (-F.min(F.col(order_col)).over(w)).alias("o")))
    return df, F.max_by(value, F.col(helper)).alias(out)


def calc(df: DataFrame, aggs: Mapping[str, tuple[str, str | Column]],
         where: str | Column | None = None,
         order_col: str | None = None) -> DataFrame:
    """-calc: whole-layer aggregation. aggs = {out_name: (fn_name, column)}.
    With ``order_col``, mode() uses the reference's first-occurrence
    tie-break; without it, Spark's mode (arbitrary tie pick)."""
    if where is not None:
        df = df.filter(where)
    vocab = calc_exprs()
    cols = []
    for out, (fn, c) in aggs.items():
        col = F.col(c) if isinstance(c, str) else c
        if fn == "mode" and order_col is not None:
            df, expr = mode_agg(df, col, out, order_col)
            cols.append(expr)
        elif fn in ("first", "last") and order_col is not None:
            # Spark's first/last are order-undefined aggregates; the
            # reference captures the first/last RECORD's value (calc.js)
            fn_ = F.min_by if fn == "first" else F.max_by
            cols.append(fn_(col, F.col(order_col)).alias(out))
        else:
            cols.append(vocab[fn](col).alias(out))
    return df.agg(*cols)


def merge_layers(dfs: Sequence[DataFrame], force: bool = False) -> DataFrame:
    """-merge-layers: UNION ALL. ``force`` pads missing columns with nulls
    (merge-layers.js force option); without it, schemas must match.
    Columns are matched CASE-SENSITIVELY like the reference's field names
    ('id' and 'ID' stay distinct fields, merge-layers-test.js force case) —
    Spark's unionByName is case-insensitive under the default resolver, so
    the alignment is done by exact name here."""
    cols: list[str] = []
    types: dict[str, str] = {}
    for d in dfs:
        for c, t in zip(d.columns, [f.dataType for f in d.schema.fields]):
            if c not in cols:
                cols.append(c)
                types[c] = t
    if not force:
        for d in dfs:
            if set(d.columns) != set(cols):
                raise ValueError(
                    "-merge-layers: layers have different fields "
                    f"({sorted(set(cols) ^ set(d.columns))}); use force")
    aligned = [
        d.select(*[d[c].alias(c) if c in d.columns
                   else F.lit(None).cast(types[c]).alias(c) for c in cols])
        for d in dfs]
    out = aligned[0]
    for d in aligned[1:]:
        out = out.union(d)
    return out


def round_coords(col: Column, precision: float) -> Column:
    """-o precision= rounding (mapshaper-rounding.js:33-46
    getRoundingFunction): round(x * inv) / inv with inv = round(1/p) —
    dividing by the integer inverse is the form whose JSON.stringify shows
    no rounding artifacts (33.3, not 33.300000000000004); floor(x + 0.5)
    reproduces JS Math.round on negative halves (-1.5 -> -1)."""
    inv = 1.0 / precision
    if inv > 1:
        inv = float(round(inv))
    return F.floor(col * F.lit(inv) + F.lit(0.5)) / F.lit(inv)


def _affine_coeffs(shift, scale, rotate_deg, anchor):
    """getAffineTransform (mapshaper-affine.js:84-95):
    x' = a*(x-ax) - b*(y-ay) + dx + ax ; y' = b*(x-ax) + a*(y-ay) + dy + ay
    with a = s*cos(angle), b = -s*sin(angle) — i.e. positive rotate= turns
    CLOCKWISE (affine-test.js:41-52: rotate=90 about (2,1) maps (2,2)->(3,1))."""
    import math
    rad = rotate_deg * math.pi / 180.0
    return (math.cos(rad) * scale, -math.sin(rad) * scale,
            anchor[0], anchor[1], shift[0], shift[1])


def affine(df: DataFrame, x: str, y: str, shift: tuple[float, float] = (0.0, 0.0),
           scale: float = 1.0, rotate_deg: float = 0.0,
           anchor: tuple[float, float] = (0.0, 0.0),
           where=None) -> DataFrame:
    """-affine on point coordinates; ``where`` (a Column) limits the
    transform to matching rows, like the reference's where= option."""
    a, b, cx, cy, dx, dy = _affine_coeffs(shift, scale, rotate_deg, anchor)
    xc = F.col(x) - F.lit(cx)
    yc = F.col(y) - F.lit(cy)
    nx = F.lit(a) * xc - F.lit(b) * yc + F.lit(dx) + F.lit(cx)
    ny = F.lit(b) * xc + F.lit(a) * yc + F.lit(dy) + F.lit(cy)
    if where is not None:
        nx = F.when(where, nx).otherwise(F.col(x))
        ny = F.when(where, ny).otherwise(F.col(y))
    # one projection: chained withColumn would feed the transformed x
    # into the y expression
    return df.withColumns({x: nx, y: ny})


def affine_rings(df: DataFrame, shift: tuple[float, float] = (0.0, 0.0),
                 scale: float = 1.0, rotate_deg: float = 0.0,
                 anchor: tuple[float, float] = (0.0, 0.0),
                 where=None) -> DataFrame:
    """-affine on ring-carried geometry (polygons/polylines): the same
    matrix applied inside rings_x/rings_y, pure Catalyst."""
    a, b, cx, cy, dx, dy = _affine_coeffs(shift, scale, rotate_deg, anchor)
    pairs = F.zip_with(
        "rings_x", "rings_y",
        lambda rx, ry: F.struct(
            F.zip_with(rx, ry, lambda px, py:
                       F.lit(a) * (px - F.lit(cx)) - F.lit(b) * (py - F.lit(cy))
                       + F.lit(dx) + F.lit(cx)).alias("xs"),
            F.zip_with(rx, ry, lambda px, py:
                       F.lit(b) * (px - F.lit(cx)) + F.lit(a) * (py - F.lit(cy))
                       + F.lit(dy) + F.lit(cy)).alias("ys")))
    nx = F.transform(pairs, lambda p: p["xs"])
    ny = F.transform(pairs, lambda p: p["ys"])
    if where is not None:
        nx = F.when(where, nx).otherwise(F.col("rings_x"))
        ny = F.when(where, ny).otherwise(F.col("rings_y"))
    out = df.withColumns({"rings_x": nx, "rings_y": ny})
    if "bbox" in out.columns:
        out = out.drop("bbox")
    return out


def filter_remove_empty(df: DataFrame) -> DataFrame:
    """-filter remove-empty (filter.js:56-61 getEmptyPolygonFilter /
    remove_empty option): drop features with null/zero-ring geometry."""
    return df.filter(F.col("rings_x").isNotNull() & (F.size("rings_x") > 0))


def layer_info(df, name: str = "[unnamed]", kind: str | None = None):
    """-info analog (/root/reference/src/commands/mapshaper-info.js
    printInfo/getLayerInfo): one summary row per layer — name, inferred
    geometry type, feature count, null-geometry count, bbox extent (of a
    layer of ``kind``, ``layers.bounds_aggs``) and the attribute field
    list. Pure aggregations (one JVM pass)."""
    geom_cols = {"rings_x", "rings_y", "bbox", "x", "y"}
    fields = [c for c in df.columns if c not in geom_cols]
    if "rings_x" in df.columns:
        gtype = F.lit("polygon/polyline")
        nulls = F.sum((F.col("rings_x").isNull() |
                       (F.size("rings_x") == 0)).cast("long"))
    elif "x" in df.columns:
        gtype = F.lit("point")
        nulls = F.sum(F.col("x").isNull().cast("long"))
    else:
        gtype = F.lit("table")
        nulls = F.lit(0).cast("long")
    aggs = [F.count(F.lit(1)).alias("n_features"), nulls.alias("n_null_geoms")]
    aggs += [a.alias(c) for a, c in
             zip(bounds_aggs(df, kind), ("xmin", "ymin", "xmax", "ymax"))]
    return (df.agg(*aggs)
            .select(F.lit(name).alias("layer"), gtype.alias("geometry_type"),
                    "n_features", "n_null_geoms", "xmin", "ymin", "xmax", "ymax",
                    F.lit(",".join(fields)).alias("fields")))


def to_json_records(df, drop_geometry: bool = True) -> str:
    """-o format=json analog: the attribute table as a JSON array of
    records (driver-side sink, like the reference's single-file output)."""
    import json as _json

    geom_cols = {"rings_x", "rings_y", "bbox"}
    cols = [c for c in df.columns if not (drop_geometry and c in geom_cols)]
    rows = [r.asDict(recursive=True) for r in df.select(*cols).collect()]
    return _json.dumps(rows, default=str)
