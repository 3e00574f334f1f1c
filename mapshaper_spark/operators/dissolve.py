"""Dissolve operators.

- Attribute aggregation (-dissolve fields= with sum-fields/copy-fields/calc):
  /root/reference/src/data/mapshaper-data-aggregation.js:5-78 — a plain
  groupBy with sum/first/calc aggregates (hash aggregate, partial+final).
- Point dissolve (weighted centroid per group):
  /root/reference/src/dissolve/mapshaper-point-dissolve.js:3-61.
- Polygon dissolve v1 (two-pass shared-edge cancellation):
  /root/reference/src/dissolve/mapshaper-polygon-dissolve.js:3-198.
  Pass 1 pairs opposite-direction references to the same arc within a group
  (``arc1.arcId === ~arc2.arcId``, :79-82) — distributed here as
  groupBy(group, abs_arc) with forward/reverse counts; an arc survives when
  counts differ (interior shared borders cancel exactly).
  Pass 2 walks surviving arcs into rings — per-group pandas UDF (surviving
  boundary arcs per group are small even when the group itself is huge; hot
  groups would get a pre-reduce on (group, abs_arc) which is exactly what
  the groupBy already provides).
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark.layers import arc_refs
from mapshaper_spark.operators.attributes import calc_exprs


def dissolve_attributes(df: DataFrame, fields: Sequence[str],
                        sum_fields: Sequence[str] = (),
                        copy_fields: Sequence[str] = (),
                        calc: Mapping[str, tuple[str, str]] | None = None,
                        order_col: str | None = None) -> DataFrame:
    """-dissolve attribute semantics (data-aggregation.js:39-78):
    sum-fields summed (null -> 0), copy-fields from the group's first member
    (feature order), calc= full aggregate vocabulary."""
    aggs: list = []
    for f in sum_fields:
        aggs.append(F.sum(F.coalesce(F.col(f), F.lit(0))).alias(f))
    if copy_fields:
        order = F.col(order_col) if order_col else F.lit(0)
        first = F.min(F.struct(order.alias("__o"),
                               *[F.col(f).alias(f) for f in copy_fields])).alias("__first")
        aggs.append(first)
    if calc:
        from mapshaper_spark.operators.attributes import mode_agg
        vocab = calc_exprs()
        for out, (fn, c) in calc.items():
            if fn == "mode" and order_col is not None:
                df, expr = mode_agg(df, F.col(c), out, order_col,
                                    group_cols=list(fields))
                aggs.append(expr)
            elif fn in ("first", "last") and order_col is not None:
                fn_ = F.min_by if fn == "first" else F.max_by
                aggs.append(fn_(F.col(c), F.col(order_col)).alias(out))
            else:
                aggs.append(vocab[fn](F.col(c)).alias(out))
    if not aggs:  # bare -dissolve: one row per group, key fields only
        return df.select(*fields).distinct()
    out = df.groupBy(*fields).agg(*aggs)
    if copy_fields:
        out = out.select(*fields,
                         *[c for c in out.columns if c not in fields and c != "__first"],
                         *[F.col(f"__first.{f}").alias(f) for f in copy_fields])
    return out


def dissolve_points(df: DataFrame, fields: Sequence[str], x: str, y: str,
                    weight: str | None = None) -> DataFrame:
    """Planar weighted centroid per group (point-dissolve.js:3-61; the
    reference's incremental mean equals sum(w*x)/sum(w) mathematically —
    computed here as the associative form for distributed reduction)."""
    w = F.col(weight) if weight else F.lit(1.0)
    return (df.groupBy(*fields)
            .agg((F.sum(w * F.col(x)) / F.sum(w)).alias(x),
                 (F.sum(w * F.col(y)) / F.sum(w)).alias(y)))


_RING_SCHEMA_FIELDS = [
    T.StructField("parts", T.ArrayType(T.ArrayType(T.IntegerType()))),
    T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
]


def dissolve_polygons(features: DataFrame, arcs: DataFrame, group: str) -> DataFrame:
    """Two-pass shared-edge dissolve. Returns one row per group with
    reconstructed ``parts`` (signed arc ids) and assembled ring coords.

    Plan:
      explode (group, signed arc)                                (narrow)
      -> groupBy(group, abs_arc): net direction count            (shuffle 1)
      -> keep unpaired arcs, join arc endpoints (broadcast)      (map-side)
      -> groupBy(group) ring-walk pandas UDF                     (shuffle 2)
    """
    exploded = arc_refs(features, group).withColumn(
        "fwd", (F.col("signed") >= 0).cast("int"))
    counts = (exploded.groupBy(group, "aid")
              .agg(F.sum("fwd").alias("nf"), F.sum(1 - F.col("fwd")).alias("nr")))
    boundary = (counts.filter(F.col("nf") != F.col("nr"))
                .withColumn("dir_fwd", F.col("nf") > F.col("nr")))

    ends = arcs.select(
        "arc_id", "xs", "ys",
        F.element_at("xs", 1).alias("x0"), F.element_at("ys", 1).alias("y0"),
        F.element_at("xs", -1).alias("x1"), F.element_at("ys", -1).alias("y1"),
    )
    b = boundary.join(ends, boundary.aid == ends.arc_id).drop("arc_id")

    out_schema = T.StructType([b.schema[group]] + _RING_SCHEMA_FIELDS)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group].iloc[0]
        # orient each surviving arc by its net direction
        recs = []
        for row in pdf.itertuples(index=False):
            if row.dir_fwd:
                recs.append((int(row.aid), row.x0, row.y0, row.x1, row.y1,
                             np.asarray(row.xs), np.asarray(row.ys)))
            else:
                recs.append((-(int(row.aid) + 1), row.x1, row.y1, row.x0, row.y0,
                             np.asarray(row.xs)[::-1], np.asarray(row.ys)[::-1]))
        recs.sort(key=lambda t: t[0])
        by_start: dict[tuple[float, float], list[int]] = {}
        for i, r in enumerate(recs):
            by_start.setdefault((r[1], r[2]), []).append(i)
        used = [False] * len(recs)
        parts: list[list[int]] = []
        rxs: list[list[float]] = []
        rys: list[list[float]] = []
        for i in range(len(recs)):
            if used[i]:
                continue
            ring_ids = []
            ring_x: list[float] = []
            ring_y: list[float] = []
            j = i
            start = (recs[i][1], recs[i][2])
            while True:
                used[j] = True
                sid, _, _, ex, ey, xa, ya = recs[j]
                ring_ids.append(sid)
                if ring_x:
                    xa, ya = xa[1:], ya[1:]
                ring_x.extend(xa.tolist())
                ring_y.extend(ya.tolist())
                if (ex, ey) == start:
                    break
                nxts = [k for k in by_start.get((ex, ey), []) if not used[k]]
                if not nxts:
                    break  # open chain (shouldn't happen on clean topology)
                j = nxts[0]
            parts.append(ring_ids)
            rxs.append(ring_x)
            rys.append(ring_y)
        return pd.DataFrame({group: [g], "parts": [parts],
                             "rings_x": [rxs], "rings_y": [rys]})

    return b.groupBy(group).applyInPandas(walk, schema=out_schema)


def innerlines(features: DataFrame, group_key: str) -> DataFrame:
    """-innerlines (mapshaper-innerlines.js:3-34 via getArcClassifier,
    mapshaper-arc-classifier.js:4-46): arcs flanked by two different features
    (or feature groups). Returns (aid, left key, right key) for shared arcs:
    the two-reference rows of ``lines`` whose keys differ."""
    return (lines(features, group_key)
            .filter(F.col("key_a") != F.col("key_b"))
            .select("aid", "key_a", "key_b"))


def polygon_neighbors(features: DataFrame, key: str) -> DataFrame:
    """-neighbors pairs (mapshaper-polygon-neighbors.js:3-21): distinct
    (a, b) feature pairs sharing at least one arc, a < b."""
    return innerlines(features, key).select("key_a", "key_b").distinct()


def lines(features: DataFrame, group_key: str) -> DataFrame:
    """-lines (mapshaper-innerlines.js api.lines via getArcClassifier):
    classify every arc by its flanking features — 'outer' (referenced by one
    feature), '<field>' boundary (two features with different group values),
    or 'inner' (two features, same group value). Returns
    (aid, line_type, key_a, key_b)."""
    sides = (arc_refs(features, group_key).groupBy("aid")
             .agg(F.collect_list(group_key).alias("ks"),
                  F.count(F.lit(1)).alias("n_refs")))
    two = F.col("n_refs") == 2
    ka = F.array_min("ks")
    kb = F.array_max("ks")
    return (sides.filter(F.col("n_refs") <= 2)
            .select("aid",
                    F.when(~two, F.lit("outer"))
                     .when(ka != kb, F.lit(group_key))
                     .otherwise(F.lit("inner")).alias("line_type"),
                    ka.alias("key_a"),
                    F.when(two, kb).alias("key_b")))
