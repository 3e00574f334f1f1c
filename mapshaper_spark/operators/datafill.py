"""-data-fill: fill missing attribute values from topological neighbors.

Reference (/root/reference/src/commands/mapshaper-data-fill.js:3-34 +
getDataFillCalculator): repeated passes assign each empty feature the value
of the neighbor with the greatest total shared-border length that already
has a value; passes repeat until no assignment happens. (The reference's
final island-smoothing pass is not reproduced.) Tie-break here: lowest
neighbor key (deterministic under parallel evaluation; the reference's tie
falls to first-encountered arc order, which is input-order dependent).

Plan shape: the neighbor-pair weight table is built ONCE (the shared arcs
of ``dissolve.innerlines`` -> sum arc length per pair); each pass is one
broadcast-join + groupBy(argmax), materialized with ``localCheckpoint`` so the next pass
plans against the filled table, not against one join per earlier pass —
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapshaper_spark.operators.dissolve import innerlines


def arc_length_col() -> F.Column:
    """Planar arc length from xs/ys arrays — pure JVM aggregate."""
    idx = F.sequence(F.lit(2), F.size("xs"))
    return F.aggregate(
        idx, F.lit(0.0),
        lambda acc, i: acc + F.sqrt(
            (F.element_at("xs", i) - F.element_at("xs", i - 1)) ** 2 +
            (F.element_at("ys", i) - F.element_at("ys", i - 1)) ** 2))


def neighbor_weights(features: DataFrame, arcs: DataFrame, key: str) -> DataFrame:
    """(key_a, key_b, weight) for every adjacent feature pair; weight = total
    shared border length (sum over shared arcs)."""
    sides = innerlines(features, key)
    lengths = arcs.select(F.col("arc_id").alias("aid"), arc_length_col().alias("len"))
    pairs = sides.join(lengths, "aid")
    return pairs.groupBy("key_a", "key_b").agg(F.sum("len").alias("weight"))


def data_fill(features: DataFrame, arcs: DataFrame, key: str, field: str,
              max_passes: int = 10) -> DataFrame:
    """Fill null ``field`` values from the heaviest-border neighbor with a
    value; iterate until stable (bounded by max_passes)."""
    w = neighbor_weights(features, arcs, key)
    sym = w.select("key_a", "key_b", "weight").unionByName(
        w.select(F.col("key_b").alias("key_a"), F.col("key_a").alias("key_b"), "weight"))
    # every fill pass reads it: materialize once (GC-reclaimable)
    sym = sym.localCheckpoint()

    cur = features
    n_empty = cur.filter(F.col(field).isNull()).count()
    for _ in range(max_passes):
        if n_empty == 0:
            break
        vals = cur.select(F.col(key).alias("key_b"), F.col(field).alias("__nbr_val"))
        cand = (sym.join(vals, "key_b").filter(F.col("__nbr_val").isNotNull())
                .groupBy("key_a")
                .agg(F.max(F.struct(F.col("weight"),
                                    (-F.col("key_b").cast("double")).alias("tb"),
                                    F.col("__nbr_val").alias("v"))).alias("best"))
                .select(F.col("key_a").alias(key), F.col("best.v").alias("__fill")))
        cur = (cur.join(cand, key, "left")
               .withColumn(field, F.coalesce(F.col(field), F.col("__fill")))
               .drop("__fill")).localCheckpoint()
        still = cur.filter(F.col(field).isNull()).count()
        if still == n_empty:  # nothing changed (isolated empties)
            break
        n_empty = still
    return cur
