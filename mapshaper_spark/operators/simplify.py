"""-simplify as a distributed operator family.

Per-arc threshold computation is embarrassingly parallel over the arcs table
(/root/reference/src/simplify/mapshaper-simplify.js:10-41): a pandas UDF maps
(xs, ys) -> zs with the exact Visvalingam / weighted-Visvalingam / DP kernels
from mapshaper_spark.geom.kernels. The retained interval for percentage=
simplification reproduces setRetainedPct (mapshaper-arcs.js:492-498):
rank-th smallest removable threshold with rank = floor((1-pct)*(n+2)).

Applying a z-limit is a *non-destructive mask* (the reference's filtered
iterators, mapshaper-arcs.js:423-431): vertices with z < zlimit are skipped,
arc endpoints (z = +inf) always survive.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark import layers as L
from mapshaper_spark.geom import kernels as K

METHODS = ("visvalingam", "weighted_visvalingam", "dp")


def compute_thresholds(arcs: DataFrame, method: str = "weighted_visvalingam",
                       weighting: float = 0.7, spherical: bool = False) -> DataFrame:
    """Fill the ``zs`` column with per-vertex removal thresholds.

    ``spherical``: treat coords as lng/lat and simplify on the 3D unit
    sphere (simplify.js:77-89 convLngLatToSph + 3D metrics) — thresholds
    come out in meters-equivalent units."""
    if method not in METHODS:
        raise ValueError(f"unknown method {method}")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            zs_out = []
            for xs, ys in zip(pdf["xs"], pdf["ys"]):
                xa = np.asarray(xs, dtype=np.float64)
                ya = np.asarray(ys, dtype=np.float64)
                if spherical:
                    x3, y3, z3 = K.lnglat_to_xyz(xa, ya)
                    if method == "dp":
                        zz = K.douglas_peucker_arc(x3, y3, zs=z3)
                    else:
                        zz = K.visvalingam_arc(
                            x3, y3, zs=z3,
                            weighted=(method == "weighted_visvalingam"),
                            weighting=weighting)
                elif method == "dp":
                    zz = K.douglas_peucker_arc(xa, ya)
                else:
                    zz = K.visvalingam_arc(xa, ya,
                                           weighted=(method == "weighted_visvalingam"),
                                           weighting=weighting)
                zs_out.append(zz.tolist())
            pdf = pdf.copy()
            pdf["zs"] = zs_out
            yield pdf

    return arcs.mapInPandas(gen, schema=arcs.schema)


def _protect_shape_serial(shape_rows: list, arc_zz: dict,
                          out_aid: list, out_vidx: list) -> None:
    """protectShape for ONE shape against the LIVE zz state (keep-shapes.js
    :22-94): pick the largest ring by bbox area (the first in ring order
    on a tie), then iteratively lock the highest-threshold removable
    vertices (every occurrence of the target z within the winning arc)
    until the ring's area at retained-interval=Infinity exceeds 1e-10.
    Mutates ``arc_zz`` in place like the reference's shared zz array."""
    by_ring: dict = {}
    for r in shape_rows:
        by_ring.setdefault(r["ring_idx"], []).append(r)
    best_ring, best_area = None, -1.0
    for ring_idx, rows in sorted(by_ring.items()):
        xa = np.concatenate([np.asarray(r["xs"]) for r in rows])
        ya = np.concatenate([np.asarray(r["ys"]) for r in rows])
        area = float((xa.max() - xa.min()) * (ya.max() - ya.min()))
        if area > best_area:
            best_area = area
            best_ring = ring_idx
    rows = sorted(by_ring[best_ring], key=lambda r: r["seq"])
    recs = []
    for r in rows:
        aid = int(r["aid"])
        if aid not in arc_zz:
            arc_zz[aid] = np.asarray(r["zs"], dtype=np.float64).copy()
        recs.append([aid,
                     np.asarray(r["xs"], dtype=np.float64),
                     np.asarray(r["ys"], dtype=np.float64),
                     arc_zz[aid],          # LIVE shared array
                     r["signed"] < 0])

    def ring_area_at_inf() -> float:
        xs_cat, ys_cat = [], []
        for _, xa, ya, zz, rev in recs:
            keep = zz == math.inf
            kx, ky = xa[keep], ya[keep]
            if rev:
                kx, ky = kx[::-1], ky[::-1]
            xs_cat.append(kx)
            ys_cat.append(ky)
        xa = np.concatenate(xs_cat)
        ya = np.concatenate(ys_cat)
        return abs(K.planar_path_area(xa, ya))

    # protectPolygonRing: minArea epsilon guards f.p.-positive collapsed
    # rings (keep-shapes.js:48-62)
    while ring_area_at_inf() <= 1e-10:
        targ_z, targ_i = 0.0, None
        for i, (_, _, _, zz, _) in enumerate(recs):
            finite = zz[zz != math.inf]
            if len(finite) == 0:
                continue
            z = float(finite.max())
            if z > targ_z:
                targ_z, targ_i = z, i
        if targ_i is None:
            break  # nothing left to lock
        aid, _, _, zz, _ = recs[targ_i]
        hits = np.nonzero(zz == targ_z)[0]
        zz[hits] = math.inf
        out_aid.extend([aid] * len(hits))
        out_vidx.extend(int(h) for h in hits)


def keep_shapes(features: DataFrame, arcs_with_zs: DataFrame,
                key: str, max_component_shapes: int = 4096) -> DataFrame:
    """-simplify keep-shapes with the reference's SERIAL shared-arc
    semantics: protectShape mutates the global zz in shape order
    (mapshaper-keep-shapes.js:22-94), so a later shape that shares a
    collapsed arc with an earlier one sees the earlier locks. Shapes only
    interact through shared arcs, so connected components of the
    shape-shares-arc graph replay independently — one applyInPandas kernel
    per component, shapes processed in ``key`` order (= record order from
    the CLI), exactly reproducing the reference's global sequence.

    Scale bound: a component larger than ``max_component_shapes`` falls
    back to the round-3 per-shape approximation (each shape locks against
    the pristine thresholds; the union is a SUPERSET of the reference's
    locks — documented in DEVIATIONS.md) rather than serializing a
    continent-sized mesh through one task.

    Returns a new arcs DataFrame with the protected zs."""
    from mapshaper_spark.layers import arc_refs
    from mapshaper_spark.operators.dedup import dup_clusters

    exploded = arc_refs(features, key)
    joined = exploded.join(arcs_with_zs.select(
        F.col("arc_id").alias("aid"), "xs", "ys", "zs"), "aid")

    # connected components over "shapes sharing an arc"
    sa = exploded.select(key, "aid").distinct()
    e1 = sa.select(F.col(key).alias("ka"), "aid")
    e2 = sa.select(F.col(key).alias("kb"), F.col("aid").alias("aid2"))
    edges = (e1.join(e2, (e1.aid == e2.aid2) & (e1.ka < e2.kb))
             .select(F.col("ka").alias("id_a"), F.col("kb").alias("id_b"))
             .distinct())
    members = sa.select(F.col(key).alias("id")).distinct()
    comp = (dup_clusters(edges, members, "id")
            .select(F.col("id").alias(key), F.col("cluster").alias("__kcomp")))
    joined_c = joined.join(comp, key)

    prot_schema = T.StructType([T.StructField("aid", T.LongType()),
                                T.StructField("vidx", T.IntegerType())])

    def run_comp(pdf: pd.DataFrame) -> pd.DataFrame:
        out_aid: list = []
        out_vidx: list = []
        arc_zz: dict = {}
        keys_order = sorted(pdf[key].unique())
        serial = len(keys_order) <= max_component_shapes
        for kv in keys_order:
            rows = pdf[pdf[key] == kv].to_dict("records")
            if serial:
                _protect_shape_serial(rows, arc_zz, out_aid, out_vidx)
            else:
                # oversized component: pristine-threshold approximation
                _protect_shape_serial(rows, {}, out_aid, out_vidx)
        return pd.DataFrame({"aid": pd.Series(out_aid, dtype="int64"),
                             "vidx": pd.Series(out_vidx, dtype="int32")})

    protect = (joined_c.groupBy("__kcomp").applyInPandas(run_comp,
                                                         schema=prot_schema)
               .groupBy("aid").agg(F.collect_set("vidx").alias("protect_idx")))

    out = arcs_with_zs.join(protect, arcs_with_zs.arc_id == protect.aid, "left") \
        .drop("aid")
    idx = F.sequence(F.lit(1), F.size("zs"))
    new_zs = F.when(F.col("protect_idx").isNull(), F.col("zs")).otherwise(
        F.zip_with(F.col("zs"), idx, lambda z, i:
                   F.when(F.array_contains(F.col("protect_idx"), i - 1),
                          F.lit(float("inf"))).otherwise(z)))
    return out.withColumn("zs", new_zs).drop("protect_idx")


def threshold_for_pct(arcs_with_zs: DataFrame, pct: float) -> float:
    """Exact distributed setRetainedPct: rank-th smallest removable z.

    Two jobs: a count, then an orderBy+limit(rank) pruned to the tail (the
    standard exact-quantile-by-rank plan).
    """
    if pct >= 1:
        return 0.0
    if pct <= 0:
        return math.inf
    zz = (arcs_with_zs.select(F.explode("zs").alias("z"))
          .filter(F.col("z") != float("inf")))
    n = zz.count()
    rank = 0 if n == 0 else int(math.floor((1.0 - pct) * (n + 2)))
    if rank <= 0:
        return 0.0
    if rank > n:
        return math.inf
    rows = zz.orderBy("z").limit(rank).orderBy(F.desc("z")).limit(1).collect()
    return float(rows[0][0])


def apply_zlimit(arcs_with_zs: DataFrame, zlimit: float) -> DataFrame:
    """Masked copy of each arc keeping vertices with z >= zlimit (endpoints
    are +inf so always kept) — the reference's filtered-iterator semantics
    applied destructively for export (getFilteredCopy, arcs.js:140-160).
    Pure JVM: arrays_zip + filter + transform."""
    zipped = F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"),
                          F.col("zs").alias("z"))
    kept = F.filter(zipped, lambda s: s["z"] >= F.lit(zlimit))
    return (arcs_with_zs
            .withColumn("__kept", kept)
            .withColumn("xs", F.transform("__kept", lambda s: s["x"]))
            .withColumn("ys", F.transform("__kept", lambda s: s["y"]))
            .withColumn("zs", F.transform("__kept", lambda s: s["z"]))
            .withColumn("n", F.size("xs"))
            .drop("__kept"))


def simplify(arcs: DataFrame, method: str = "weighted_visvalingam",
             pct: float = 1.0, interval: float | None = None,
             weighting: float = 0.7, spherical: bool = False):
    """Full -simplify: thresholds + retained interval. Returns
    (arcs_with_zs, zlimit); call apply_zlimit to materialize."""
    with_z = compute_thresholds(arcs, method=method, weighting=weighting,
                                spherical=spherical)
    if interval is not None:
        return with_z, float(interval)
    # materialize once: the quantile probes and the export all read it
    with_z = with_z.localCheckpoint()
    return with_z, threshold_for_pct(with_z, pct)


def apply_zlimit_with_index(arcs_with_zs: DataFrame, zlimit: float) -> DataFrame:
    """Like apply_zlimit but keeps ``orig_idx``: for each retained vertex,
    its 1-based index in the unsimplified arc (needed to map simplified
    segment ids back to original vertex spans)."""
    idx = F.sequence(F.lit(1), F.size("zs"))
    kept = F.filter(idx, lambda i: F.element_at("zs", i) >= F.lit(zlimit))
    return (arcs_with_zs
            .withColumn("orig_idx", kept)
            .withColumn("xs", F.transform("orig_idx", lambda i: F.element_at("xs", i)))
            .withColumn("ys", F.transform("orig_idx", lambda i: F.element_at("ys", i)))
            .withColumn("n", F.size("xs")))


def post_simplify_repair(arcs_with_zs: DataFrame, zlimit: float,
                         max_rounds: int = 5) -> DataFrame:
    """Remove line intersections introduced by simplification by rolling
    back simplification along intersecting segments — the semantics of
    internal.postSimplifyRepair
    (/root/reference/src/simplify/mapshaper-post-simplify-repair.js:10-36 /
    unwindIntersection :123-141: re-add the highest-threshold removed vertex
    on one of the two intersecting segments by raising its z to zlimit;
    iterate until clean).

    DISTRIBUTED DEVIATION (documented): the reference unwinds targets one at
    a time from a global priority queue; here each round unwinds every
    intersecting segment pair in parallel, then re-detects. Both iterate to
    an intersection-free fixpoint; vertex choice per segment (max removable
    z, reference getUnwindTarget) is identical.

    Returns arcs_with_zs with raised thresholds. Intersections present in
    the original data are unrepairable (same limitation as the reference).
    """
    from mapshaper_spark.operators.topology import find_segment_intersections

    def _unwind_marks(df) -> int:
        # progress measure: vertices whose z equals zlimit (unwinding sets
        # exactly that). The reference loops until unwindIntersections
        # reports ZERO CHANGES (repairIntersections :31-36) — unrepairable
        # intersections must not spin the loop.
        return df.select(F.sum(F.size(F.filter(
            "zs", lambda z: z == F.lit(float(zlimit)))))).collect()[0][0] or 0

    prev_marks = _unwind_marks(arcs_with_zs)
    for _ in range(max_rounds):
        simp = apply_zlimit_with_index(arcs_with_zs, zlimit).cache()
        hits = find_segment_intersections(
            simp.select("arc_id", "xs", "ys"), same_arc=True)
        spans = (hits.select(F.col("arc_a").alias("arc_id"), F.col("seg_a").alias("seg"))
                 .unionByName(hits.select(F.col("arc_b").alias("arc_id"),
                                          F.col("seg_b").alias("seg")))
                 .groupBy("arc_id").agg(F.collect_set("seg").alias("segs")))
        if spans.isEmpty():
            simp.unpersist()
            break

        joined = (arcs_with_zs.join(spans, "arc_id", "left")
                  .join(simp.select("arc_id", "orig_idx"), "arc_id"))

        def unwind(it):
            for pdf in it:
                zs_out = []
                for zs, segs, orig_idx in zip(pdf["zs"], pdf["segs"], pdf["orig_idx"]):
                    zz = np.asarray(zs, dtype=np.float64).copy()
                    if segs is not None:
                        for seg in segs:
                            # simplified segment ``seg`` spans original
                            # vertices (orig_idx[seg-1], orig_idx[seg]]
                            a = int(orig_idx[int(seg) - 1])
                            b = int(orig_idx[int(seg)])
                            interior = zz[a:b - 1]  # 0-based a..b-2 = orig a+1..b-1
                            if len(interior) == 0:
                                continue
                            k = a + int(np.argmax(interior))
                            zz[k] = zlimit  # re-add (findNextRemovableVertex max-z)
                    zs_out.append(zz.tolist())
                pdf = pdf.copy()
                pdf["zs"] = zs_out
                yield pdf.drop(columns=["segs", "orig_idx"])

        arcs_with_zs = joined.mapInPandas(unwind, schema=arcs_with_zs.schema)
        # localCheckpoint (not cache): each round's frame references the
        # previous one THREE ways (directly, through spans, and through
        # simp), so an un-truncated logical plan grows ~4x per round and
        # Catalyst analysis goes exponential — a 43-arc layer burned 30+
        # CPU-minutes in the optimizer before this. Eager checkpoint
        # materializes AND cuts the lineage; the recompute-on-executor-
        # loss tradeoff (plans/scale.py discussion) is acceptable for a
        # loop bounded at max_rounds.
        arcs_with_zs = arcs_with_zs.localCheckpoint(eager=True)
        simp.unpersist()
        marks = _unwind_marks(arcs_with_zs)
        if marks == prev_marks:
            break  # remaining intersections are unrepairable (no changes)
        prev_marks = marks
    return arcs_with_zs


def pct_for_interval(arcs_with_zs: DataFrame, interval: float) -> float:
    """Inverse of threshold_for_pct: the retained percentage a given
    interval corresponds to (getSimplifyPct / simplify-pct.js:1-19 —
    fraction of removable thresholds >= the interval)."""
    zz = (arcs_with_zs.select(F.explode("zs").alias("z"))
          .filter(F.col("z") != float("inf")))
    row = zz.agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("z") >= interval).cast("long")).alias("kept")).collect()[0]
    if not row.n:
        return 1.0
    return row.kept / row.n


def simplify_stats(arcs_with_zs: DataFrame, zlimit: float = 0.0) -> dict:
    """-simplify stats (mapshaper-simplify-stats.js): vertex counts before/
    after the mask, removable-threshold quantiles (distributed
    percentile_approx — the printout path, not fixture-compared)."""
    base = arcs_with_zs.select(F.explode("zs").alias("z"))
    removable = base.filter(F.col("z") != float("inf"))
    q = removable.agg(
        F.count(F.lit(1)).alias("removable"),
        F.sum((F.col("z") >= zlimit).cast("long")).alias("kept_removable"),
        F.expr("percentile_approx(z, array(0.25, 0.5, 0.75, 0.95), 10000)").alias("q"),
    ).collect()[0]
    n_arcs = arcs_with_zs.count()
    total = base.count()
    return {
        "arcs": n_arcs,
        "vertices": total,
        "removable": q.removable,
        "kept_at_zlimit": (total - q.removable) + (q.kept_removable or 0),
        "z_quantiles": {p: v for p, v in zip((0.25, 0.5, 0.75, 0.95), q.q or [])},
    }




# ---------------------------------------------------------------------------
# fast simplify (interval thinning)
# ---------------------------------------------------------------------------

def _fast_keep_walk(xs, ys, dist):
    """simplifyPathFast (/root/reference/src/simplify/
    mapshaper-simplify-fast.js:45-66): keep the first vertex, then every
    vertex farther than ``dist`` from the LAST KEPT one; always append the
    final vertex if it differs from the last kept. Sequential by nature
    (each decision depends on the previous kept point)."""
    n = len(xs)
    if n == 0:
        return [], []
    kx = [xs[0]]
    ky = [ys[0]]
    px, py = xs[0], ys[0]
    d2 = dist * dist
    for i in range(1, n):
        x, y = xs[i], ys[i]
        if (x - px) ** 2 + (y - py) ** 2 > d2:
            kx.append(x)
            ky.append(y)
            px, py = x, y
    if n > 1 and (xs[n - 1] != px or ys[n - 1] != py):
        kx.append(xs[n - 1])
        ky.append(ys[n - 1])
    return kx, ky


def simplify_arcs_fast(arcs: DataFrame, dist: float) -> DataFrame:
    """internal.simplifyArcsFast (mapshaper-simplify-fast.js:3-18): interval
    thinning per arc; an arc reduced to a single vertex becomes EMPTY
    (count 0), matching the reference's pop. Arcs are independent ->
    embarrassingly parallel mapInPandas; no shuffle."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            nxs, nys, nn = [], [], []
            for xs, ys in zip(pdf["xs"], pdf["ys"]):
                kx, ky = _fast_keep_walk(list(xs), list(ys), dist)
                if len(kx) == 1:
                    kx, ky = [], []
                nxs.append(kx)
                nys.append(ky)
                nn.append(len(kx))
            pdf = pdf.copy()
            pdf["xs"] = nxs
            pdf["ys"] = nys
            if "n" in pdf.columns:
                pdf["n"] = nn
            yield pdf

    return arcs.mapInPandas(gen, schema=arcs.schema)


def simplify_polygons_fast(features: DataFrame, dist: float) -> DataFrame:
    """internal.simplifyPolygonFast (mapshaper-simplify-fast.js:20-43) over
    a ring feature layer: thin each ring; rings left with < 4 vertices are
    dropped; features with no surviving rings are dropped (the reference
    returns shape=null)."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keep_rows = []
            nxs, nys = [], []
            for i, (rxs, rys) in enumerate(zip(pdf["rings_x"], pdf["rings_y"])):
                okx, oky = [], []
                if rxs is not None:
                    for xs, ys in zip(rxs, rys):
                        kx, ky = _fast_keep_walk(list(xs), list(ys), dist)
                        if len(kx) >= 4:
                            okx.append(kx)
                            oky.append(ky)
                if okx:
                    keep_rows.append(i)
                    nxs.append(okx)
                    nys.append(oky)
            out = pdf.iloc[keep_rows].copy()
            out["rings_x"] = pd.Series(nxs, index=out.index, dtype=object)
            out["rings_y"] = pd.Series(nys, index=out.index, dtype=object)
            yield out

    return features.mapInPandas(gen, schema=features.schema)


# ---------------------------------------------------------------------------
# simplification extent protection (world edges / lock-box)
# ---------------------------------------------------------------------------

def limit_simplification_extent(arcs_with_zs: DataFrame, bb, hard_limit: bool,
                                bounds=None) -> DataFrame:
    """limitSimplificationExtent (mapshaper-simplify.js:123-143): vertices
    at or beyond the ``bb`` edges get their threshold raised — to Infinity
    with ``hard_limit`` (never removed), else to the ARC's max finite
    threshold (never removed before the arc's other vertices). Existing
    Infinity locks are never overridden; a no-op when the content stays
    strictly inside ``bb`` (containsBounds early exit). ``bounds``: the
    content bounds when known, else probed with ``layers.bounds`` over the
    vertices (an arc's stored bbox may be unset)."""
    xmin, ymin, xmax, ymax = bb
    b = L.bounds(arcs_with_zs.drop("bbox")) if bounds is None else bounds
    if b is None or (xmin <= b[0] and ymin <= b[1] and
                     xmax >= b[2] and ymax >= b[3]):
        return arcs_with_zs
    inf = float("inf")
    if hard_limit:
        lock = F.lit(inf)
    else:
        # findMaxThreshold: the arc's largest non-Infinity z, 0 if none
        lock = F.coalesce(
            F.array_max(F.filter("zs", lambda z: z != F.lit(inf))),
            F.lit(0.0))
    zipped = F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"),
                          F.col("zs").alias("z"))
    new_zs = F.transform(zipped, lambda s: F.when(
        (s["z"] != F.lit(inf)) &
        ((s["x"] >= F.lit(float(xmax))) | (s["x"] <= F.lit(float(xmin))) |
         (s["y"] <= F.lit(float(ymin))) | (s["y"] >= F.lit(float(ymax)))),
        lock).otherwise(s["z"]))
    return arcs_with_zs.withColumn("zs", new_zs)


def protect_world_edges(arcs_with_zs: DataFrame, bounds=None) -> DataFrame:
    """protectWorldEdges (mapshaper-simplify.js:149-154): on spherical
    simplify, polar / antimeridian coordinates (within 1e-12 of the world
    bounds) are never removed before an arc's other vertices
    (simplify-test.js #protectWorldEdges goldens). ``bounds``: the
    content bounds when known (see ``limit_simplification_extent``)."""
    e = 1e-12
    return limit_simplification_extent(
        arcs_with_zs, (-180 + e, -90 + e, 180 - e, 90 - e), hard_limit=False,
        bounds=bounds)


def protect_content_edges(arcs_with_zs: DataFrame, bounds=None) -> DataFrame:
    """protectContentEdges (-simplify lock-box, mapshaper-simplify.js:
    113-118): vertices on the dataset's own bounding box are never removed
    (simplify-test.js 'protects a square shape'). ``bounds``: that box when
    known, else probed with ``layers.bounds`` over the vertices."""
    e = 1e-14
    b = L.bounds(arcs_with_zs.drop("bbox")) if bounds is None else bounds
    if b is None:
        return arcs_with_zs
    return limit_simplification_extent(
        arcs_with_zs, (b[0] + e, b[1] + e, b[2] - e, b[3] - e),
        hard_limit=True, bounds=b)


# ---------------------------------------------------------------------------
# -simplify resolution= (screen-resolution-derived interval)
# ---------------------------------------------------------------------------

def parse_simplify_resolution(raw) -> tuple[float, float]:
    """parseSimplifyResolution (mapshaper-simplify.js:169-184): a number or
    'WxH' / 'W H' / 'W,H' string -> (w, h); at least one positive."""
    if isinstance(raw, (int, float)):
        w = h = float(raw)
    else:
        import re as _re
        parts = _re.split(r"[x ,]", str(raw))
        try:
            w = float(parts[0])
        except ValueError:
            w = 0.0
        if len(parts) == 2:
            try:
                h = float(parts[1])
            except ValueError:
                h = 0.0
        else:
            h = w
    if not (w >= 0 and h >= 0 and w + h > 0):
        raise ValueError(f"Invalid simplify resolution: {raw}")
    return w, h


def calc_planar_interval(xres: float, yres: float, width: float,
                         height: float) -> float:
    """calcPlanarInterval (mapshaper-simplify.js:186-189)."""
    fit_width = (xres != 0 and width / height > xres / yres) or yres == 0
    return width / xres if fit_width else height / yres


def calc_spherical_interval(xres: float, yres: float, bounds) -> float:
    """calcSphericalInterval (mapshaper-simplify.js:193-200): content width
    = parallel-arc length through the bbox center."""
    xmin, ymin, xmax, ymax = bounds
    d2r = math.pi / 180.0
    r = 6378137.0
    width = (xmax - xmin) * d2r * r * math.cos((ymin + ymax) / 2.0 * d2r)
    height = (ymax - ymin) * d2r * r
    return calc_planar_interval(xres, yres, width, height)


def convert_simplify_resolution(param, bounds, spherical: bool) -> float:
    """convertSimplifyResolution (mapshaper-simplify.js:214-228): interval
    from an output resolution, scaled to DOUBLE the resolution (the *0.5:
    single-pixel resolution creates visible artifacts)."""
    w, h = parse_simplify_resolution(param)
    if spherical:
        interval = calc_spherical_interval(w, h, bounds)
    else:
        xmin, ymin, xmax, ymax = bounds
        interval = calc_planar_interval(w, h, xmax - xmin, ymax - ymin)
    return interval * 0.5
