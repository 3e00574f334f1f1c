"""Distributed topology building & derived topology ops.

- buildTopology: convert raw paths (each feature ring an independent
  coordinate list) into a shared-arc representation
  (/root/reference/src/topology/mapshaper-topology.js:11-21): vertices are
  matched by exact float64 coords (the reference hashes the raw float bits,
  mapshaper-hash-function.js:4-21 — an equality join on (x, y) doubles is
  the same relation), arc endpoints appear where path adjacency breaks
  (pointIsArcEndpoint, mapshaper-topology.js:135-172), and duplicate
  (possibly reversed) arcs collapse to one id
  (ArcIndex.findDuplicateArc, mapshaper-arc-index.js:31-65).

  Spark shape: two shuffles —
    1. groupBy(x, y) over exploded vertices -> node detection,
    2. groupBy(canonical arc coords) -> arc dedup + deterministic ids,
  plus a per-path split (applyInPandas; a path always fits in one row).

- segment intersections: the reference's own map-reduce
  (/root/reference/src/paths/mapshaper-segment-intersection.js:31-133 —
  horizontal stripes, segments replicated into every stripe they span,
  per-stripe sweep, global dedup) mapped 1:1 to repartition-by-stripe +
  mapInPandas + dropDuplicates.

- polyline dissolve: merge arcs of a group into maximal chains
  (/root/reference/src/dissolve/mapshaper-polyline-dissolve.js:7-76).

- snapping: the reference uses a serial sorted sweep
  (/root/reference/src/paths/mapshaper-snapping.js:7-63). Distributed here
  as round-to-grid snapping (documented deviation: grid snap merges points
  within the same grid cell rather than within a sliding interval; identical
  for the synthetic fixtures whose jitter << interval << spacing).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark.layers import (absolute_arc_id_col, arc_refs,
                                    concat_arcs, geometry_bbox, with_bbox)
from mapshaper_spark.plans.scale import ranked_ids


# ---------------------------------------------------------------------------
# buildTopology
# ---------------------------------------------------------------------------

def detect_nodes(paths: DataFrame, path_id: str) -> DataFrame:
    """Vertices where arcs must end: any path endpoint, or a coordinate whose
    traversals disagree on the (unordered) neighbor pair
    (pointIsArcEndpoint semantics, mapshaper-topology.js:135-172).
    Closed-ring first/last duplicates are treated as one interior traversal
    (neighbor pair = {second, second-to-last}), so an unshared ring yields
    no nodes — matching the reference, which keeps it one circular arc."""
    # build per-vertex neighbor pairs JVM-side with array ops
    n = F.size("xs")
    closed = ((F.element_at("xs", 1) == F.element_at("xs", -1)) &
              (F.element_at("ys", 1) == F.element_at("ys", -1)))
    idx = F.sequence(F.lit(1), n)  # 1-based vertex positions
    exploded = (paths
                .withColumn("__closed", closed)
                .withColumn("__n", n)
                .select(path_id, "xs", "ys", "__closed", "__n",
                        F.explode(idx).alias("i")))
    x = F.element_at("xs", F.col("i"))
    y = F.element_at("ys", F.col("i"))
    first = F.col("i") == 1
    last = F.col("i") == F.col("__n")
    # neighbor positions with ring wrap for closed paths (position 1 and n
    # are the same point: neighbors are 2 and n-1)
    prev_i = F.when(first & F.col("__closed"), F.col("__n") - 1) \
              .when(first, F.lit(None)).otherwise(F.col("i") - 1)
    next_i = F.when(last & F.col("__closed"), F.lit(2)) \
              .when(last, F.lit(None)).otherwise(F.col("i") + 1)
    px = F.element_at("xs", prev_i)
    py = F.element_at("ys", prev_i)
    nx = F.element_at("xs", next_i)
    ny = F.element_at("ys", next_i)
    is_endpoint = (first | last) & ~F.col("__closed")
    # skip the duplicated closing vertex of closed rings (i == n)
    occ = (exploded.filter(~(F.col("__closed") & last))
           .select(x.alias("x"), y.alias("y"), is_endpoint.alias("endpoint"),
                   F.when(px.isNull() | nx.isNull(), F.lit(None)).otherwise(
                       F.sort_array(F.array(
                           F.struct(px.alias("a"), py.alias("b")),
                           F.struct(nx.alias("a"), ny.alias("b"))))).alias("nbrs")))
    nodes = (occ.groupBy("x", "y")
             .agg(F.max(F.col("endpoint").cast("int")).alias("any_endpoint"),
                  F.count_distinct(F.col("nbrs")).alias("n_pairs"),
                  F.sum(F.col("nbrs").isNull().cast("int")).alias("n_null"))
             .filter((F.col("any_endpoint") == 1) | (F.col("n_pairs") > 1) |
                     ((F.col("n_pairs") >= 1) & (F.col("n_null") > 0)))
             .select("x", "y"))
    return nodes


def build_topology(paths: DataFrame, path_id: str):
    """paths(path_id, xs, ys) -> (arcs_df, refs_df).

    arcs_df: (arc_id long, xs, ys, n, bbox) — deterministic ids ordered by
    first use (lowest (path_id, position)), matching the reference's
    append-order arc ids on a deterministic input order.
    refs_df: (path_id, arc_seq, signed) — signed arc refs per path, reversed
    encoded JS-style as -(id+1).

    Both are narrow projections of ONE occurrence table, materialized here
    with ``localCheckpoint`` (the way the reference's ArcCollection is built
    once and then read): a caller that reads arcs and refs, then exports,
    never re-plans node detection, the split UDF or the arc dedup.
    """
    nodes = detect_nodes(paths, path_id)

    # mark node vertices inside each path: explode, left-join nodes, regroup
    exploded = (paths.select(path_id, F.posexplode(F.arrays_zip(
        F.col("xs").alias("px"), F.col("ys").alias("py"))).alias("seq", "p"))
        .select(path_id, "seq", F.col("p.px").alias("x"), F.col("p.py").alias("y")))
    # Spark (or AQE, from the node stage's measured size) picks the
    # broadcast; the node table scales with shared-boundary vertices
    flagged = exploded.join(nodes.withColumn("__isnode", F.lit(True)),
                            ["x", "y"], "left")
    per_path = (flagged.groupBy(path_id)
                .agg(F.sort_array(F.collect_list(F.struct(
                    "seq", "x", "y", F.coalesce("__isnode", F.lit(False)).alias("isnode")
                ))).alias("vs")))

    seg_schema = T.StructType([
        paths.schema[path_id],
        T.StructField("arc_seq", T.IntegerType()),
        T.StructField("sub_xs", T.ArrayType(T.DoubleType())),
        T.StructField("sub_ys", T.ArrayType(T.DoubleType())),
        T.StructField("pre_flipped", T.BooleanType()),
        # canonical-form DEDUP KEY for node-free closed rings (null for
        # node-split arcs): the stored geometry stays the first-use
        # ORIGINAL traversal like the reference's append-order arcs —
        # rotating an island ring would change Douglas-Peucker removal
        # order and break keep-shapes parity (Issue #228 fixtures)
        T.StructField("key_xs", T.ArrayType(T.DoubleType())),
        T.StructField("key_ys", T.ArrayType(T.DoubleType())),
    ])

    def _canon_closed(xs, ys):
        """Rotation+direction canonical form of a node-free closed ring:
        two traversals of the SAME cycle (an enclave ring vs its host's
        hole) must dedup to one arc even when they start at different
        vertices or wind oppositely. Returns (xs, ys, flipped)."""
        pts = list(zip(xs[:-1].tolist(), ys[:-1].tolist()))
        k = pts.index(min(pts))
        fwd = pts[k:] + pts[:k]
        rpts = pts[::-1]
        k2 = rpts.index(min(rpts))
        rev = rpts[k2:] + rpts[:k2]
        if tuple(fwd) <= tuple(rev):
            out, flipped = fwd, False
        else:
            out, flipped = rev, True
        out = out + [out[0]]
        return ([p[0] for p in out], [p[1] for p in out], flipped)

    def split(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_pid, out_seq, out_xs, out_ys, out_flip = [], [], [], [], []
            out_kx, out_ky = [], []
            for pid, vs in zip(pdf[path_id], pdf["vs"]):
                xs = np.array([v["x"] for v in vs])
                ys = np.array([v["y"] for v in vs])
                isnode = np.array([v["isnode"] for v in vs], dtype=bool)
                m = len(xs)
                closed = m > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]
                cuts = list(np.nonzero(isnode)[0])
                if closed:
                    core_cuts = [c for c in cuts if c != m - 1]
                    if not core_cuts:
                        cx, cy, flipped = _canon_closed(xs, ys)
                        out_pid.append(pid); out_seq.append(0)
                        out_xs.append(xs.tolist()); out_ys.append(ys.tolist())
                        out_kx.append(cx); out_ky.append(cy)
                        out_flip.append(flipped)
                        continue
                    # rotate ring to start at the first node, then split
                    s = core_cuts[0]
                    rx = np.concatenate([xs[s:-1], xs[:s + 1]])
                    ry = np.concatenate([ys[s:-1], ys[:s + 1]])
                    rn = np.concatenate([isnode[s:-1], isnode[:s + 1]])
                    xs, ys, isnode = rx, ry, rn
                    m = len(xs)
                    cuts = [c for c in np.nonzero(isnode)[0]]
                bounds = sorted(set([0] + [int(c) for c in cuts] + [m - 1]))
                seq = 0
                for a, b in zip(bounds[:-1], bounds[1:]):
                    if b > a:
                        out_pid.append(pid); out_seq.append(seq)
                        out_xs.append(xs[a:b + 1].tolist())
                        out_ys.append(ys[a:b + 1].tolist())
                        out_kx.append(None); out_ky.append(None)
                        out_flip.append(False)
                        seq += 1
            yield pd.DataFrame({path_id: out_pid, "arc_seq": out_seq,
                                "sub_xs": out_xs, "sub_ys": out_ys,
                                "pre_flipped": out_flip,
                                "key_xs": out_kx, "key_ys": out_ky})

    segs = per_path.mapInPandas(split, schema=seg_schema)

    # Dedup key: node-split arcs direction-normalize; node-free rings use
    # the rotation+direction canonical arrays from the split stage. Stored
    # geometry: ALWAYS the first use's ORIGINAL traversal — the reference's
    # append-order arcs store the first-seen direction (topology-test.js
    # 'two rings, one shared segment' asserts it), and later opposite uses
    # reference it reversed. Orientation bookkeeping: ``flip`` marks an
    # occurrence whose traversal winds opposite to the key, so an
    # occurrence references the stored arc forward iff its flip equals the
    # first use's.
    is_ring = F.col("key_xs").isNotNull()
    dirn = ((F.element_at("sub_xs", 1) < F.element_at("sub_xs", -1)) |
            ((F.element_at("sub_xs", 1) == F.element_at("sub_xs", -1)) &
             (F.element_at("sub_ys", 1) <= F.element_at("sub_ys", -1))))
    norm_xs = F.when(dirn, F.col("sub_xs")).otherwise(F.reverse("sub_xs"))
    norm_ys = F.when(dirn, F.col("sub_ys")).otherwise(F.reverse("sub_ys"))
    canon = segs.select(
        path_id, "arc_seq",
        F.when(is_ring, F.col("key_xs")).otherwise(norm_xs).alias("cxs"),
        F.when(is_ring, F.col("key_ys")).otherwise(norm_ys).alias("cys"),
        "sub_xs", "sub_ys",
        F.when(is_ring, F.col("pre_flipped")).otherwise(~dirn).alias("flip"),
    )
    # one row per distinct arc carrying its first use (geometry included)
    # and all its uses, so the occurrence table comes out of the ranking
    # without joining the segments back. (path_id, arc_seq) is unique per
    # use — per_path is grouped by path — so the min struct is the first
    # use. Deterministic arc ids: first use order, ranked without a global
    # single-task window (scale.ranked_ids: range repartition + offsets).
    use = [F.col(path_id).alias("pid"), F.col("arc_seq").alias("seq"), "flip"]
    firsts = (canon.groupBy("cxs", "cys")
              .agg(F.min(F.struct(*use[:2], F.col("sub_xs").alias("xs"),
                                  F.col("sub_ys").alias("ys"), "flip"))
                   .alias("__first"),
                   F.collect_list(F.struct(*use)).alias("__uses"))
              .select(F.col("__first.pid").alias("__fpid"),
                      F.col("__first.seq").alias("__fseq"),
                      "__first", "__uses"))
    ids = ranked_ids(firsts, ["__fpid", "__fseq"], "arc_id")
    u = F.col("__use")
    first = (u["pid"] == F.col("__fpid")) & (u["seq"] == F.col("__fseq"))
    occ = (ids.select("arc_id", "__fpid", "__fseq", "__first",
                      F.explode("__uses").alias("__use"))
           .select(u["pid"].alias(path_id), u["seq"].alias("arc_seq"),
                   "arc_id",
                   F.when(u["flip"] == F.col("__first.flip"), F.col("arc_id"))
                    .otherwise(-(F.col("arc_id") + 1)).alias("signed"),
                   first.alias("first"),
                   F.when(first, F.col("__first.xs")).alias("xs"),
                   F.when(first, F.col("__first.ys")).alias("ys"))
           .localCheckpoint())
    arcs = with_bbox(occ.filter("first").select(
        "arc_id", "xs", "ys", F.size("xs").alias("n")))
    refs = occ.select(path_id, "arc_seq", "signed")
    return arcs, refs


def rings_to_paths(df: DataFrame, key: str):
    """(key, rings_x, rings_y) -> (paths(path_id, fid, ri, xs, ys), fid):
    one row per ring, ``ri`` its index in the feature. path_id hashes
    (key, ring index, coords) — deterministic and unique per ring."""
    fid = "__fid"
    exploded = (df.select(F.col(key).alias(fid),
                          F.posexplode(F.arrays_zip(
                              F.col("rings_x").alias("xs"),
                              F.col("rings_y").alias("ys"))).alias("ri", "r"))
                .select(fid, "ri", F.col("r.xs").alias("xs"),
                        F.col("r.ys").alias("ys")))
    paths = exploded.select(
        F.xxhash64(F.col(fid).cast("string"), "ri", "xs", "ys").alias("path_id"),
        fid, "ri", "xs", "ys")
    return paths, fid


class RingTopology(NamedTuple):
    """A ring layer's shared-arc topology (``paths_topology``)."""
    features: DataFrame  # (fid, parts): signed arc ids per ring, ring order
    arcs: DataFrame      # build_topology's arcs
    refs: DataFrame      # (path_id, arc_seq, signed)
    paths: DataFrame     # (path_id, fid, ri, xs, ys): one row per ring
    fid: str             # the feature-key column of features and paths


def ring_topology(df: DataFrame, key: str) -> RingTopology:
    """The one entry from a ring layer (key, rings_x, rings_y) to shared
    arcs: rings_to_paths -> paths_topology."""
    return paths_topology(*rings_to_paths(df, key))


def paths_topology(paths: DataFrame, fid: str) -> RingTopology:
    """paths(path_id, fid, ri, xs, ys), one row per ring -> build_topology
    plus each feature's ``parts``, its rings in ring-index order (the shape
    dissolve_polygons, keep_shapes and the arc classifiers read). Arc ids
    follow first use in path_id order."""
    arcs, refs = build_topology(paths.select("path_id", "xs", "ys"), "path_id")
    ring_refs = refs.groupBy("path_id").agg(F.expr(
        "transform(sort_array(collect_list(struct(arc_seq, signed))),"
        " s -> s.signed)").alias("__ring"))
    features = (ring_refs.join(paths.select("path_id", fid, "ri"), "path_id")
                .groupBy(fid).agg(F.expr(
                    "transform(sort_array(collect_list(struct(ri, __ring))),"
                    " r -> r.__ring)").alias("parts")))
    return RingTopology(features, arcs, refs, paths, fid)


# ---------------------------------------------------------------------------
# segment intersection search (stripe-partitioned)
# ---------------------------------------------------------------------------

def explode_segments(arcs: DataFrame, arc_id: str = "arc_id") -> DataFrame:
    """arcs(xs, ys) -> one row per segment (arc_id, i, ax, ay, bx, by)."""
    n = F.size("xs")
    seg = (arcs.select(arc_id, "xs", "ys", F.explode(F.sequence(F.lit(1), n - 1)).alias("i")))
    return seg.select(
        arc_id, "i",
        F.element_at("xs", F.col("i")).alias("ax"),
        F.element_at("ys", F.col("i")).alias("ay"),
        F.element_at("xs", F.col("i") + 1).alias("bx"),
        F.element_at("ys", F.col("i") + 1).alias("by"))


def find_segment_intersections(arcs: DataFrame, n_stripes: int = 32,
                               same_arc: bool = False) -> DataFrame:
    """All intersection points between segments of different arcs — the
    reference's stripe map-reduce (segment-intersection.js:31-133) with
    stripes as Spark partitions: replicate each segment into every y-stripe
    it spans, per-stripe numpy pairwise test (x-prefiltered), global dedup.

    Touching at shared endpoints between consecutive segments of the same
    arc is excluded (set ``same_arc`` to include same-arc pairs)."""
    segs = explode_segments(arcs)
    bounds = segs.agg(F.min(F.least("ay", "by")).alias("lo"),
                      F.max(F.greatest("ay", "by")).alias("hi")).collect()[0]
    lo, hi = float(bounds.lo), float(bounds.hi)
    if hi <= lo:
        hi = lo + 1.0
    h = (hi - lo) / n_stripes
    s0 = F.floor((F.least("ay", "by") - F.lit(lo)) / F.lit(h)).cast("int")
    s1 = F.floor((F.greatest("ay", "by") - F.lit(lo)) / F.lit(h)).cast("int")
    s0 = F.greatest(F.lit(0), F.least(F.lit(n_stripes - 1), s0))
    s1 = F.greatest(F.lit(0), F.least(F.lit(n_stripes - 1), s1))
    striped = segs.withColumn("stripe", F.explode(F.sequence(s0, s1)))

    out_schema = T.StructType([
        T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
        T.StructField("arc_a", T.LongType()), T.StructField("arc_b", T.LongType()),
        T.StructField("seg_a", T.LongType()), T.StructField("seg_b", T.LongType()),
    ])
    cols = ["x", "y", "arc_a", "arc_b", "seg_a", "seg_b"]

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=cols)
        ax = pdf["ax"].to_numpy(float); ay = pdf["ay"].to_numpy(float)
        bx = pdf["bx"].to_numpy(float); by = pdf["by"].to_numpy(float)
        aid = pdf["arc_id"].to_numpy(np.int64)
        seg_i = pdf["i"].to_numpy(np.int64)
        xmin = np.minimum(ax, bx); xmax = np.maximum(ax, bx)
        order = np.argsort(xmin, kind="stable")
        xs_out, ys_out, aa, bb, sa, sb = [], [], [], [], [], []
        m = len(order)
        for oi in range(m):
            i = order[oi]
            for oj in range(oi + 1, m):
                j = order[oj]
                if xmin[j] > xmax[i]:
                    break
                if aid[i] == aid[j]:
                    if not same_arc or abs(seg_i[i] - seg_i[j]) <= 1:
                        continue
                pts = _seg_intersections(ax[i], ay[i], bx[i], by[i],
                                         ax[j], ay[j], bx[j], by[j])
                for p in pts:
                    first = (aid[i], seg_i[i]) <= (aid[j], seg_i[j])
                    ii, jj = (i, j) if first else (j, i)
                    xs_out.append(p[0]); ys_out.append(p[1])
                    aa.append(aid[ii]); bb.append(aid[jj])
                    sa.append(seg_i[ii]); sb.append(seg_i[jj])
        return pd.DataFrame({"x": xs_out, "y": ys_out, "arc_a": aa,
                             "arc_b": bb, "seg_a": sa, "seg_b": sb})

    hits = (striped.groupBy("stripe")
            .applyInPandas(lambda pdf: sweep(pdf), schema=out_schema))
    return hits.dropDuplicates(cols)


def _seg_intersection(p0x, p0y, p1x, p1y, p2x, p2y, p3x, p3y):
    """Proper + T-touch segment intersection (the non-collinear core of
    /root/reference/src/geom/mapshaper-segment-geom.js:17-29). Matching the
    reference's endpointHit rule (:227-233): a touch at an endpoint of BOTH
    segments is NOT an intersection (arcs meeting at a node, ring-closure
    vertices); a T-intersection (endpoint of one segment interior to the
    other) IS."""
    d1x, d1y = p1x - p0x, p1y - p0y
    d2x, d2y = p3x - p2x, p3y - p2y
    den = d1x * d2y - d1y * d2x
    if den == 0:
        return None  # parallel/collinear: no single crossing point
    t = ((p2x - p0x) * d2y - (p2y - p0y) * d2x) / den
    u = ((p2x - p0x) * d1y - (p2y - p0y) * d1x) / den
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        if (t == 0.0 or t == 1.0) and (u == 0.0 or u == 1.0):
            return None  # endpoint-to-endpoint touch: excluded
        return (p0x + t * d1x, p0y + t * d1y)
    return None


def _collinear_overlap_points(ax, ay, bx, by, cx, cy, dx, dy):
    """Collinear-overlap intersections (the reference's
    segmentIntersection collinear branch, mapshaper-segment-geom.js:17-29 +
    collinearIntersection :196-226): two collinear segments that partially
    overlap intersect at each endpoint strictly inside the combined range
    (one or two points). Segments that merely meet end-to-end don't count.
    Gated by segmentHit's orient2D product test (:181-188), which also
    rejects parallel-but-not-collinear pairs."""
    def orient(px, py, qx, qy, rx, ry):
        return (px - rx) * (qy - ry) - (py - ry) * (qx - rx)
    if not (orient(ax, ay, bx, by, cx, cy) * orient(ax, ay, bx, by, dx, dy)
            <= 0 and
            orient(cx, cy, dx, dy, ax, ay) * orient(cx, cy, dx, dy, bx, by)
            <= 0):
        return []
    min_x, max_x = min(ax, bx, cx, dx), max(ax, bx, cx, dx)
    min_y, max_y = min(ay, by, cy, dy), max(ay, by, cy, dy)
    use_y = (max_y - min_y) > (max_x - min_x)
    pts = []
    for px, py in ((ax, ay), (bx, by), (cx, cy), (dx, dy)):
        v, lo, hi = (py, min_y, max_y) if use_y else (px, min_x, max_x)
        if lo < v < hi:
            pts.append((px, py))
    if len(pts) not in (1, 2):
        return []
    if len(pts) == 2 and pts[0] == pts[1]:
        return []  # collinear segs that meet in the middle don't count
    return pts


def _seg_intersections(p0x, p0y, p1x, p1y, p2x, p2y, p3x, p3y):
    """Full reference segmentIntersection semantics: 0, 1 or 2 points —
    the proper/T-touch core plus the collinear-overlap branch."""
    d1x, d1y = p1x - p0x, p1y - p0y
    d2x, d2y = p3x - p2x, p3y - p2y
    if d1x * d2y - d1y * d2x == 0:
        return _collinear_overlap_points(p0x, p0y, p1x, p1y,
                                         p2x, p2y, p3x, p3y)
    p = _seg_intersection(p0x, p0y, p1x, p1y, p2x, p2y, p3x, p3y)
    return [p] if p is not None else []


# ---------------------------------------------------------------------------
# polyline dissolve
# ---------------------------------------------------------------------------

def dissolve_polylines(features: DataFrame, arcs: DataFrame, group: str) -> DataFrame:
    """-dissolve on a polyline layer: concatenate each group's arcs into
    maximal connected chains (polyline-dissolve.js:7-76 — greedy walk from
    unvisited arc ends through degree-matching nodes)."""
    exploded = arc_refs(features, group).select(group, "aid").distinct()
    ends = arcs.select("arc_id", "xs", "ys")
    b = exploded.join(ends, exploded.aid == ends.arc_id).drop("arc_id")

    out_schema = T.StructType([
        b.schema[group],
        T.StructField("chain_idx", T.IntegerType()),
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
    ])

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group].iloc[0]
        arcs_l = [(np.asarray(r.xs), np.asarray(r.ys)) for r in pdf.itertuples()]
        n = len(arcs_l)
        used = [False] * n
        by_end: dict[tuple, list[int]] = {}
        for i, (xs, ys) in enumerate(arcs_l):
            by_end.setdefault((xs[0], ys[0]), []).append(i)
            by_end.setdefault((xs[-1], ys[-1]), []).append(i)
        chains = []
        for i in range(n):
            if used[i]:
                continue
            used[i] = True
            cx = list(arcs_l[i][0]); cy = list(arcs_l[i][1])
            # extend forward then backward
            for direction in (1, 0):
                while True:
                    end = (cx[-1], cy[-1]) if direction else (cx[0], cy[0])
                    cands = [k for k in by_end.get(end, []) if not used[k]]
                    if not cands:
                        break
                    k = min(cands)
                    used[k] = True
                    kx, ky = arcs_l[k]
                    if (kx[0], ky[0]) != end:
                        kx, ky = kx[::-1], ky[::-1]
                    if direction:
                        cx.extend(kx[1:].tolist()); cy.extend(ky[1:].tolist())
                    else:
                        cx = kx[::-1][:-1].tolist() + cx
                        cy = ky[::-1][:-1].tolist() + cy
            chains.append((cx, cy))
        return pd.DataFrame({group: [g] * len(chains),
                             "chain_idx": list(range(len(chains))),
                             "xs": [c[0] for c in chains],
                             "ys": [c[1] for c in chains]})

    return b.groupBy(group).applyInPandas(walk, schema=out_schema)


# ---------------------------------------------------------------------------
# snapping / coord dedup
# ---------------------------------------------------------------------------

def snap_coords_grid(df: DataFrame, interval: float,
                     x: str = "x", y: str = "y") -> DataFrame:
    """Round-to-grid snapping: every coordinate moves to the center of its
    ``interval``-sized grid cell. DOCUMENTED DEVIATION from the reference's
    serial sorted-sweep (snapping.js:7-63), which snaps later points onto
    earlier ones within a sliding window; identical results whenever
    clustered points lie within one grid cell and clusters are > interval
    apart (true for import jitter, the dominant use)."""
    gx = (F.floor(F.col(x) / F.lit(interval)) + F.lit(0.5)) * F.lit(interval)
    gy = (F.floor(F.col(y) / F.lit(interval)) + F.lit(0.5)) * F.lit(interval)
    return df.withColumn(x, gx).withColumn(y, gy)


def snap_coords_sweep(df: DataFrame, interval: float,
                      x: str = "x", y: str = "y") -> DataFrame:
    """EXACT reference snapping (internal.snapCoordsByInterval,
    /root/reference/src/paths/mapshaper-snapping.js:31-63), flag-gated
    alternative to the scale-default snap_coords_grid: vertices sort by x;
    each point pulls every later point within ``interval`` (euclidean) onto
    its CURRENT coordinates, so chains propagate left-to-right — later
    points snap onto earlier ones, and a snapped point anchors its own
    forward neighbors at its new coords. Tie order among equal x is (x, y)
    lexicographic — a deterministic refinement of the reference's
    unspecified quicksort tie order (DEVIATIONS.md).

    Distribution: points bucket by floor(x/interval); runs of occupied
    buckets separated by >= 2 empty buckets cannot interact (a point only
    ever moves LEFT onto an earlier anchor and the scan breaks at
    dx > interval, which always holds across a 2-bucket original-x gap),
    so each run sweeps independently — one kernel task per run. A single
    dense run degenerates to one task; that is inherent to the serial
    reference rule, which is why grid snap stays the default at scale."""
    if interval <= 0:
        return df
    out_cols = list(df.columns)
    work = df.withColumn("__bkt", F.floor(F.col(x) / F.lit(interval)).cast("long"))
    buckets = work.select("__bkt").distinct()
    b2 = buckets.select(F.col("__bkt").alias("nb"))
    edges = (buckets.join(
        b2, (F.col("nb") > F.col("__bkt")) & (F.col("nb") <= F.col("__bkt") + 2))
        .select(F.col("__bkt").alias("id_a"), F.col("nb").alias("id_b")))
    from mapshaper_spark.operators.dedup import dup_clusters
    comp = dup_clusters(edges, buckets.select(F.col("__bkt")), "__bkt") \
        .select("__bkt", F.col("cluster").alias("__run"))
    work = work.join(comp, "__bkt")

    limit = float(interval)
    lim2 = limit * limit
    schema = df.schema

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        pdf = pdf.sort_values([x, y], kind="stable").reset_index(drop=True)
        xx = pdf[x].to_numpy(np.float64).copy()
        yy = pdf[y].to_numpy(np.float64).copy()
        n = len(xx)
        for i in range(n):
            xi, yi = xx[i], yy[i]
            j = i + 1
            while j < n:
                dx = xx[j] - xi
                if dx > limit:
                    break
                dy = yy[j] - yi
                if not (dx == 0.0 and dy == 0.0) and dx * dx + dy * dy <= lim2:
                    xx[j] = xi
                    yy[j] = yi
                j += 1
        pdf = pdf.copy()
        pdf[x] = xx
        pdf[y] = yy
        return pdf[out_cols]

    return (work.groupBy("__run")
            .applyInPandas(lambda pdf: sweep(pdf), schema=schema)
            .select(*out_cols))


def dedup_arc_coords(arcs: DataFrame) -> DataFrame:
    """Remove repeated consecutive vertices per arc
    (internal.dedupArcCoords, mapshaper-arcs.js:648-669). Pure JVM:
    keep vertex i if i==0 or (x,y) differs from vertex i-1."""
    zipped = F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"))
    idx = F.sequence(F.lit(1), F.size("xs"))
    keep = F.filter(idx, lambda i:
                    (i == 1) |
                    (F.element_at("xs", i) != F.element_at("xs", i - 1)) |
                    (F.element_at("ys", i) != F.element_at("ys", i - 1)))
    return (arcs.withColumn("__keep", keep)
            .withColumn("xs", F.transform("__keep", lambda i: F.element_at("xs", i)))
            .withColumn("ys", F.transform("__keep", lambda i: F.element_at("ys", i)))
            .withColumn("n", F.size("xs"))
            .drop("__keep"))


def snap_paths(df: DataFrame, interval: float = None) -> DataFrame:
    """``-i snap`` / ``snap-interval=`` on a path layer
    (mapshaper-path-import.js:16-22 -> snapCoords, snapping.js:15-27):
    pull every vertex within ``interval`` of an earlier (x-sorted) vertex
    onto it — the exact sorted-sweep rule, run over the whole layer's
    vertex table by snap_coords_sweep — then drop the consecutive
    duplicate vertices the snap created (arcs.dedupCoords).
    ``interval=None`` = the reference's auto threshold: average segment
    length * 0.0025 (snapping.js:16-18). Point layers pass through —
    the reference snaps path data only."""
    if "rings_x" not in df.columns:
        return df
    if interval is None:
        seg = (df.filter(F.col("rings_x").isNotNull())
               .select(F.explode(F.arrays_zip(
                   F.col("rings_x").alias("rx"),
                   F.col("rings_y").alias("ry"))).alias("r"))
               # degenerate (<2-vertex) rings contribute no segments; without
               # this filter sequence(1, size-1) turns DESCENDING and the
               # lambda hits element_at(_, 0), a runtime error
               .filter(F.size("r.rx") >= 2)
               .select(F.aggregate(
                   F.sequence(F.lit(1), F.size("r.rx") - 1), F.lit(0.0),
                   lambda acc, i: acc + F.sqrt(
                       (F.element_at("r.rx", i + 1) - F.element_at("r.rx", i)) ** 2 +
                       (F.element_at("r.ry", i + 1) - F.element_at("r.ry", i)) ** 2))
                   .alias("len"),
                   (F.size("r.rx") - 1).alias("cnt")))
        tot = seg.agg(F.sum("len").alias("s"), F.sum("cnt").alias("c")).collect()[0]
        avg = (float(tot.s) / float(tot.c)) if tot.c else 0.0
        interval = avg * 0.0025
    if not interval or interval <= 0:
        return df
    work = df.withColumn("__sid", F.monotonically_increasing_id())
    work = work.localCheckpoint()  # pin ids: referenced twice below
    verts = (work.filter(F.col("rings_x").isNotNull())
             .select("__sid", F.posexplode(F.arrays_zip(
                 F.col("rings_x").alias("rx"),
                 F.col("rings_y").alias("ry"))).alias("ri", "r"))
             .select("__sid", "ri", F.posexplode(F.arrays_zip(
                 F.col("r.rx").alias("px"),
                 F.col("r.ry").alias("py"))).alias("vi", "p"))
             .select("__sid", "ri", "vi",
                     F.col("p.px").alias("x"), F.col("p.py").alias("y")))
    snapped = snap_coords_sweep(verts, float(interval))
    rings = (snapped.groupBy("__sid", "ri")
             .agg(F.sort_array(F.collect_list(
                 F.struct("vi", "x", "y"))).alias("vs"))
             .select("__sid", "ri",
                     F.transform("vs", lambda v: v.x).alias("rx"),
                     F.transform("vs", lambda v: v.y).alias("ry")))
    keep = F.filter(F.sequence(F.lit(1), F.size("rx")), lambda i:
                    (i == 1) |
                    (F.element_at("rx", i) != F.element_at("rx", i - 1)) |
                    (F.element_at("ry", i) != F.element_at("ry", i - 1)))
    rings = (rings.withColumn("__keep", keep)
             .withColumn("rx", F.transform(
                 "__keep", lambda i: F.element_at("rx", i)))
             .withColumn("ry", F.transform(
                 "__keep", lambda i: F.element_at("ry", i)))
             .drop("__keep"))
    feats = (rings.groupBy("__sid")
             .agg(F.sort_array(F.collect_list(
                 F.struct("ri", "rx", "ry"))).alias("rs"))
             .select("__sid",
                     F.transform("rs", lambda r: r.rx).alias("__nrx"),
                     F.transform("rs", lambda r: r.ry).alias("__nry")))
    out = (work.join(feats, "__sid", "left")
           .withColumn("rings_x", F.coalesce("__nrx", "rings_x"))
           .withColumn("rings_y", F.coalesce("__nry", "rings_y"))
           .drop("__sid", "__nrx", "__nry"))
    if "bbox" in df.columns:
        out = out.withColumn("bbox", geometry_bbox(out))
    return out.select(*df.columns)


# ---------------------------------------------------------------------------
# -polygons: build polygon faces from a polyline network
# ---------------------------------------------------------------------------

def label_components(arcs: DataFrame, max_iter: int = 12,
                     small_threshold: int = 100_000) -> DataFrame:
    """Connected-component label per arc (label = min arc_id in component).

    Small inputs (< small_threshold arcs) use driver-side union-find over
    collected endpoints (one job); large inputs use iterative label
    propagation through shared endpoints with per-round localCheckpoint —
    the standard few-rounds-of-joins connectivity plan. Returns
    (arc_id, comp)."""
    import pyarrow as pa

    if arcs.count() <= small_threshold:
        rows = arcs.select(
            "arc_id",
            F.element_at("xs", 1).alias("x0"), F.element_at("ys", 1).alias("y0"),
            F.element_at("xs", -1).alias("x1"), F.element_at("ys", -1).alias("y1"),
        ).collect()
        parent: dict = {}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        node_owner: dict = {}
        for r in rows:
            parent.setdefault(r.arc_id, r.arc_id)
            for node in ((r.x0, r.y0), (r.x1, r.y1)):
                if node in node_owner:
                    union(node_owner[node], r.arc_id)
                else:
                    node_owner[node] = r.arc_id
        # second pass: path-compress to the component minimum
        comp = {a: find(a) for a in parent}
        return arcs.sparkSession.createDataFrame(pa.table({
            "arc_id": pa.array(list(comp.keys()), pa.int64()),
            "comp": pa.array(list(comp.values()), pa.int64()),
        }))

    ends = arcs.select(
        "arc_id",
        F.explode(F.array(
            F.struct(F.element_at("xs", 1).alias("nx"), F.element_at("ys", 1).alias("ny")),
            F.struct(F.element_at("xs", -1).alias("nx"), F.element_at("ys", -1).alias("ny")),
        )).alias("node")).select("arc_id", "node.nx", "node.ny").localCheckpoint()
    labels = arcs.select("arc_id", F.col("arc_id").alias("comp")).localCheckpoint()
    changed = -1
    for _ in range(max_iter):
        lb = ends.join(labels, "arc_id")
        node_min = lb.groupBy("nx", "ny").agg(F.min("comp").alias("node_comp"))
        # localCheckpoint truncates the join lineage — without it each
        # iteration re-executes every previous round (quadratic blowup)
        new_labels = (ends.join(node_min, ["nx", "ny"])
                      .groupBy("arc_id").agg(F.min("node_comp").alias("comp")))
        # pointer-doubling shortcut (label = label-of-label): convergence in
        # O(log diameter) rounds instead of O(diameter) — a polyline network
        # with graph diameter > max_iter would otherwise split components
        parent = new_labels.select(F.col("arc_id").alias("comp"),
                                   F.col("comp").alias("comp2"))
        new_labels = (new_labels.join(parent, "comp", "left")
                      .select("arc_id",
                              F.coalesce("comp2", "comp").alias("comp"))
                      .localCheckpoint())
        changed = (new_labels.alias("n").join(labels.alias("o"), "arc_id")
                   .filter(F.col("n.comp") != F.col("o.comp")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"label_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter")
    return labels


def polygons_from_lines(arcs: DataFrame) -> DataFrame:
    """-polygons (/root/reference/src/commands/mapshaper-polygons.js:3):
    build the enclosed faces of a planar line network. Distributed as
    component labeling (joins) + per-component half-edge face walk
    (applyInPandas; a face walk is inherently sequential per component,
    bounded by component size — same envelope as the reference's mosaic).

    Face convention: at each node the walk takes the next half-edge
    clockwise from the reversed incoming edge, yielding interior faces
    once each; the unbounded outer face (negative area) is dropped.
    Returns (comp, face_idx, xs, ys, area)."""
    labels = label_components(arcs)
    b = arcs.join(labels, "arc_id")

    out_schema = T.StructType([
        T.StructField("comp", T.LongType()),
        T.StructField("face_idx", T.IntegerType()),
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("area", T.DoubleType()),
    ])

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        import math
        comp = int(pdf["comp"].iloc[0])
        arcs_l = [(np.asarray(r.xs, dtype=np.float64),
                   np.asarray(r.ys, dtype=np.float64)) for r in pdf.itertuples()]
        # half-edge h = (arc_idx, dir); dir 0 = forward (start->end)
        outgoing: dict[tuple, list] = {}

        def h_start(a, d):
            xs, ys = arcs_l[a]
            return (xs[0], ys[0]) if d == 0 else (xs[-1], ys[-1])

        def h_angle(a, d):
            xs, ys = arcs_l[a]
            if d == 0:
                return math.atan2(ys[1] - ys[0], xs[1] - xs[0])
            return math.atan2(ys[-2] - ys[-1], xs[-2] - xs[-1])

        halves = [(a, d) for a in range(len(arcs_l)) for d in (0, 1)]
        for h in halves:
            outgoing.setdefault(h_start(*h), []).append(h)
        for node, hs in outgoing.items():
            hs.sort(key=lambda h: h_angle(*h))

        used = set()
        faces = []
        for h0 in halves:
            if h0 in used:
                continue
            face = []
            h = h0
            fx: list[float] = []
            fy: list[float] = []
            while h not in used:
                used.add(h)
                face.append(h)
                a, d = h
                xs, ys = arcs_l[a]
                if d == 1:
                    xs, ys = xs[::-1], ys[::-1]
                if fx:
                    xs, ys = xs[1:], ys[1:]
                fx.extend(xs.tolist())
                fy.extend(ys.tolist())
                # arrive at end node via h; continue with the next half-edge
                # clockwise from reverse(h)
                rev = (a, 1 - d)
                node = h_start(*rev)
                hs = outgoing[node]
                i = hs.index(rev)
                h = hs[(i + 1) % len(hs)]
            if (fx[0], fy[0]) == (fx[-1], fy[-1]) and len(fx) >= 4:
                from mapshaper_spark.geom import kernels as KK
                area = KK.planar_path_area(np.asarray(fx), np.asarray(fy))
                if area > 0:
                    faces.append((fx, fy, area))
        faces.sort(key=lambda f: (-f[2], f[0][0]))
        return pd.DataFrame({
            "comp": pd.Series([comp] * len(faces), dtype="int64"),
            "face_idx": pd.Series(range(len(faces)), dtype="int32"),
            "xs": pd.Series([f[0] for f in faces], dtype=object),
            "ys": pd.Series([f[1] for f in faces], dtype=object),
            "area": pd.Series([f[2] for f in faces], dtype="float64"),
        })

    return b.groupBy("comp").applyInPandas(walk, schema=out_schema)


# ---------------------------------------------------------------------------
# dissolveArcs (arc healing after clip/split)
# ---------------------------------------------------------------------------

def _chain_canonical(xs: list, ys: list):
    """Rotation+direction canonical form of an arc chain, mirroring
    build_topology's closed-ring dedup key: closed chains canonicalize over
    rotation AND direction (a ring duplicated in the opposite winding or a
    different start vertex keys to the same arc); open chains only over
    direction. Returns (key_xs, key_ys, flip) where ``flip`` is True when
    the input traversal winds opposite to the canonical direction."""
    closed = len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]
    if closed:
        pts = list(zip(xs[:-1], ys[:-1]))
        k = pts.index(min(pts))
        fwd = pts[k:] + pts[:k]
        rpts = pts[::-1]
        k2 = rpts.index(min(rpts))
        rev = rpts[k2:] + rpts[:k2]
        if tuple(fwd) <= tuple(rev):
            out, flip = fwd, False
        else:
            out, flip = rev, True
        out = out + [out[0]]
        return [p[0] for p in out], [p[1] for p in out], flip
    f = tuple(zip(xs, ys))
    r = f[::-1]
    if f <= r:
        return list(xs), list(ys), False
    return list(xs)[::-1], list(ys)[::-1], True


def dissolve_arcs(features: DataFrame, arcs: DataFrame, key: str):
    """internal.dissolveArcs (/root/reference/src/paths/mapshaper-arc-dissolve.js:11-50):
    merge arc chains that can be joined without affecting any layer's
    topology (interior node has exactly two incident arc-ends and the two
    arcs are traversed consecutively by every ring that uses them), drop
    arcs no layer references, and remap to dense deterministic ids.

    Plan (fully distributed — no driver collect of arc payloads): usage +
    node-degree tables (two groupBys over exploded refs/endpoints), a
    per-arc mergeable-endpoint flag join, then a per-feature ring rewrite in
    applyInPandas over (refs ⋈ arcs), then arc re-id by first use — the
    same shuffle shape as build_topology. Returns (new_features, new_arcs)."""
    refs = arc_refs(features, key)
    used = refs.groupBy("aid").agg(F.count(F.lit(1)).alias("n_uses"))
    live_arcs = arcs.join(used, arcs.arc_id == used.aid).drop("aid")

    # endpoint table over live arcs only
    ends = live_arcs.select(
        "arc_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("which"),
                     F.element_at("xs", 1).alias("nx"), F.element_at("ys", 1).alias("ny")),
            F.struct(F.lit(1).alias("which"),
                     F.element_at("xs", -1).alias("nx"), F.element_at("ys", -1).alias("ny")),
        )).alias("e")).select("arc_id", "e.which", "e.nx", "e.ny")
    node_deg = ends.groupBy("nx", "ny").agg(F.count(F.lit(1)).alias("deg"),
                                            F.count_distinct("arc_id").alias("n_arcs"))
    # open-path endpoints block dissolving through them (the reference's
    # getPathEndpointTest in getArcDissolveTest, arc-dissolve-test.js
    # 'issue #140' cases): a path's first/last node is a topological
    # boundary even when only two arc-ends meet there
    bounds = (refs.groupBy(key, "ring_idx")
              .agg(F.min_by(F.col("signed"), F.col("seq")).alias("s0"),
                   F.max_by(F.col("signed"), F.col("seq")).alias("s1"))
              .withColumn("a0", absolute_arc_id_col(F.col("s0")).cast("long"))
              .withColumn("a1", absolute_arc_id_col(F.col("s1")).cast("long")))
    geom = live_arcs.select(F.col("arc_id").alias("gid"),
                            F.element_at("xs", 1).alias("hx"),
                            F.element_at("ys", 1).alias("hy"),
                            F.element_at("xs", -1).alias("tx"),
                            F.element_at("ys", -1).alias("ty"))
    path_pts = (bounds
                .join(geom.withColumnRenamed("gid", "a0"), "a0")
                .select(key, "ring_idx", "s1", "a1",
                        F.when(F.col("s0") >= 0, F.col("hx")).otherwise(F.col("tx")).alias("p0x"),
                        F.when(F.col("s0") >= 0, F.col("hy")).otherwise(F.col("ty")).alias("p0y"))
                .join(geom.withColumnRenamed("gid", "a1"), "a1")
                .select("p0x", "p0y",
                        F.when(F.col("s1") >= 0, F.col("tx")).otherwise(F.col("hx")).alias("p1x"),
                        F.when(F.col("s1") >= 0, F.col("ty")).otherwise(F.col("hy")).alias("p1y")))
    open_ends = (path_pts.filter((F.col("p0x") != F.col("p1x")) |
                                 (F.col("p0y") != F.col("p1y")))
                 .select(F.explode(F.array(
                     F.struct(F.col("p0x").alias("nx"), F.col("p0y").alias("ny")),
                     F.struct(F.col("p1x").alias("nx"), F.col("p1y").alias("ny")))).alias("e"))
                 .select("e.nx", "e.ny").distinct()
                 .withColumn("__stop", F.lit(True)))
    # mergeable interior node: exactly 2 arc-ends from 2 distinct arcs, and
    # not an endpoint of any open path (rings produced by our pipeline then
    # traverse the two arcs consecutively in every use)
    mergeable = (node_deg.filter((F.col("deg") == 2) & (F.col("n_arcs") == 2))
                 .join(open_ends, ["nx", "ny"], "left")
                 .filter(F.col("__stop").isNull())
                 .select("nx", "ny", F.lit(True).alias("__m")))
    # per-arc flags: is the start (m0) / end (m1) endpoint a mergeable node?
    flags = (ends.join(mergeable, ["nx", "ny"], "left")
             .groupBy("arc_id")
             .agg(F.max(F.when((F.col("which") == 0) & F.col("__m"), True)
                        .otherwise(False)).alias("m0"),
                  F.max(F.when((F.col("which") == 1) & F.col("__m"), True)
                        .otherwise(False)).alias("m1")))

    payload = (refs.join(live_arcs.select(F.col("arc_id").alias("aid"), "xs", "ys")
                         .join(flags, F.col("aid") == flags.arc_id).drop("arc_id"),
                         "aid")
               .select(key, "ring_idx", "seq", "signed", "xs", "ys", "m0", "m1"))

    out_schema = T.StructType([
        features.schema[key],
        T.StructField("parts_xy", T.ArrayType(T.ArrayType(T.StructType([
            T.StructField("xs", T.ArrayType(T.DoubleType())),
            T.StructField("ys", T.ArrayType(T.DoubleType())),
            T.StructField("cxs", T.ArrayType(T.DoubleType())),
            T.StructField("cys", T.ArrayType(T.DoubleType())),
            T.StructField("flip", T.BooleanType()),
        ])))),
    ])
    iter_key = key

    def rewrite(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf[iter_key].iloc[0]
        new_parts = []
        pdf = pdf.sort_values(["ring_idx", "seq"])
        for _ri, ring in pdf.groupby("ring_idx", sort=True):
            chains = []
            first_start_mergeable = None
            for r in ring.itertuples():
                xs, ys = list(r.xs), list(r.ys)
                # oriented start-mergeable flag for this traversal
                sm = bool(r.m0) if r.signed >= 0 else bool(r.m1)
                if r.signed < 0:
                    xs, ys = xs[::-1], ys[::-1]
                if first_start_mergeable is None:
                    first_start_mergeable = sm
                if chains and sm and \
                        (chains[-1][0][-1], chains[-1][1][-1]) == (xs[0], ys[0]):
                    chains[-1][0].extend(xs[1:])
                    chains[-1][1].extend(ys[1:])
                else:
                    chains.append([xs, ys])
            # ring wrap: first and last chain may merge across the start
            if len(chains) > 1 and first_start_mergeable:
                lx, ly = chains[-1]
                fx, fy = chains[0]
                if (lx[-1], ly[-1]) == (fx[0], fy[0]):
                    chains[0] = [lx + fx[1:], ly + fy[1:]]
                    chains.pop()
            part = []
            for cx_, cy_ in chains:
                kx, ky, flip = _chain_canonical(cx_, cy_)
                part.append({"xs": cx_, "ys": cy_,
                             "cxs": kx, "cys": ky, "flip": flip})
            new_parts.append(part)
        return pd.DataFrame({iter_key: [k], "parts_xy": [new_parts]})

    healed = payload.groupBy(key).applyInPandas(rewrite, schema=out_schema)

    # re-id merged chains deterministically. Dedup key: rotation+direction
    # canonical form (so a ring and its reversed/rotated duplicate share one
    # arc, like the reference's global arc graph); STORED geometry: the
    # first use's ORIGINAL traversal — the reference renumbers surviving
    # arcs in first-use order and direction (arc-dissolve-test.js 'test 2'/
    # 'issue #140 test 2' assert the traversal direction verbatim).
    exploded = (healed.select(key, F.posexplode("parts_xy").alias("ring_idx", "ring"))
                .select(key, "ring_idx", F.posexplode("ring").alias("pos", "chain"))
                .select(key, "ring_idx", "pos",
                        F.col("chain.xs").alias("xs"), F.col("chain.ys").alias("ys"),
                        F.col("chain.cxs").alias("cxs"), F.col("chain.cys").alias("cys"),
                        F.col("chain.flip").alias("flip")))
    firsts = (exploded.groupBy("cxs", "cys")
              .agg(F.min(F.struct(F.col(key).alias("k"),
                                  F.col("ring_idx").alias("r"),
                                  F.col("pos").alias("p"))).alias("__first"),
                   F.min_by(F.struct(F.col("xs"), F.col("ys"),
                                     F.col("flip").alias("gflip")),
                            F.struct(F.col(key), F.col("ring_idx"), F.col("pos")))
                   .alias("__geom"))
              .withColumn("__fk", F.col("__first.k"))
              .withColumn("__fr", F.col("__first.r"))
              .withColumn("__fp", F.col("__first.p")))
    arc_tbl = (ranked_ids(firsts, ["__fk", "__fr", "__fp"], "arc_id")
               .drop("__fk", "__fr", "__fp"))
    new_arcs = with_bbox(arc_tbl.select(
        "arc_id",
        F.col("__geom.xs").alias("xs"), F.col("__geom.ys").alias("ys"),
        F.size("__geom.xs").alias("n")))
    new_refs = (exploded.join(arc_tbl.select(
                    "cxs", "cys", "arc_id",
                    F.col("__geom.gflip").alias("gflip")), ["cxs", "cys"])
                .select(key, "ring_idx", "pos",
                        F.when(F.col("flip") == F.col("gflip"), F.col("arc_id"))
                         .otherwise(-(F.col("arc_id") + 1)).alias("signed")))
    new_features = (new_refs.groupBy(key, "ring_idx")
                    .agg(F.transform(F.sort_array(F.collect_list(
                        F.struct("pos", F.col("signed").alias("s")))),
                        lambda st: st["s"].cast("int")).alias("ring"))
                    .groupBy(key)
                    .agg(F.transform(F.sort_array(F.collect_list(
                        F.struct("ring_idx", F.col("ring").alias("r")))),
                        lambda st: st["r"]).alias("parts")))
    return new_features, new_arcs


# ---------------------------------------------------------------------------
# closeGaps (undershoot repair)
# ---------------------------------------------------------------------------

def close_gaps(arcs: DataFrame, tolerance: float, res: int = 6) -> DataFrame:
    """internal.closeGaps (/root/reference/src/topology/mapshaper-gaps.js:9-29):
    dangling arc endpoints (node degree 1) within ``tolerance`` of another
    arc's path are shifted onto the nearest point of that path, closing
    small undershoot gaps.

    Fully distributed (VERDICT r02 item 3 — no driver collect of dangles,
    no O(d^2) loop over the whole corpus):

    1. dangle detection: endpoint-degree groupBy (distributed);
    2. dangle-to-dangle pairing: tolerance-sized grid-cell equi-join finds
       candidate pairs; connected components (min-label propagation); each
       tiny component replays the greedy sorted-order star pairing in an
       applyInPandas kernel — identical output to a global greedy pass,
       since no within-tolerance pair can cross components;
    3. remaining dangles project onto candidate arcs paired by a coarse
       grid-cell equi-join (arc bbox cover x tolerance-padded point),
       nearest point per (arc, dangle) vectorized, min-reduced per dangle;
    4. endpoint rewrite: JVM array surgery after an equi-join with the
       moves table — no Python, no driver-side move map."""
    import numpy as np
    from mapshaper_spark.geom import kernels as K

    tol2 = tolerance * tolerance
    ends = arcs.select(
        "arc_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("which"),
                     F.element_at("xs", 1).alias("ex"), F.element_at("ys", 1).alias("ey")),
            F.struct(F.lit(1).alias("which"),
                     F.element_at("xs", -1).alias("ex"), F.element_at("ys", -1).alias("ey")),
        )).alias("e")).select("arc_id", "e.which", "e.ex", "e.ey")
    deg = ends.groupBy("ex", "ey").agg(F.count(F.lit(1)).alias("deg"))
    dangles = (ends.join(deg, ["ex", "ey"]).filter(F.col("deg") == 1)
               .select("arc_id", "which", "ex", "ey")
               .withColumn("did", F.col("arc_id") * 2 + F.col("which"))
               .localCheckpoint())
    if dangles.isEmpty():
        return arcs

    # --- step 2: dangle-to-dangle pairing ---------------------------------
    # tolerance-sized cells; a point is joined against its own cell plus the
    # 8 neighbors, so any pair within `tolerance` shares a join key
    cx = F.floor(F.col("ex") / F.lit(tolerance)).cast("long")
    cy = F.floor(F.col("ey") / F.lit(tolerance)).cast("long")
    probe = dangles.select(
        "did", "ex", "ey",
        F.explode(F.flatten(F.transform(
            F.sequence(cx - 1, cx + 1),
            lambda r: F.transform(F.sequence(cy - 1, cy + 1),
                                  lambda c: F.struct(r.alias("gx"), c.alias("gy")))
        ))).alias("__cell"))
    base = dangles.select(F.col("did").alias("did_b"), F.col("ex").alias("bx"),
                          F.col("ey").alias("by"),
                          F.struct(cx.alias("gx"), cy.alias("gy")).alias("__cell"))
    dd = (probe.join(base, "__cell")
          .filter(F.col("did") < F.col("did_b"))
          .filter((F.col("ex") - F.col("bx")) * (F.col("ex") - F.col("bx")) +
                  (F.col("ey") - F.col("by")) * (F.col("ey") - F.col("by")) <= tol2)
          .select(F.col("did").alias("id_a"), F.col("ex").alias("ax"),
                  F.col("ey").alias("ay"),
                  F.col("did_b").alias("id_b"), F.col("bx"), F.col("by"))
          .distinct())

    snap_schema = T.StructType([
        T.StructField("arc_id", T.LongType()), T.StructField("which", T.IntegerType()),
        T.StructField("moved", T.BooleanType()),
        T.StructField("qx", T.DoubleType()), T.StructField("qy", T.DoubleType()),
    ])

    def pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # replay the global greedy star pairing restricted to one component:
        # in (arc_id, which, ex, ey) order, every untaken later dangle within
        # tolerance of the current untaken dangle snaps onto its coords
        recs = sorted(zip(pdf["arc_id"], pdf["which"], pdf["ex"], pdf["ey"]))
        taken: set = set()
        out = []
        for i in range(len(recs)):
            if i in taken:
                continue
            for j in range(i + 1, len(recs)):
                if j in taken:
                    continue
                d2 = ((recs[i][2] - recs[j][2]) ** 2 +
                      (recs[i][3] - recs[j][3]) ** 2)
                if d2 <= tol2:
                    out.append((int(recs[j][0]), int(recs[j][1]), True,
                                float(recs[i][2]), float(recs[i][3])))
                    if i not in taken:
                        out.append((int(recs[i][0]), int(recs[i][1]), False,
                                    float("nan"), float("nan")))
                    taken.add(i)
                    taken.add(j)
        return pd.DataFrame(out, columns=[f.name for f in snap_schema.fields]) \
            if out else pd.DataFrame({f.name: pd.Series(
                [], dtype=("bool" if f.name == "moved" else
                           "int64" if f.name in ("arc_id", "which") else "float64"))
                for f in snap_schema.fields})

    # size gate (same pattern as label_components): the candidate PAIRS are
    # already the product of the distributed cell join — when few, run the
    # union-find + per-component greedy driver-side over only the paired
    # dangles (linear in #pairs, never O(d^2) over the corpus); past the
    # gate, distribute via label propagation + per-component kernels
    small_gate = 100_000
    dd_rows = dd.limit(small_gate + 1).collect()
    if len(dd_rows) <= small_gate:
        if not dd_rows:
            snapped = arcs.sparkSession.createDataFrame([], snap_schema)
        else:
            coords = {}
            parent: dict = {}

            def find(a):
                while parent[a] != a:
                    parent[a] = parent[parent[a]]
                    a = parent[a]
                return a

            for r in dd_rows:
                coords[r.id_a] = (r.ax, r.ay)
                coords[r.id_b] = (r.bx, r.by)
                parent.setdefault(r.id_a, r.id_a)
                parent.setdefault(r.id_b, r.id_b)
                ra, rb = find(r.id_a), find(r.id_b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            comps: dict = {}
            for did in parent:
                comps.setdefault(find(did), []).append(did)
            rows = []
            for members in comps.values():
                # did = arc_id*2 + which sorts identically to
                # (arc_id, which, ex, ey) since coords are endpoint-determined
                recs = sorted((did // 2, did % 2, *coords[did])
                              for did in sorted(members))
                taken: set = set()
                for i in range(len(recs)):
                    if i in taken:
                        continue
                    for j in range(i + 1, len(recs)):
                        if j in taken:
                            continue
                        d2 = ((recs[i][2] - recs[j][2]) ** 2 +
                              (recs[i][3] - recs[j][3]) ** 2)
                        if d2 <= tol2:
                            rows.append((int(recs[j][0]), int(recs[j][1]), True,
                                         float(recs[i][2]), float(recs[i][3])))
                            if i not in taken:
                                rows.append((int(recs[i][0]), int(recs[i][1]),
                                             False, float("nan"), float("nan")))
                            taken.add(i)
                            taken.add(j)
            snapped = arcs.sparkSession.createDataFrame(rows, snap_schema)
    else:
        from mapshaper_spark.operators.dedup import dup_clusters
        pair_ids = dd.select("id_a", "id_b")
        paired_ids = (dd.select(F.col("id_a").alias("did"))
                      .unionByName(dd.select(F.col("id_b").alias("did")))
                      .distinct())
        comp = dup_clusters(pair_ids, paired_ids, "did").select("did", "cluster")
        snapped = (dangles.join(comp, "did")
                   .select("cluster", "arc_id", "which", "ex", "ey")
                   .groupBy("cluster")
                   .applyInPandas(lambda pdf: pair_kernel(pdf), schema=snap_schema)
                   .localCheckpoint())

    taken_keys = snapped.select("arc_id", "which")
    remaining = dangles.join(taken_keys, ["arc_id", "which"], "left_anti")

    # --- step 3: project remaining dangles onto nearby arc paths ----------
    from mapshaper_spark.operators.overlay import _bbox_cells_col, _grid_bounds
    gb = _grid_bounds(arcs)
    arc_cells = (with_bbox(arcs).select("arc_id", "bbox")
        .withColumn("__cell", _bbox_cells_col(gb, res))
        .select("arc_id", "__cell"))
    # each dangle carries its NEIGHBOR vertex (px, py) — the reference's
    # getArcExtension anchors the tiny overshoot on the second-to-last
    # vertex of the dangling arc (mapshaper-gaps.js:96-118)
    dangle_cells = (remaining.join(
        arcs.select(F.col("arc_id"), F.col("xs").alias("__dxs"),
                    F.col("ys").alias("__dys")), "arc_id")
        .select(
        F.col("did"), F.col("arc_id").alias("darc"),
        F.col("which").alias("dwhich"), "ex", "ey",
        F.when(F.col("which") == 0, F.element_at("__dxs", 2))
         .otherwise(F.element_at("__dxs", -2)).alias("px"),
        F.when(F.col("which") == 0, F.element_at("__dys", 2))
         .otherwise(F.element_at("__dys", -2)).alias("py"),
        F.struct((F.col("ex") - tolerance).alias("xmin"),
                 (F.col("ey") - tolerance).alias("ymin"),
                 (F.col("ex") + tolerance).alias("xmax"),
                 (F.col("ey") + tolerance).alias("ymax")).alias("bbox"))
        .withColumn("__cell", _bbox_cells_col(gb, res))
        .select("did", "darc", "dwhich", "ex", "ey", "px", "py", "__cell"))
    cand = (arc_cells.join(dangle_cells, "__cell")
            .filter(F.col("arc_id") != F.col("darc"))  # reference skips self
            .select("arc_id", "darc", "dwhich", "ex", "ey", "px", "py")
            .distinct()
            .join(arcs.select("arc_id", "xs", "ys"), "arc_id"))

    hit_schema = T.StructType([
        T.StructField("darc", T.LongType()), T.StructField("dwhich", T.IntegerType()),
        T.StructField("d2", T.DoubleType()),
        T.StructField("qx", T.DoubleType()), T.StructField("qy", T.DoubleType()),
    ])

    def find(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for darc, dwhich, ex, ey, px, py, xs, ys in zip(
                    pdf["darc"], pdf["dwhich"], pdf["ex"], pdf["ey"],
                    pdf["px"], pdf["py"], pdf["xs"], pdf["ys"]):
                xsa = np.asarray(xs, dtype=np.float64)
                ysa = np.asarray(ys, dtype=np.float64)
                if not (xsa.min() - tolerance <= ex <= xsa.max() + tolerance and
                        ysa.min() - tolerance <= ey <= ysa.max() + tolerance):
                    continue
                # nearest point + its segment (vectorized over the path)
                ax, ay = xsa[:-1], ysa[:-1]
                bx, by = xsa[1:], ysa[1:]
                dx, dy = bx - ax, by - ay
                L2 = dx * dx + dy * dy
                L2s = np.where(L2 == 0, 1.0, L2)
                t = np.clip(((ex - ax) * dx + (ey - ay) * dy) / L2s, 0.0, 1.0)
                qxs = ax + t * dx
                qys = ay + t * dy
                d2s = (qxs - ex) ** 2 + (qys - ey) ** 2
                si = int(d2s.argmin())
                d2 = float(d2s[si])
                if d2 > tol2:
                    continue
                qx, qy = float(qxs[si]), float(qys[si])
                s1 = (float(ax[si]), float(ay[si]))
                s2 = (float(bx[si]), float(by[si]))
                if (qx, qy) != s1 and (qx, qy) != s2:
                    # reference getArcExtension (mapshaper-gaps.js:96-118):
                    # overshoot a hair PAST the hit so the later
                    # intersection-cut sees a true crossing (exact-touch
                    # detection dies to float rounding); if rounding still
                    # defeats the crossing test, snap to the closer
                    # segment endpoint instead
                    dist = float(np.hypot(qx - px, qy - py))
                    if dist > 0:
                        k = (dist + 1e-6) / dist
                        nx = px + k * (qx - px)
                        ny = py + k * (qy - py)
                        if _seg_intersection(px, py, nx, ny,
                                             s1[0], s1[1], s2[0], s2[1]):
                            qx, qy = nx, ny
                        else:
                            d1 = (px - s1[0]) ** 2 + (py - s1[1]) ** 2
                            d2_ = (px - s2[0]) ** 2 + (py - s2[1]) ** 2
                            qx, qy = s1 if d1 < d2_ else s2
                rows.append((int(darc), int(dwhich), d2, qx, qy))
            yield pd.DataFrame(rows, columns=[f.name for f in hit_schema.fields]) \
                if rows else pd.DataFrame(
                    {f.name: pd.Series([], dtype="float64") for f in hit_schema.fields})

    hits = (cand.mapInPandas(find, schema=hit_schema)
            .groupBy("darc", "dwhich")
            .agg(F.min(F.struct("d2", "qx", "qy")).alias("best"))
            .select(F.col("darc").alias("arc_id"),
                    F.col("dwhich").alias("which"),
                    F.col("best.qx").alias("qx"), F.col("best.qy").alias("qy")))

    moves = (snapped.filter("moved").select("arc_id", "which", "qx", "qy")
             .unionByName(hits))

    # --- step 4: JVM endpoint rewrite --------------------------------------
    m0 = moves.filter(F.col("which") == 0).select(
        "arc_id", F.col("qx").alias("__q0x"), F.col("qy").alias("__q0y"))
    m1 = moves.filter(F.col("which") == 1).select(
        "arc_id", F.col("qx").alias("__q1x"), F.col("qy").alias("__q1y"))
    out = (arcs.join(m0, "arc_id", "left").join(m1, "arc_id", "left")
           .withColumn("xs", F.when(
               F.col("__q0x").isNotNull(),
               F.concat(F.array("__q0x"), F.slice("xs", 2, F.size("xs") - 1)))
               .otherwise(F.col("xs")))
           .withColumn("ys", F.when(
               F.col("__q0y").isNotNull(),
               F.concat(F.array("__q0y"), F.slice("ys", 2, F.size("ys") - 1)))
               .otherwise(F.col("ys")))
           .withColumn("xs", F.when(
               F.col("__q1x").isNotNull(),
               F.concat(F.slice("xs", 1, F.size("xs") - 1), F.array("__q1x")))
               .otherwise(F.col("xs")))
           .withColumn("ys", F.when(
               F.col("__q1y").isNotNull(),
               F.concat(F.slice("ys", 1, F.size("ys") - 1), F.array("__q1y")))
               .otherwise(F.col("ys")))
           .drop("__q0x", "__q0y", "__q1x", "__q1y"))
    return out.select(*arcs.columns)


# ---------------------------------------------------------------------------
# addIntersectionCuts (standalone pre-pass)
# ---------------------------------------------------------------------------

def insert_cut_points(arcs: DataFrame, hits: DataFrame) -> DataFrame:
    """Insert intersection points (find_segment_intersections output) as
    vertices into both participating arcs — the vertex-insertion half of
    internal.addIntersectionCuts
    (/root/reference/src/paths/mapshaper-path-division.js:20-54).
    Points are inserted in order of their parameter along the segment;
    points equal to an existing vertex are skipped."""
    a_cuts = hits.select(F.col("arc_a").alias("arc_id"),
                         F.col("seg_a").alias("seg"), "x", "y")
    b_cuts = hits.select(F.col("arc_b").alias("arc_id"),
                         F.col("seg_b").alias("seg"), "x", "y")
    cuts = (a_cuts.unionByName(b_cuts).distinct()
            .groupBy("arc_id")
            .agg(F.collect_list(F.struct("seg", "x", "y")).alias("__cuts")))
    joined = arcs.join(cuts, "arc_id", "left")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            new_xs, new_ys, new_n, new_bb = [], [], [], []
            # NB: itertuples renames leading-underscore columns — zip instead
            for r_xs, r_ys, r_cuts in zip(pdf["xs"], pdf["ys"], pdf["__cuts"]):
                xs = list(r_xs)
                ys = list(r_ys)
                if r_cuts is not None and len(r_cuts):
                    by_seg: dict[int, list] = {}
                    for c in r_cuts:
                        # seg is 1-based (explode_segments): vertices seg-1, seg
                        by_seg.setdefault(int(c["seg"]) - 1, []).append(
                            (c["x"], c["y"]))
                    out_x: list[float] = []
                    out_y: list[float] = []
                    for i in range(len(xs) - 1):
                        out_x.append(xs[i])
                        out_y.append(ys[i])
                        pts = by_seg.get(i)
                        if pts:
                            ax, ay = xs[i], ys[i]
                            bx, by_ = xs[i + 1], ys[i + 1]
                            den = (bx - ax) ** 2 + (by_ - ay) ** 2
                            pts.sort(key=lambda p: ((p[0] - ax) * (bx - ax) +
                                                    (p[1] - ay) * (by_ - ay)) /
                                     (den or 1.0))
                            for px, py in pts:
                                if (px, py) != (out_x[-1], out_y[-1]) and \
                                        (px, py) != (bx, by_):
                                    out_x.append(px)
                                    out_y.append(py)
                    out_x.append(xs[-1])
                    out_y.append(ys[-1])
                    xs, ys = out_x, out_y
                new_xs.append(xs)
                new_ys.append(ys)
                new_n.append(len(xs))
                new_bb.append({"xmin": min(xs), "ymin": min(ys),
                               "xmax": max(xs), "ymax": max(ys)})
            out = pdf.drop(columns=["__cuts"]).copy()
            out["xs"] = new_xs
            out["ys"] = new_ys
            if "n" in out.columns:
                out["n"] = new_n
            if "bbox" in out.columns:
                out["bbox"] = new_bb
            yield out

    return joined.mapInPandas(gen, schema=arcs.schema)


def add_intersection_cuts(features: DataFrame, arcs: DataFrame, key: str,
                          same_arc: bool = False):
    """Standalone addIntersectionCuts pre-pass (the flatten -> cut ->
    rebuild the reference runs before dissolve2/mosaic on dirty layers,
    mapshaper-path-division.js:20-54): find all arc x arc segment
    intersections, insert them as vertices, then rebuild shared-arc
    topology so every intersection point is an arc endpoint (node).
    ``same_arc=True`` also cuts where an arc crosses ITSELF (non-adjacent
    segments) — required by repair_self_intersections.
    Returns (new_features(key, parts), new_arcs)."""
    hits = find_segment_intersections(arcs, same_arc=same_arc)
    arcs_cut = insert_cut_points(arcs, hits)

    # concat each ring over the cut arcs, then rebuild topology
    # (build_topology splits at the now-shared cut points); the "key#ring"
    # path ids number the new arcs in feature order
    rings = concat_arcs(arc_refs(features, key), arcs_cut, [key, "ring_idx"],
                        "seq")
    topo = paths_topology(rings.select(
        F.concat_ws("#", F.col(key).cast("string"), "ring_idx").alias("path_id"),
        F.col(key).alias("__fid"), F.col("ring_idx").alias("ri"), "xs", "ys"),
        "__fid")
    return topo.features.withColumnRenamed(topo.fid, key), topo.arcs


# ---------------------------------------------------------------------------
# self-intersection repair
# ---------------------------------------------------------------------------

def remove_spikes_in_path(ids: list[int]) -> list[int]:
    """removeSpikesInPath (/root/reference/src/paths/mapshaper-polygon-repair.js
    :41-59): repeatedly drop adjacent [..., id, ~id, ...] pairs — including
    the wrap-around pair ids[0] == ~ids[-1] — until none remain."""
    ids = list(ids)
    while len(ids) >= 2:
        n = len(ids)
        if ids[0] == ~ids[-1]:
            ids = ids[1:-1]
        else:
            for i in range(1, n):
                if ids[i - 1] == ~ids[i]:
                    del ids[i - 1:i + 1]
                    break
        if len(ids) == n:
            break
    return ids


def _split_path_by_ids(path: list[int], ids: list[int]) -> list[list[int]]:
    """splitPathByIds (/root/reference/src/paths/mapshaper-self-intersection.js
    :63-87): cut @path before each arc in @ids; a leading fragment (ring
    start not on the split node) is rejoined with the trailing slice —
    the same cycle, rotated."""
    idxs = sorted(path.index(i) for i in ids)
    subs: list[list[int]] = []
    if idxs[0] > 0:
        subs.append(path[:idxs[0]])
    for j, i0 in enumerate(idxs):
        i1 = idxs[j + 1] if j + 1 < len(idxs) else len(path)
        subs.append(path[i0:i1])
    if len(subs) > len(ids):
        subs[0] = subs[0] + subs.pop()
    return subs


def repair_self_intersections(features: DataFrame, arcs: DataFrame, key: str,
                              cut: bool = True):
    """repairPolygonGeometry (/root/reference/src/paths/mapshaper-polygon-
    repair.js:63-116 + mapshaper-self-intersection.js:8-57): after
    addIntersectionCuts has turned every self-crossing into a node, split
    each ring at nodes where the ring forks (more than one of the ring's
    own arcs exits the node) and keep only the piece with the largest
    area x sign-of-whole-ring — removing the small "twist" rings a
    self-intersecting polygon pinches off. Indivisible paths get spikes
    removed (remove_spikes_in_path) and are dropped when zero-area.

    Distribution: the reference's exit test only considers arcs within the
    SAME path (self-intersection.js:35 `contains(path, outId)`), so the
    kernel is per-feature — an applyInPandas over (refs + per-arc endpoint
    /shoelace info joined by arc id). No broadcast of the arc table, no
    driver collect; per-task memory is bounded by one feature's arcs.

    Returns (new_features(key, parts), new_arcs); features whose rings all
    collapse keep their row with parts = [] (the reference nulls the shape
    but keeps the record)."""
    if cut:
        features, arcs = add_intersection_cuts(features, arcs, key,
                                               same_arc=True)
    # per-arc endpoints + open shoelace contribution C = sum(x_i*y_{i+1} -
    # x_{i+1}*y_i): a closed cycle's shoelace area is 0.5 * sum(+-C) over
    # its signed arcs because consecutive arcs share endpoints (JVM HOF,
    # no Python)
    contrib = F.aggregate(
        F.sequence(F.lit(1), F.size("xs") - 1), F.lit(0.0),
        lambda acc, i: acc + F.element_at("xs", i) * F.element_at("ys", i + 1)
        - F.element_at("xs", i + 1) * F.element_at("ys", i))
    info = arcs.select(
        F.col("arc_id").alias("aid"),
        F.element_at("xs", 1).alias("x0"), F.element_at("ys", 1).alias("y0"),
        F.element_at("xs", -1).alias("x1"), F.element_at("ys", -1).alias("y1"),
        contrib.alias("C"))
    ex = arc_refs(features, key).select(key, "aid").distinct()
    ainfo = (ex.join(info, "aid")
             .groupBy(key)
             .agg(F.collect_list(F.struct("aid", "x0", "y0", "x1", "y1", "C"))
                  .alias("__ainfo")))
    joined = features.join(ainfo, key, "left")

    out_schema = T.StructType([features.schema[key],
                               features.schema["parts"]])

    def fix(pdf: pd.DataFrame) -> pd.DataFrame:
        out_k, out_parts = [], []
        for k, parts, ainfo_ in zip(pdf[key], pdf["parts"], pdf["__ainfo"]):
            if ainfo_ is None or parts is None:
                out_k.append(k); out_parts.append([])
                continue
            amap = {int(s["aid"]): (float(s["x0"]), float(s["y0"]),
                                    float(s["x1"]), float(s["y1"]),
                                    float(s["C"])) for s in ainfo_}

            def absid(s):
                return s if s >= 0 else ~s

            def start(s):
                x0, y0, x1, y1, _ = amap[absid(s)]
                return (x0, y0) if s >= 0 else (x1, y1)

            def end(s):
                x0, y0, x1, y1, _ = amap[absid(s)]
                return (x1, y1) if s >= 0 else (x0, y0)

            def area2(path):
                return sum(amap[absid(s)][4] * (1.0 if s >= 0 else -1.0)
                           for s in path)

            def divide(path):
                # getSelfIntersectionSplitter.dividePath: first node (in
                # path order, skipping the last arc) with >1 exits splits
                for i in range(len(path) - 1):
                    node = end(path[i])
                    exits = [s for s in path if start(s) == node]
                    if len(exits) > 1:
                        out = []
                        for sp in _split_path_by_ids(path, exits):
                            out.extend(divide(sp))
                        return out
                p = remove_spikes_in_path(path)
                return [p] if p else []

            new_parts = []
            for part in parts:
                part = [int(s) for s in part]
                subs = divide(part)
                if not subs:
                    continue
                if len(subs) == 1:
                    new_parts.append(subs[0])
                    continue
                sign = 1.0 if area2(part) > 0 else -1.0
                best, best_a = None, 0.0
                for sp in subs:
                    pa = area2(sp) * sign
                    if pa > best_a:
                        best, best_a = sp, pa
                if best is not None:
                    new_parts.append(best)
            out_k.append(k)
            out_parts.append(new_parts)
        return pd.DataFrame({key: out_k, "parts": out_parts})

    repaired = joined.groupBy(key).applyInPandas(fix, schema=out_schema)
    return repaired, arcs
