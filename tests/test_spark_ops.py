"""End-to-end operator tests on Spark (local[8]).

Fixture style mirrors the reference's mocha end-to-end tests: tiny inline
geometries with golden outputs, notably the congruent-polygon spatial-join
regression (/root/reference/test/spatial-join-test.js:9-72).
"""

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapshaper_spark import layers as L
from mapshaper_spark.operators import attributes as A
from mapshaper_spark.operators import dissolve as D
from mapshaper_spark.operators import grid as G
from mapshaper_spark.operators import spatial as S
from mapshaper_spark.operators import simplify as SI

UNIT = (0.0, 0.0, 1.0, 1.0)


def unit_square_polys(spark, keys):
    """Congruent unit-square polygons (one per key), rings + bbox."""
    rows = [Row(rid=k,
                rings_x=[[0.0, 0.0, 1.0, 1.0, 0.0]],
                rings_y=[[0.0, 1.0, 1.0, 0.0, 0.0]],
                bbox=Row(xmin=0.0, ymin=0.0, xmax=1.0, ymax=1.0),
                foo=k + 2) for k in keys]
    schema = T.StructType([
        T.StructField("rid", T.IntegerType()),
        T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("bbox", L.BBOX_TYPE),
        T.StructField("foo", T.IntegerType()),
    ])
    return spark.createDataFrame(rows, schema)


class TestSpatialJoin:
    def test_congruent_polygons_all_match(self, spark):
        # spatial-join-test.js:9-35 — a point inside two congruent polygons
        # joins to BOTH
        polys = unit_square_polys(spark, [0, 1])
        pts = spark.createDataFrame([(100, 0.5, 0.5)], "pid int, x double, y double")
        pairs = S.pip_join(pts, "x", "y", polys, "rid", bbox=UNIT, res=4)
        assert sorted(r.rid for r in pairs.collect()) == [0, 1]

    def test_congruent_sum_calc(self, spark):
        # spatial-join-test.js:38-72 — calc="foo = sum(foo)" over both
        # congruent matches => 2 + 3 = 5
        polys = unit_square_polys(spark, [0, 1])
        pts = spark.createDataFrame([(100, 0.5, 0.5)], "pid int, x double, y double")
        out = S.spatial_join_point_to_polygon(
            pts, "x", "y", polys, "rid", "pid", sum_fields=["foo"],
            bbox=UNIT, res=4).collect()[0]
        assert out.joins == 2
        assert out.sum_foo == 5
        assert out.first_rid == 0

    def test_boundary_point_is_inside(self, spark):
        # testPointInPolygon: isOn || isIn
        polys = unit_square_polys(spark, [0])
        pts = spark.createDataFrame(
            [(1, 0.0, 0.5), (2, 0.5, 1.0), (3, 1.0, 1.0), (4, 1.5, 0.5)],
            "pid int, x double, y double")
        pairs = S.pip_join(pts, "x", "y", polys, "rid", bbox=UNIT, res=4)
        assert sorted(r.pid for r in pairs.collect()) == [1, 2, 3]

    def test_point_outside_misses(self, spark):
        polys = unit_square_polys(spark, [0])
        pts = spark.createDataFrame([(1, 2.0, 2.0)], "pid int, x double, y double")
        assert S.pip_join(pts, "x", "y", polys, "rid", bbox=(0, 0, 4, 4),
                          res=4).count() == 0

    def test_hole_excludes_point(self, spark):
        rows = [Row(rid=0,
                    rings_x=[[0.0, 0.0, 4.0, 4.0, 0.0], [1.0, 3.0, 3.0, 1.0, 1.0]],
                    rings_y=[[0.0, 4.0, 4.0, 0.0, 0.0], [1.0, 1.0, 3.0, 3.0, 1.0]],
                    bbox=Row(xmin=0.0, ymin=0.0, xmax=4.0, ymax=4.0))]
        schema = T.StructType([
            T.StructField("rid", T.IntegerType()),
            T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("bbox", L.BBOX_TYPE),
        ])
        polys = spark.createDataFrame(rows, schema)
        pts = spark.createDataFrame(
            [(1, 2.0, 2.0), (2, 0.5, 0.5), (3, 1.0, 2.0)],
            "pid int, x double, y double")
        got = {r.pid for r in
               S.pip_join(pts, "x", "y", polys, "rid", bbox=(0, 0, 4, 4), res=4).collect()}
        # 1 is in the hole (out), 2 in the rim (in), 3 on the hole boundary
        # (boundary => inside per testPointInPolygon)
        assert got == {2, 3}


class TestNearestJoin:
    def test_tie_goes_to_lowest_id(self, spark):
        left = spark.createDataFrame([(1, 0.0, 0.0)], "lid int, x double, y double")
        right = spark.createDataFrame(
            [(7, 0.5, 0.0), (3, -0.5, 0.0), (9, 2.0, 0.0)],
            "rid int, rx double, ry double")
        out = S.nearest_point_join(left, "x", "y", "lid",
                                   right, "rx", "ry", "rid",
                                   buffer=1.0, bbox=(-4, -4, 4, 4)).collect()[0]
        assert out.rid == 3  # d2 equal (0.25): lowest id wins
        assert out.dist_sq == 0.25

    def test_outside_buffer_is_null(self, spark):
        left = spark.createDataFrame([(1, 0.0, 0.0)], "lid int, x double, y double")
        right = spark.createDataFrame([(7, 3.0, 0.0)], "rid int, rx double, ry double")
        out = S.nearest_point_join(left, "x", "y", "lid",
                                   right, "rx", "ry", "rid",
                                   buffer=1.0, bbox=(-4, -4, 4, 4)).collect()[0]
        assert out.rid is None


class TestDissolve:
    def test_two_cells_dissolve_to_rectangle(self, spark):
        feats, arcs = L.region_mosaic(spark, 2, 1, (0.0, 0.0, 2.0, 1.0))
        out = D.dissolve_polygons(feats.withColumn("g", F.lit("all")), arcs, "g")
        rows = out.collect()
        assert len(rows) == 1
        ring_x = rows[0].rings_x[0]
        ring_y = rows[0].rings_y[0]
        # closed ring around the 2x1 rectangle; shared interior arc cancelled
        assert (ring_x[0], ring_y[0]) == (ring_x[-1], ring_y[-1])
        from mapshaper_spark.geom import kernels as K
        area = K.planar_path_area(np.array(ring_x), np.array(ring_y))
        assert abs(area) == 2.0
        assert 1.0 not in set()  # ring covers full perimeter:
        assert len(ring_x) == 7  # 6 boundary arcs (2+2 horizontal + 2 vertical), +closing

    def test_dissolve_preserves_groups(self, spark):
        feats, arcs = L.region_mosaic(spark, 6, 4, L.DEFAULT_BBOX)
        out = D.dissolve_polygons(feats, arcs, "state")
        assert out.count() == 4

    def test_innerlines_count(self, spark):
        feats, _ = L.region_mosaic(spark, 6, 4, L.DEFAULT_BBOX)
        # interior edges of a 6x4 grid: 6*3 horizontal + 5*4 vertical = 38
        assert D.innerlines(feats, "rid").count() == 38

    def test_neighbors_symmetric_distinct(self, spark):
        feats, _ = L.region_mosaic(spark, 3, 3, (0, 0, 3, 3))
        pairs = D.polygon_neighbors(feats, "rid").collect()
        assert len(pairs) == 12  # 3x3 rook adjacency
        assert all(p.key_a < p.key_b for p in pairs)


class TestSimplifyPipeline:
    def test_pct_1_keeps_everything(self, spark):
        feats, arcs = L.region_mosaic(spark, 2, 2, (0, 0, 2, 2))
        with_z, zlimit = SI.simplify(arcs, method="visvalingam", pct=1.0)
        assert zlimit == 0.0
        kept = SI.apply_zlimit(with_z, zlimit)
        assert kept.filter(F.col("n") != 2).count() == 0

    def test_zigzag_reduction_monotone(self, spark):
        # more aggressive pct keeps fewer vertices
        df = spark.range(0, 20).withColumnRenamed("id", "arc_id")
        j = F.sequence(F.lit(0), F.lit(64))
        df = (df.withColumn("xs", F.transform(j, lambda v: v.cast("double")))
              .withColumn("ys", F.transform(j, lambda v: ((F.col("arc_id") * 7 + v * 13) % 11).cast("double")))
              .withColumn("zs", F.lit(None).cast("array<double>"))
              .withColumn("n", F.size("xs"))
              .withColumn("bbox", F.struct(F.lit(0.0).alias("xmin"), F.lit(0.0).alias("ymin"),
                                           F.lit(64.0).alias("xmax"), F.lit(10.0).alias("ymax"))))
        tot = []
        for pct in (0.9, 0.5, 0.2):
            with_z, zlimit = SI.simplify(df, method="dp", pct=pct)
            kept = SI.apply_zlimit(with_z, zlimit)
            tot.append(kept.agg(F.sum("n")).collect()[0][0])
        assert tot[0] >= tot[1] >= tot[2]
        # endpoints always survive
        with_z, zlimit = SI.simplify(df, method="dp", pct=0.01)
        kept = SI.apply_zlimit(with_z, zlimit)
        assert kept.agg(F.min("n")).collect()[0][0] >= 2


def test_local_mosaic_matches_distributed_assembly(spark):
    feats, arcs = L.region_mosaic(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
    dist = {r.rid: r for r in L.assemble_rings(feats, arcs, key="rid")
            .select("rid", "rings_x", "rings_y").collect()}
    local = {r.rid: r for r in
             L.region_mosaic_rings_local(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
             .select("rid", "rings_x", "rings_y").collect()}
    assert dist.keys() == local.keys()
    for rid in dist:
        assert dist[rid].rings_x == local[rid].rings_x, rid
        assert dist[rid].rings_y == local[rid].rings_y, rid


def test_interior_boundary_cell_classification(spark):
    from mapshaper_spark.operators.spatial import classify_cover_cells
    from mapshaper_spark.geom import cells as CE
    import numpy as np
    bbox = (0.0, 0.0, 16.0, 16.0)
    rings = [(np.array([2.0, 2, 10, 10, 2]), np.array([2.0, 10, 10, 2, 2]))]
    bb = {"xmin": 2.0, "ymin": 2.0, "xmax": 10.0, "ymax": 10.0}
    interior, boundary = classify_cover_cells(rings, bb, bbox, 4)  # 1x1 cells
    # interior = cells [3..9]x[3..9] minus those touching segments
    assert len(interior) > 0
    inter_set, bound_set = set(interior), set(boundary)
    assert not (inter_set & bound_set)
    # every interior cell center must be inside; spot check decode
    ix, iy = CE.decode_np(np.array(sorted(interior)))
    assert ix.min() >= 3 and ix.max() <= 9 and iy.min() >= 3 and iy.max() <= 9
    # boundary cells hug the ring: rows/cols 1..10
    bx, by = CE.decode_np(np.array(sorted(boundary)))
    assert bx.min() >= 1 and bx.max() <= 10 and by.min() >= 1 and by.max() <= 10


def test_salted_join_matches_broadcast_path(spark):
    """The shuffle path (salted cell join, rings-on-rows verify) must return
    the identical pair set as the broadcast path, including a skewed input
    where most points share one cell."""
    import mapshaper_spark.operators.spatial as S2
    polys = unit_square_polys(spark, [0, 1])
    # 500 points piled into one spot (hot cell) + a grid of cold points
    hot = spark.range(500).select(
        F.col("id").cast("int").alias("pid"),
        F.lit(0.31).alias("x"), F.lit(0.47).alias("y"))
    cold = spark.range(500, 600).select(
        F.col("id").cast("int").alias("pid"),
        ((F.col("id") % 13).cast("double") / 6.0).alias("x"),
        ((F.col("id") % 7).cast("double") / 3.5).alias("y"))
    pts = hot.unionByName(cold)
    bcast = S2.pip_join(pts, "x", "y", polys, "rid", bbox=UNIT, res=4,
                        broadcast_polys=True)
    shuf = S2.pip_join(pts, "x", "y", polys, "rid", bbox=UNIT, res=4,
                       broadcast_polys=False)
    a = sorted((r.pid, r.rid) for r in bcast.collect())
    b = sorted((r.pid, r.rid) for r in shuf.collect())
    assert a == b
    assert len(a) >= 1000  # hot points hit both congruent squares


def _polys(spark, rings_by_key):
    """Polygon layer from {rid: (rings_x, rings_y)}, with bbox structs."""
    rows = [Row(rid=k, rings_x=rx, rings_y=ry,
                bbox=Row(xmin=min(map(min, rx)), ymin=min(map(min, ry)),
                         xmax=max(map(max, rx)), ymax=max(map(max, ry))))
            for k, (rx, ry) in rings_by_key.items()]
    schema = T.StructType([
        T.StructField("rid", T.IntegerType()),
        T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("bbox", L.BBOX_TYPE),
    ])
    return spark.createDataFrame(rows, schema)


def _cover_rows(df):
    return sorted((r.rid, r.cell, r.full,
                   None if r.segs is None else
                   tuple(tuple((s.ax, s.ay, s.bx, s.by) for s in ring) for ring in r.segs))
                  for r in df.collect())


def test_driver_cover_matches_distributed_cover(spark):
    """The driver build of a small layer's cover and polygon_cell_cover
    give the same (key, cell, full, segs) rows: a polygon with a hole and
    vertices on cell edges, and a triangle."""
    bbox = (0.0, 0.0, 16.0, 16.0)  # res 4: 1x1 cells, integer coords on edges
    polys = _polys(spark, {
        0: ([[0.5, 0.5, 8.0, 10.5, 10.5, 0.5], [3.0, 6.0, 6.0, 3.0, 3.0]],
            [[0.5, 10.5, 10.5, 4.0, 0.5, 0.5], [3.0, 3.0, 6.0, 6.0, 3.0]]),
        1: ([[11.0, 15.5, 13.25, 11.0]], [[11.0, 11.0, 15.0, 11.0]]),
    })
    idx = S.polygon_index(spark, polys, "rid", bbox, 4)
    assert idx.rows == 2 <= S.PolygonIndex.LOCAL_LIMIT  # the driver build
    driver = _cover_rows(idx.cover)
    assert driver == _cover_rows(S.polygon_cell_cover(polys, "rid", bbox, 4))
    assert {full for _, _, full, _ in driver} == {True, False}


def test_pip_join_without_token_persists_nothing(spark):
    """An uncached index leaves no persisted cover behind (each -clip/-erase
    of a point layer used to leak one)."""
    jsc = spark.sparkContext._jsc
    pts = spark.createDataFrame([(1, 0.5, 0.5), (2, 2.5, 0.5)], "pid int, x double, y double")
    # the ids the loop adds, not counts: the context cleaner may release an
    # earlier test's RDDs meanwhile
    before = set(jsc.getPersistentRDDs().keySet())
    for shift in range(3):
        x0 = float(shift)
        polys = _polys(spark, {shift: ([[x0, x0, x0 + 1, x0 + 1, x0]],
                                       [[0.0, 1.0, 1.0, 0.0, 0.0]])})
        S.pip_join(pts, "x", "y", polys, "rid", bbox=(0, 0, 4, 4), res=4).collect()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


@pytest.mark.parametrize("bbox", [(0.0, 0.0, 4.0, 4.0), None])
def test_cached_pip_join_runs_no_spark_job(spark, bbox):
    """On a cache hit pip_join plans the join without running a Spark job:
    no size, extent or cover probe."""
    sc = spark.sparkContext
    polys = _polys(spark, {0: ([[0.0, 0.0, 2.0, 2.0, 0.0]], [[0.0, 2.0, 2.0, 0.0, 0.0]])})
    pts = spark.createDataFrame([(1, 0.5, 0.5), (2, 3.0, 3.0), (3, -1.0, 1.0)],
                                "pid int, x double, y double")
    token = f"cached-pip-join-{bbox}"
    first = S.pip_join(pts, "x", "y", polys, "rid", bbox=bbox, res=4, cache_token=token)
    group = f"cached-pip-join-{bbox is None}"
    sc.setJobGroup(group, "cache-hit pip_join")
    try:
        again = S.pip_join(pts, "x", "y", polys, "rid", bbox=bbox, res=4, cache_token=token)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert [r.pid for r in again.collect()] == [r.pid for r in first.collect()] == [1]


def test_index_cache_is_held_by_its_context(monkeypatch):
    """A cached index belongs to the context it was built in: a session on
    another context misses, even one whose context object reuses the
    address (the id) of a stopped, freed one."""
    monkeypatch.setattr(S, "PolygonIndex", lambda *a, **k: object())

    class Context:
        pass

    class Session:
        def __init__(self, sc):
            self.sparkContext = sc

    first = Session(Context())
    idx = S.polygon_index(first, None, "rid", None, 4, cache_token="ctx")
    assert S.polygon_index(first, None, "rid", None, 4, cache_token="ctx") is idx
    old_id = id(first.sparkContext)
    del first
    for _ in range(1000):  # CPython hands the freed block out again
        sc = Context()
        if id(sc) == old_id:
            break
    later = Session(sc)
    assert S.polygon_index(later, None, "rid", None, 4, cache_token="ctx") is not idx


class TestFastSimplify:
    """fast-simplify (mapshaper-simplify-fast.js:3-66) interval thinning."""

    def test_keep_walk_golden(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.5, 1.2, 1.3, 3.0], [0.0] * 5, 5)],
            "arc_id long, xs array<double>, ys array<double>, n int")
        out = SI.simplify_arcs_fast(arcs, dist=1.0).collect()[0]
        # keep first; 0.5 within dist; 1.2 kept; 1.3 within; 3.0 kept (=last)
        assert out.xs == [0.0, 1.2, 3.0]
        assert out.n == 3

    def test_endpoint_always_kept(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.1, 0.2], [0.0, 0.0, 0.0], 3)],
            "arc_id long, xs array<double>, ys array<double>, n int")
        out = SI.simplify_arcs_fast(arcs, dist=1.0).collect()[0]
        # interior thinned, final vertex appended even though within dist
        assert out.xs == [0.0, 0.2]

    def test_single_vertex_arc_becomes_empty(self, spark):
        # tiny closed loop: everything collapses onto the first vertex ->
        # count 1 -> reference pops it to an EMPTY arc
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.1, 0.0], [0.0, 0.1, 0.0], 3)],
            "arc_id long, xs array<double>, ys array<double>, n int")
        out = SI.simplify_arcs_fast(arcs, dist=1.0).collect()[0]
        assert out.xs == [] and out.n == 0

    def test_polygon_ring_under_4_vertices_dropped(self, spark):
        feats = spark.createDataFrame(
            [(1, [[0.0, 2.0, 2.0, 0.0, 0.0]], [[0.0, 0.0, 2.0, 2.0, 0.0]]),
             (2, [[0.0, 20.0, 20.0, 0.0, 0.0]], [[0.0, 0.0, 20.0, 20.0, 0.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = {r.fid: r for r in
               SI.simplify_polygons_fast(feats, dist=2.5).collect()}
        assert 1 not in out          # thinned to 3 vertices -> dropped
        assert len(out[2].rings_x[0]) == 5  # big ring untouched

    # /root/reference/test/simplify-fast-test.js:7-13 — fully collapsed
    # polygon (all vertices identical) -> null shape
    def test_collapsed_polygon_becomes_null(self, spark):
        feats = spark.createDataFrame(
            [(1, [[0.0, 0.0, 0.0, 0.0]], [[0.0, 0.0, 0.0, 0.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        assert SI.simplify_polygons_fast(feats, dist=1.0).count() == 0

    # simplify-fast-test.js:15-21 — small triangle collapses at dist=1
    def test_small_triangle_becomes_null(self, spark):
        feats = spark.createDataFrame(
            [(1, [[0.0, 0.0, 1.0, 0.0]], [[0.0, 1.0, 0.0, 0.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        assert SI.simplify_polygons_fast(feats, dist=1.0).count() == 0



class TestAttributes:
    def test_uniq_keeps_first_by_order(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40), (5, "a", 50)],
            "idx int, k string, v int").withColumn(A.ROW_IDX, F.col("idx"))
        out = A.uniq(df, F.col("k"), 1).select("idx").collect()
        assert sorted(r.idx for r in out) == [1, 3]

    def test_grid_assignment_clamps(self, spark):
        pts = spark.createDataFrame(
            [(1, 0.5, 0.5), (2, 3.999, 3.999), (3, 4.0, 4.0)],
            "pid int, x double, y double")
        out = G.split_on_grid(pts, 4, 4, bbox=(0, 0, 4, 4), x="x", y="y",
                              id_field="tile")
        got = {r.pid: r.tile for r in out.collect()}
        # boundary-at-max clamps into the last cell (split-on-grid.js floor+clamp)
        assert got[1] == "r0c0"
        assert got[2] == "r3c3"
        assert got[3] == "r3c3"


def test_knn_progressive_matches_brute_force(spark):
    import mapshaper_spark.operators.spatial as S2
    # clustered + sparse points: some neighbors are many rings away
    left = spark.createDataFrame(
        [(i, float(i % 5), float(i // 5)) for i in range(20)],
        "lid int, x double, y double")
    right = spark.createDataFrame(
        [(100, 0.1, 0.1), (101, 0.2, 0.2), (102, 3.9, 3.5),
         (103, 14.0, 14.0), (104, 14.5, 14.5), (105, 7.0, 0.5)],
        "rid int, rx double, ry double")
    got = S2.knn_join_progressive(left, "x", "y", "lid",
                                  right, "rx", "ry", "rid",
                                  k=3, res=5, bbox=(0.0, 0.0, 16.0, 16.0))
    got_rows = {(r.lid, r.knn_rank): (r.rid, round(r.dist_sq, 9))
                for r in got.collect()}
    # brute force
    import itertools
    lpts = [(i, float(i % 5), float(i // 5)) for i in range(20)]
    rpts = [(100, 0.1, 0.1), (101, 0.2, 0.2), (102, 3.9, 3.5),
            (103, 14.0, 14.0), (104, 14.5, 14.5), (105, 7.0, 0.5)]
    for lid, x, y in lpts:
        ds = sorted(((x - rx) ** 2 + (y - ry) ** 2, rid) for rid, rx, ry in rpts)
        for rank, (d2, rid) in enumerate(ds[:3], start=1):
            assert got_rows[(lid, rank)] == (rid, round(d2, 9)), (lid, rank)


def test_knn_forced_shuffle_matches_broadcast(spark):
    """knn_join / nearest_point_join with broadcast_limit=0 (forced salted
    shuffle path) must return the identical result set as the broadcast
    path, including a hot-cell skew pile."""
    import mapshaper_spark.operators.spatial as S2
    bbox = (0.0, 0.0, 16.0, 16.0)
    left = spark.createDataFrame(
        [(i, float(i % 5) + 0.25, float(i // 5) + 0.25) for i in range(40)] +
        [(100 + i, 2.0, 2.0) for i in range(200)],  # hot pile
        "lid int, x double, y double")
    right = spark.createDataFrame(
        [(i, float(i % 7) * 2.0 + 0.1, float(i // 7) * 2.0 + 0.1)
         for i in range(49)],
        "rid int, rx double, ry double")
    for kwargs in (dict(k=3, max_radius=3.0),):
        b = S2.knn_join(left, "x", "y", "lid", right, "rx", "ry", "rid",
                        bbox=bbox, **kwargs)
        s = S2.knn_join(left, "x", "y", "lid", right, "rx", "ry", "rid",
                        bbox=bbox, broadcast_limit=0, **kwargs)
        rows_b = sorted((r.lid, r.knn_rank, r.rid, round(r.dist_sq, 9))
                        for r in b.collect())
        rows_s = sorted((r.lid, r.knn_rank, r.rid, round(r.dist_sq, 9))
                        for r in s.collect())
        assert rows_b == rows_s and len(rows_b) > 0
    nb = S2.nearest_point_join(left, "x", "y", "lid",
                               right, "rx", "ry", "rid",
                               buffer=2.0, bbox=bbox)
    ns = S2.nearest_point_join(left, "x", "y", "lid",
                               right, "rx", "ry", "rid",
                               buffer=2.0, bbox=bbox, broadcast_limit=0)
    rb = sorted((r.lid, r.rid, round(r.dist_sq, 9) if r.dist_sq is not None else None)
                for r in nb.collect())
    rs = sorted((r.lid, r.rid, round(r.dist_sq, 9) if r.dist_sq is not None else None)
                for r in ns.collect())
    assert rb == rs


class TestFlagshipPlanShape:
    """100x-posture regression: the flagship spatial-join + tiling plan must
    stay broadcast + whole-stage-codegen with zero Python stages and no
    single-partition exchange (the shape VERDICT r03 verified by hand)."""

    def test_flagship_plan_is_broadcast_codegen_no_python(self, spark):
        import __spark_entry__ as E
        df = E.q_flagship_image_tiles(spark, "/root/testdata/sf0.001",
                                      n_images=2000)
        # materialize THIS DataFrame's query execution so AQE finalizes the
        # plan (the initial isFinalPlan=false printout carries no
        # WholeStageCodegen wrappers — codegen is applied per query stage)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        # whole-stage codegen spans print as "*(n) Operator" in the simple
        # plan string (the literal word only appears in formatted explain)
        import re as _re
        assert _re.search(r"\*\(\d+\)", plan), "no WholeStageCodegen span"
        # Python stages would appear as ArrowEvalPython / BatchEvalPython /
        # FlatMapGroupsInPandas / MapInPandas
        for marker in ("EvalPython", "InPandas"):
            assert marker not in plan, f"Python stage in flagship plan: {marker}"
        assert "SinglePartition" not in plan


class TestHotPathPlanShapes:
    """100x-posture regression net beyond the flagship: the other hot
    operators keep the plan properties their BENCH/SURVEY write-ups claim
    (no Python stages where the implementation is pure Catalyst, no
    cartesian products in dedup, no single-partition exchanges)."""

    @staticmethod
    def _final_plan(df):
        df.write.format("noop").mode("overwrite").save()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_text_metrics_is_pure_sql(self, spark):
        import __spark_entry__ as E
        df = E.q_text_metrics(spark, "/root/testdata/sf0.001")
        plan = self._final_plan(df)
        for marker in ("EvalPython", "InPandas"):
            assert marker not in plan, f"Python stage in text_metrics: {marker}"
        assert "SinglePartition" not in plan

    def test_cluster_no_exchange_no_python(self, spark):
        import __spark_entry__ as E
        df = E.q_cluster(spark, "/root/testdata/sf0.001")
        plan = self._final_plan(df)
        for marker in ("EvalPython", "InPandas"):
            assert marker not in plan, f"Python stage in cluster: {marker}"
        # the r02 crossJoin/Window anti-pattern must stay gone
        assert "CartesianProduct" not in plan

    def test_word_jaccard_no_cartesian(self, spark):
        import __spark_entry__ as E
        df = E.q_word_jaccard(spark, "/root/testdata/sf0.001")
        plan = self._final_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_dedup_exact_no_cartesian_no_python(self, spark):
        import __spark_entry__ as E
        df = E.q_dedup_exact(spark, "/root/testdata/sf0.001")
        plan = self._final_plan(df)
        assert "CartesianProduct" not in plan
        for marker in ("EvalPython", "InPandas"):
            assert marker not in plan
