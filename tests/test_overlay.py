"""Polygon overlay (general clip/erase) kernel + operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapshaper_spark.geom import kernels as K
from mapshaper_spark.operators.overlay import overlay_rings, clip_polygons


def ring(points):
    xs = [float(p[0]) for p in points] + [float(points[0][0])]
    ys = [float(p[1]) for p in points] + [float(points[0][1])]
    return (np.array(xs), np.array(ys))


def rect(x0, y0, x1, y1):
    return ring([(x0, y0), (x0, y1), (x1, y1), (x1, y0)])


def total_area(rings):
    return sum(K.planar_path_area(np.asarray(rx), np.asarray(ry))
               for rx, ry in rings)


class TestOverlayKernel:
    def test_rect_rect_intersection(self):
        out = overlay_rings([rect(0, 0, 4, 4)], [rect(2, 2, 6, 6)], "clip")
        assert len(out) == 1
        assert total_area(out) == pytest.approx(4.0)  # 2x2 overlap

    def test_rect_rect_erase(self):
        out = overlay_rings([rect(0, 0, 4, 4)], [rect(2, 2, 6, 6)], "erase")
        assert total_area(out) == pytest.approx(12.0)  # 16 - 4

    def test_clip_contained_returns_clip(self):
        out = overlay_rings([rect(0, 0, 10, 10)], [rect(2, 2, 4, 4)], "clip")
        assert total_area(out) == pytest.approx(4.0)

    def test_erase_contained_makes_hole(self):
        out = overlay_rings([rect(0, 0, 10, 10)], [rect(2, 2, 4, 4)], "erase")
        assert len(out) == 2
        assert total_area(out) == pytest.approx(96.0)  # 100 - 4 (hole negative)
        areas = sorted(K.planar_path_area(np.asarray(rx), np.asarray(ry))
                       for rx, ry in out)
        assert areas[0] == pytest.approx(-4.0)
        assert areas[1] == pytest.approx(100.0)

    def test_disjoint_clip_empty(self):
        assert overlay_rings([rect(0, 0, 1, 1)], [rect(5, 5, 6, 6)], "clip") == []

    def test_disjoint_erase_unchanged(self):
        out = overlay_rings([rect(0, 0, 1, 1)], [rect(5, 5, 6, 6)], "erase")
        assert total_area(out) == pytest.approx(1.0)

    def test_congruent_rings(self):
        out = overlay_rings([rect(0, 0, 2, 2)], [rect(0, 0, 2, 2)], "clip")
        assert total_area(out) == pytest.approx(4.0)

    def test_concave_L_clip(self):
        # L-shape: 4x4 square minus its top-right 2x2 quadrant
        L = ring([(0, 0), (0, 4), (2, 4), (2, 2), (4, 2), (4, 0)])
        out = overlay_rings([L], [rect(1, 1, 3, 3)], "clip")
        # overlap: [1,3]x[1,2] + [1,2]x[2,3] = 2 + 1 = 3
        assert total_area(out) == pytest.approx(3.0)

    def test_clip_splits_into_two_pieces(self):
        # U-shape clipped by a band across its two prongs -> 2 rings
        U = ring([(0, 0), (0, 4), (1, 4), (1, 1), (3, 1), (3, 4), (4, 4), (4, 0)])
        out = overlay_rings([U], [rect(-1, 2, 5, 5)], "clip")
        assert len(out) == 2
        assert total_area(out) == pytest.approx(2 * 1 * 2.0)

    def test_triangle_square_overlap(self):
        tri = ring([(0, 0), (4, 0), (2, 4)])
        # orientation: make CW-positive (area sign irrelevant, use abs)
        out = overlay_rings([tri], [rect(0, 0, 4, 2)], "clip")
        got = abs(total_area(out))
        # triangle area below y=2: full (8) minus tip above y=2 (area 2) = 6
        # note triangle here is CCW; kernel normalizes winding, compare abs
        assert got == pytest.approx(6.0)

    def test_hole_in_target_respected(self):
        outer = rect(0, 0, 6, 6)
        hole = ring([(2, 2), (4, 2), (4, 4), (2, 4)])  # CCW hole
        out = overlay_rings([outer, hole], [rect(1, 1, 5, 5)], "clip")
        # (4x4 clip window) minus (2x2 hole) = 12
        assert total_area(out) == pytest.approx(12.0)


class TestClipOperator:
    def test_mosaic_clipped_by_diamond(self, spark):
        from mapshaper_spark import layers as L
        polys = L.region_mosaic_rings_local(spark, 6, 4, L.DEFAULT_BBOX) \
            .select("rid", "rings_x", "rings_y", "bbox")
        diamond = spark.createDataFrame(
            [(1, [[-100.0, -90.0, -80.0, -90.0, -100.0]],
              [[37.0, 47.0, 37.0, 27.0, 37.0]],
              {"xmin": -100.0, "ymin": 27.0, "xmax": -80.0, "ymax": 47.0})],
            "cid int, rings_x array<array<double>>, rings_y array<array<double>>, "
            "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        clipped = clip_polygons(polys, diamond)
        from mapshaper_spark.operators.paths import ring_areas_col
        rows = ring_areas_col(clipped).select(
            "rid", F.aggregate("ring_areas", F.lit(0.0), lambda a, v: a + v)
            .alias("area")).collect()
        total = sum(r.area for r in rows)
        # diamond area = d1*d2/2 = 20*20/2 = 200; mosaic covers it fully
        assert total == pytest.approx(200.0, abs=1e-6)
        # clip + erase partition each feature's area exactly
        erased = clip_polygons(polys, diamond, erase=True)
        rows_e = ring_areas_col(erased).select(
            "rid", F.aggregate("ring_areas", F.lit(0.0), lambda a, v: a + v)
            .alias("area")).collect()
        total_e = sum(r.area for r in rows_e)
        assert total + total_e == pytest.approx(60.0 * 24, abs=1e-6)


class TestMosaicDissolve2:
    def test_mosaic_of_two_overlapping_squares(self):
        from mapshaper_spark.operators.overlay import mosaic_rings
        faces = mosaic_rings([[rect(0, 0, 2, 2)], [rect(1, 1, 3, 3)]])
        # arrangement: left-L, overlap, right-L -> 3 faces
        assert len(faces) == 3
        by_member = {}
        for rings, area, member in faces:
            by_member[tuple(member)] = round(area, 9)
        assert by_member[(True, False)] == 3.0
        assert by_member[(True, True)] == 1.0
        assert by_member[(False, True)] == 3.0

    def test_dissolve2_union_of_overlaps(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        feats = spark.createDataFrame(
            [("g", [[0.0, 0.0, 2.0, 2.0, 0.0]], [[0.0, 2.0, 2.0, 0.0, 0.0]]),
             ("g", [[1.0, 1.0, 3.0, 3.0, 1.0]], [[1.0, 3.0, 3.0, 1.0, 1.0]])],
            "grp string, rings_x array<array<double>>, rings_y array<array<double>>")
        out = dissolve2(feats, "grp").collect()
        assert len(out) == 1
        assert out[0].area == pytest.approx(7.0)  # 4 + 4 - 1 overlap
        assert len(out[0].rings_x) == 1

    def test_dissolve2_disjoint_two_rings(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        feats = spark.createDataFrame(
            [("g", [[0.0, 0.0, 2.0, 2.0, 0.0]], [[0.0, 2.0, 2.0, 0.0, 0.0]]),
             ("g", [[5.0, 5.0, 7.0, 7.0, 5.0]], [[0.0, 2.0, 2.0, 0.0, 0.0]])],
            "grp string, rings_x array<array<double>>, rings_y array<array<double>>")
        out = dissolve2(feats, "grp").collect()
        assert len(out) == 1
        assert out[0].area == pytest.approx(8.0)
        assert len(out[0].rings_x) == 2

    def test_dissolve2_adjacent_cells_like_v1(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        from mapshaper_spark import layers as L
        polys = L.region_mosaic_rings_local(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
        out = dissolve2(polys.select("state", "rings_x", "rings_y"), "state") \
            .collect()
        # 3x2 mosaic with 3x2 state blocks -> 1 state covering everything
        assert len(out) == 1
        assert out[0].area == pytest.approx(6.0)
        assert len(out[0].rings_x) == 1

    def test_overlap_assignment_to_larger_feature(self):
        from mapshaper_spark.operators.overlay import dissolve2_rings
        big = [rect(0, 0, 4, 4)]
        small = [rect(3, 3, 5, 5)]
        merged = dissolve2_rings([big, small], ["A", "B"])
        import numpy as np
        area_a = sum(K.planar_path_area(np.asarray(rx), np.asarray(ry))
                     for rx, ry in merged["A"])
        area_b = sum(K.planar_path_area(np.asarray(rx), np.asarray(ry))
                     for rx, ry in merged["B"])
        assert area_a == pytest.approx(16.0)   # overlap goes to the big one
        assert area_b == pytest.approx(3.0)    # 4 - 1


class TestReferenceClipFigures:
    """Geometric outcomes of /root/reference/test/clip-erase-test.js figures
    (the mocha tests assert internal arc ids; we assert the equivalent
    clipped geometry)."""

    def test_fig4_arc_with_spike(self):
        # Fig. 4: square abcda clipped by a polygon with a zero-width spike
        # ("spike is cut off and ignored") -> intersection [2,4]x[2,4]
        square = ring([(2, 5), (4, 5), (4, 2), (2, 2)])
        spike_clip = (np.array([3.0, 3, 3, 5, 5, 1, 1, 3]),
                      np.array([4.0, 3, 4, 4, 1, 1, 4, 4]))
        out = overlay_rings([square], [spike_clip], "clip")
        assert abs(total_area(out)) == pytest.approx(4.0)

    def test_fig5_polygon_with_hole_clip(self):
        # Fig. 5 "Clip test 1": outer [1,6]^2 with hole [3,5]x[3,4] clipped
        # by [2,4]x[2,5] -> 6 - 1 = 5
        outer = ring([(1, 6), (6, 6), (6, 1), (1, 1)])
        hole = ring([(3, 4), (5, 4), (5, 3), (3, 3)])
        clip = ring([(2, 5), (4, 5), (4, 2), (2, 2)])
        out = overlay_rings([outer, hole], [clip], "clip")
        assert total_area(out) == pytest.approx(5.0)

    def test_fig5_filled_hole_clip(self):
        # the separate "filled hole" feature [3,5]x[3,4] clipped by the same
        # rect -> [3,4]x[3,4] = 1
        filled = ring([(3, 4), (5, 4), (5, 3), (3, 3)])
        clip = ring([(2, 5), (4, 5), (4, 2), (2, 2)])
        out = overlay_rings([filled], [clip], "clip")
        assert abs(total_area(out)) == pytest.approx(1.0)

    def test_fig5_erase_complement(self):
        # erase must be the exact complement within the feature
        outer = ring([(1, 6), (6, 6), (6, 1), (1, 1)])
        hole = ring([(3, 4), (5, 4), (5, 3), (3, 3)])
        clip = ring([(2, 5), (4, 5), (4, 2), (2, 2)])
        clip_a = total_area(overlay_rings([outer, hole], [clip], "clip"))
        erase_a = total_area(overlay_rings([outer, hole], [clip], "erase"))
        assert clip_a + erase_a == pytest.approx(25.0 - 2.0)  # 5^2 outer - hole


class TestPolylineClip:
    def test_line_through_diamond(self, spark):
        from mapshaper_spark.operators.overlay import clip_polylines
        diamond = spark.createDataFrame(
            [(1, [[-100.0, -90.0, -80.0, -90.0, -100.0]],
              [[37.0, 47.0, 37.0, 27.0, 37.0]])],
            "cid int, rings_x array<array<double>>, rings_y array<array<double>>")
        line = spark.createDataFrame(
            [(1, [[-120.0, -60.0]], [[37.0, 37.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = clip_polylines(line, diamond).collect()
        assert len(out) == 1
        seg = list(zip(out[0].rings_x[0], out[0].rings_y[0]))
        # kept span = the diamond's horizontal diagonal
        assert seg[0] == (-100.0, 37.0) and seg[-1] == (-80.0, 37.0)
        ers = clip_polylines(line, diamond, erase=True).collect()
        spans = sorted((r[0][0], r[0][-1]) for r in
                       zip(ers[0].rings_x))
        assert len(ers[0].rings_x) == 2  # two outside pieces

    def test_line_outside_untouched_on_erase(self, spark):
        from mapshaper_spark.operators.overlay import clip_polylines
        diamond = spark.createDataFrame(
            [(1, [[-100.0, -90.0, -80.0, -90.0, -100.0]],
              [[37.0, 47.0, 37.0, 27.0, 37.0]])],
            "cid int, rings_x array<array<double>>, rings_y array<array<double>>")
        line = spark.createDataFrame(
            [(1, [[-120.0, -110.0]], [[26.0, 26.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        assert clip_polylines(line, diamond).count() == 0
        e = clip_polylines(line, diamond, erase=True).collect()
        assert e[0].rings_x == [[-120.0, -110.0]]


class TestPointClippingReferenceParity:
    """Transcribed from /root/reference/test/point-clipping-test.js Fig 1:
    square abcda with inner square efghe; 'filled donut' = donut feature +
    filler feature over the hole."""

    SQ_X = [1.0, 4.0, 4.0, 1.0, 1.0]
    SQ_Y = [4.0, 4.0, 1.0, 1.0, 4.0]
    IN_X = [2.0, 3.0, 3.0, 2.0, 2.0]
    IN_Y = [3.0, 3.0, 2.0, 2.0, 3.0]

    def _pts(self, spark, pts):
        return spark.createDataFrame(
            [(i, float(px), float(py)) for i, (px, py) in enumerate(pts)],
            "pid int, x double, y double")

    def _simple(self, spark):
        return spark.createDataFrame(
            [(1, [self.SQ_X], [self.SQ_Y])],
            "clip_id int, rings_x array<array<double>>, "
            "rings_y array<array<double>>")

    def _filled_donut(self, spark):
        return spark.createDataFrame(
            [(1, [self.SQ_X, self.IN_X], [self.SQ_Y, self.IN_Y]),
             (2, [self.IN_X], [self.IN_Y])],
            "clip_id int, rings_x array<array<double>>, "
            "rings_y array<array<double>>")

    def _donut_only(self, spark):
        return spark.createDataFrame(
            [(1, [self.SQ_X, self.IN_X], [self.SQ_Y, self.IN_Y])],
            "clip_id int, rings_x array<array<double>>, "
            "rings_y array<array<double>>")

    def _run(self, spark, pts, polys, erase=False):
        from mapshaper_spark.operators.paths import clip_points
        out = clip_points(self._pts(spark, pts), "x", "y", polys,
                          "clip_id", erase=erase)
        return sorted(r.pid for r in out.collect())

    def test_points_on_vertices_kept_by_clip(self, spark):
        pts = [(1, 1), (1, 4), (4, 4), (4, 1)]
        assert self._run(spark, pts, self._simple(spark)) == [0, 1, 2, 3]

    def test_points_on_edges_kept_by_clip(self, spark):
        pts = [(1, 1.2), (1.5, 1), (4, 3.4), (3.4, 4)]
        assert self._run(spark, pts, self._simple(spark)) == [0, 1, 2, 3]

    def test_points_outside_filled_donut(self, spark):
        pts = [(0, 0), (5, 5)]
        assert self._run(spark, pts, self._filled_donut(spark)) == []
        assert self._run(spark, pts, self._filled_donut(spark),
                         erase=True) == [0, 1]

    def test_points_inside_filled_donut(self, spark):
        pts = [(1.5, 1.5), (2.5, 2.5)]
        assert self._run(spark, pts, self._filled_donut(spark)) == [0, 1]
        assert self._run(spark, pts, self._filled_donut(spark),
                         erase=True) == []

    def test_points_on_boundary_of_filled_donut(self, spark):
        pts = [(1, 1), (2, 1), (2, 2), (2.5, 2)]
        assert self._run(spark, pts, self._filled_donut(spark)) == \
            [0, 1, 2, 3]
        assert self._run(spark, pts, self._filled_donut(spark),
                         erase=True) == []

    def test_point_inside_donut_hole(self, spark):
        assert self._run(spark, [(2.5, 2.5)], self._donut_only(spark)) == []


class TestPolylineClippingReferenceParity:
    """Transcribed from /root/reference/test/polyline-clipping-test.js."""

    def test_fig1_enclosed_polyline(self, spark):
        from mapshaper_spark.operators.overlay import clip_polylines
        clip = spark.createDataFrame(
            [(1, [[1.0, 4.0, 4.0, 1.0, 1.0]], [[4.0, 4.0, 1.0, 1.0, 4.0]])],
            "cid int, rings_x array<array<double>>, rings_y array<array<double>>")
        line = spark.createDataFrame(
            [(1, [[2.0, 3.0, 3.0, 2.0]], [[3.0, 3.0, 2.0, 2.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = clip_polylines(line, clip).collect()
        assert len(out) == 1
        assert out[0].rings_x == [[2.0, 3.0, 3.0, 2.0]]
        assert out[0].rings_y == [[3.0, 3.0, 2.0, 2.0]]
        assert clip_polylines(line, clip, erase=True).count() == 0

    def test_fig2_partly_enclosed_polyline(self, spark):
        from mapshaper_spark.operators.overlay import clip_polylines
        # clip = hexagon a-b-c-d-e-f; target = g-b-h-e'-e-i where the
        # b-h-e' leg dives inside and d-e lies ON the clip boundary
        clip = spark.createDataFrame(
            [(1, [[1.0, 2.0, 3.0, 3.0, 3.0, 1.0, 1.0]],
              [[3.0, 3.0, 3.0, 2.0, 1.0, 1.0, 3.0]])],
            "cid int, rings_x array<array<double>>, rings_y array<array<double>>")
        line = spark.createDataFrame(
            [(1, [[2.0, 2.0, 2.0, 3.0, 3.0, 4.0]],
              [[4.0, 3.0, 2.0, 2.0, 1.0, 1.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = clip_polylines(line, clip).collect()
        assert len(out) == 1
        # clip keeps bhe + de (the reference keeps boundary-riding spans)
        assert out[0].rings_x == [[2.0, 2.0, 3.0, 3.0]]
        assert out[0].rings_y == [[3.0, 2.0, 2.0, 1.0]]
        ers = clip_polylines(line, clip, erase=True).collect()
        assert len(ers) == 1
        parts = sorted(zip(ers[0].rings_x, ers[0].rings_y))
        assert parts == [([2.0, 2.0], [4.0, 3.0]),   # gb
                         ([3.0, 4.0], [1.0, 1.0])]   # ei


class TestDistributedClip:
    """The cell-keyed candidate-pair path (no driver collect of the clip
    layer) must agree exactly with the broadcast path."""

    def _layers(self, spark):
        from mapshaper_spark import layers as L
        from mapshaper_spark.operators.grid import polygon_grid
        polys = L.region_mosaic_rings_local(spark, 6, 4, L.DEFAULT_BBOX) \
            .select("rid", "rings_x", "rings_y", "bbox")
        # 25x13 cell grid as a "large" clip layer (300+ features)
        clip = polygon_grid(spark, 26, 14, L.DEFAULT_BBOX) \
            .select("cell_id", "rings_x", "rings_y", "bbox")
        return polys, clip

    @staticmethod
    def _areas(df):
        from mapshaper_spark.operators.paths import ring_areas_col
        rows = ring_areas_col(df).select(
            "rid", F.aggregate("ring_areas", F.lit(0.0), lambda a, v: a + v)
            .alias("area")).collect()
        return {r.rid: round(r.area, 9) for r in rows}

    def test_distributed_equals_broadcast_clip(self, spark):
        polys, clip = self._layers(spark)
        bcast = self._areas(clip_polygons(polys, clip, key="rid"))
        dist = self._areas(clip_polygons(polys, clip, key="rid",
                                         broadcast_limit=0))
        assert dist == bcast
        assert len(dist) > 0

    def test_distributed_equals_broadcast_erase(self, spark):
        polys, clip = self._layers(spark)
        bcast = self._areas(clip_polygons(polys, clip, key="rid", erase=True))
        dist = self._areas(clip_polygons(polys, clip, key="rid", erase=True,
                                         broadcast_limit=0))
        assert dist == bcast

    def test_distributed_polyline_clip(self, spark):
        from mapshaper_spark.operators.overlay import clip_polylines
        from mapshaper_spark import layers as L
        from mapshaper_spark.operators.grid import polygon_grid
        clip = polygon_grid(spark, 26, 14, L.DEFAULT_BBOX) \
            .select("cell_id", "rings_x", "rings_y", "bbox")
        line = spark.createDataFrame(
            [(1, [[-120.0, -60.0]], [[37.0, 37.0]],
              {"xmin": -120.0, "ymin": 37.0, "xmax": -60.0, "ymax": 37.0})],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>, "
            "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        b = clip_polylines(line, clip).collect()
        d = clip_polylines(line, clip, broadcast_limit=0).collect()
        assert len(b) == len(d) == 1
        assert sorted(map(tuple, b[0].rings_x)) == sorted(map(tuple, d[0].rings_x))
        for r in (b[0], d[0]):  # the bbox follows the clipped parts
            assert (r.bbox.xmin, r.bbox.xmax) == (
                min(map(min, r.rings_x)), max(map(max, r.rings_x)))

    def test_distributed_polyline_clip_without_bbox(self, spark):
        """A line layer without a bbox column takes the cell-paired plan
        like one with it (the bbox is derived, then dropped on output)."""
        from mapshaper_spark.operators.overlay import clip_polylines
        _polys, clip = self._layers(spark)
        lines = spark.createDataFrame(
            [(1, [[-120.0, -60.0]], [[37.0, 37.0]]),
             (2, [[-110.0, -70.0, -80.0]], [[30.0, 45.0, 20.0]])],
            "fid int, rings_x array<array<double>>, "
            "rings_y array<array<double>>")
        for erase in (False, True):
            b = clip_polylines(lines, clip, erase=erase)
            d = clip_polylines(lines, clip, erase=erase, broadcast_limit=0)
            assert d.columns == lines.columns
            assert sorted(d.collect()) == sorted(b.collect())

    def test_empty_clip_guard(self, spark):
        polys, clip = self._layers(spark)
        empty = clip.limit(0)
        assert clip_polygons(polys, empty).count() == 0
        assert clip_polygons(polys, empty, erase=True).count() == polys.count()


class TestDissolve2GapFill:
    """Reference dissolve3-test.js Fig. 14 figures (gap fill)."""

    def _holey(self, spark):
        return spark.createDataFrame(
            [("g", [[0.0, 0.0, 3.0, 3.0, 0.0], [1.0, 2.0, 2.0, 1.0, 1.0]],
              [[100.0, 103.0, 103.0, 100.0, 100.0],
               [101.0, 101.0, 102.0, 102.0, 101.0]])],
            "grp string, rings_x array<array<double>>, rings_y array<array<double>>")

    def test_min_gap_area_removes_hole(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        out = dissolve2(self._holey(spark), "grp", min_gap_area=1.1).collect()
        assert len(out) == 1
        assert len(out[0].rings_x) == 1  # hole filled
        assert out[0].area == pytest.approx(9.0)

    def test_gap_above_threshold_kept(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        out = dissolve2(self._holey(spark), "grp", min_gap_area=0.5).collect()
        assert len(out[0].rings_x) == 2  # hole area 1.0 > 0.5: not filled
        assert out[0].area == pytest.approx(8.0)

    def test_gap_fill_off_matches_old_semantics(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        out = dissolve2(self._holey(spark), "grp", gap_fill=False).collect()
        assert len(out[0].rings_x) == 2
        assert out[0].area == pytest.approx(8.0)

    def test_default_sliver_threshold_fills_tiny_hole(self, spark):
        # 13-unit-tall polygon with a 0.02x0.02 hole: default threshold =
        # (mean segment length)^2 >> hole area (reference 'supports units' fig)
        from mapshaper_spark.operators.overlay import dissolve2
        df = spark.createDataFrame(
            [("g", [[0.0, 0.0, 3.0, 3.0, 0.0],
                    [1.0, 1.02, 1.02, 1.0, 1.0]],
              [[0.0, 13.0, 13.0, 0.0, 0.0],
               [1.0, 1.0, 1.02, 1.02, 1.0]])],
            "grp string, rings_x array<array<double>>, rings_y array<array<double>>")
        out = dissolve2(df, "grp").collect()
        assert len(out[0].rings_x) == 1
        assert out[0].area == pytest.approx(39.0)


class TestClean:
    """-clean (clean-test.js): overlap removal with per-feature identity,
    empty-geometry drop, singleton passthrough."""

    def _fixture(self, spark):
        return spark.createDataFrame(
            [(1, [[0.0, 0.0, 2.0, 2.0, 0.0]], [[0.0, 2.0, 2.0, 0.0, 0.0]]),
             (2, [[1.0, 3.0, 5.0, 3.0, 1.0]], [[1.0, 3.0, 1.0, -1.0, 1.0]]),
             (3, [[10.0, 10.0, 11.0, 11.0, 10.0]], [[0.0, 1.0, 1.0, 0.0, 0.0]]),
             (4, None, None)],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")

    def test_reference_overlap_fixture(self, spark):
        from mapshaper_spark.operators.overlay import clean
        out = {r.fid: r for r in clean(self._fixture(spark), "fid").collect()}
        assert sorted(out) == [1, 2, 3]  # empty geometry dropped
        def area(r):
            return sum(K.planar_path_area(np.asarray(rx), np.asarray(ry))
                       for rx, ry in zip(r.rings_x, r.rings_y))
        # overlap goes to the larger feature (chooseShape weight):
        # square cedes the wedge (ref ring a: [0,0],[0,2],[2,2],[1,1],[2,0])
        assert area(out[1]) == pytest.approx(3.0)
        assert area(out[2]) == pytest.approx(8.0)
        assert sorted(set(zip(out[1].rings_x[0], out[1].rings_y[0]))) == [
            (0.0, 0.0), (0.0, 2.0), (1.0, 1.0), (2.0, 0.0), (2.0, 2.0)]
        # singleton cluster passes through bit-identical
        assert out[3].rings_x == [[10.0, 10.0, 11.0, 11.0, 10.0]]

    def test_clean_no_overlaps_identity(self, spark):
        from mapshaper_spark.operators.overlay import clean
        df = spark.createDataFrame(
            [(i, [[float(3 * i), float(3 * i), float(3 * i + 1),
                   float(3 * i + 1), float(3 * i)]],
              [[0.0, 1.0, 1.0, 0.0, 0.0]]) for i in range(6)],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = clean(df, "fid").collect()
        assert len(out) == 6
        assert all(r.rings_x == df.filter(F.col("fid") == r.fid)
                   .collect()[0].rings_x for r in out)

    def test_two_level_clean_ignores_input_partitioning(self, spark):
        """Equal-weight overlaps in a forced two-level clean fall to the
        lowest feature key, not to the shuffle's row order: 36 overlapping
        equal squares clean to one result from 1, 2, 4 and 7 partitions."""
        from mapshaper_spark.operators.overlay import clean
        df = spark.createDataFrame(
            [(i * 6 + j, [[float(i), float(i), i + 1.2, i + 1.2, float(i)]],
              [[float(j), j + 1.2, j + 1.2, float(j), float(j)]])
             for i in range(6) for j in range(6)],
            "fid long, rings_x array<array<double>>, rings_y array<array<double>>")

        def cleaned(n):
            out = clean(df.repartition(n), "fid", max_task_features=1,
                        target_per_cell=4)
            return sorted(map(tuple, out.select("fid", "rings_x", "rings_y")
                              .collect()))

        want = cleaned(1)
        assert len(want) == 36
        for n in (2, 4, 7):
            assert cleaned(n) == want, n


class TestDissolve2TwoLevel:
    """Two-level mosaic (hot-cluster decomposition): per-cell kernels +
    distributed edge-cancel merge must reproduce the single-task result
    (VERDICT r02 item 2)."""

    def _rect(self, fid, grp, x0, y0, x1, y1):
        return (fid, grp, [[x0, x1, x1, x0, x0]], [[y0, y0, y1, y1, y0]])

    def _ab(self, spark, df, group, **two_kw):
        from mapshaper_spark.operators.overlay import dissolve2
        single = {r[group]: r for r in dissolve2(df, group).collect()}
        two = {r[group]: r for r in dissolve2(
            df, group, cluster_threshold=0, max_task_features=1,
            **two_kw).collect()}
        assert sorted(single) == sorted(two)
        for g in single:
            assert two[g].area == pytest.approx(single[g].area, rel=1e-12)
            assert len(two[g].rings_x) == len(single[g].rings_x)
        return single, two

    def test_overlapping_grid_matches_single_task(self, spark):
        rows = []
        fid = 0
        for gx in range(6):
            for gy in range(6):
                rows.append(self._rect(fid, (gx + gy) % 3,
                                       gx * 1.0, gy * 1.0,
                                       gx * 1.0 + 1.2, gy * 1.0 + 1.2))
                fid += 1
        df = spark.createDataFrame(
            rows, "fid int, grp int, rings_x array<array<double>>, "
                  "rings_y array<array<double>>")
        self._ab(spark, df, "grp", target_per_cell=4)

    def test_gap_spanning_cell_border_fills(self, spark):
        # enclosed thin slit (area 0.02) between four features of one group;
        # the forced grid slices through the slit -> the global gap face
        # must reconnect across cells and still fill
        rows = [self._rect(0, 0, 0.0, 0.0, 0.995, 2.0),
                self._rect(1, 0, 1.005, 0.0, 2.0, 2.0),
                self._rect(2, 0, 0.0, -1.0, 2.0, 0.0),
                self._rect(3, 0, 0.0, 2.0, 2.0, 3.0)]
        df = spark.createDataFrame(
            rows, "fid int, grp int, rings_x array<array<double>>, "
                  "rings_y array<array<double>>")
        from mapshaper_spark.operators.overlay import dissolve2
        out = dissolve2(df, "grp", min_gap_area=0.05,
                        cluster_threshold=0, max_task_features=1,
                        target_per_cell=1).collect()
        assert len(out) == 1
        # slit filled: full footprint 2x4 = 8.0
        assert out[0].area == pytest.approx(8.0, abs=1e-9)

    def test_clean_two_level_matches(self, spark):
        from mapshaper_spark.operators.overlay import clean
        rows = [self._rect(0, 0, 0.0, 0.0, 1.2, 1.0),
                self._rect(1, 0, 1.0, 0.0, 2.0, 1.0),
                self._rect(2, 0, 0.0, 1.0, 2.0, 2.0),
                self._rect(3, 0, 5.0, 5.0, 6.0, 6.0)]
        df = spark.createDataFrame(
            rows, "fid int, grp int, rings_x array<array<double>>, "
                  "rings_y array<array<double>>").drop("grp")
        a = {r.fid: r for r in clean(df, "fid").collect()}
        b = {r.fid: r for r in clean(df, "fid", max_task_features=1,
                                     target_per_cell=1).collect()}
        assert sorted(a) == sorted(b)
        for k in a:
            aa = sum(K.planar_path_area(np.asarray(x), np.asarray(y))
                     for x, y in zip(a[k].rings_x, a[k].rings_y))
            bb = sum(K.planar_path_area(np.asarray(x), np.asarray(y))
                     for x, y in zip(b[k].rings_x, b[k].rings_y))
            assert bb == pytest.approx(aa, rel=1e-12)

    def test_donut_hole_nesting_across_cells(self, spark):
        # donut + island-in-hole + edge-sharing neighbor: hole rings must
        # survive the per-cell split and re-nest after the edge-cancel merge
        from mapshaper_spark.operators.overlay import dissolve2
        rows = [
            (0, 0, [[0.0, 10.0, 10.0, 0.0, 0.0], [3.0, 3.0, 7.0, 7.0, 3.0]],
             [[0.0, 0.0, 10.0, 10.0, 0.0], [3.0, 7.0, 7.0, 3.0, 3.0]]),
            (1, 1, [[4.0, 6.0, 6.0, 4.0, 4.0]], [[4.0, 4.0, 6.0, 6.0, 4.0]]),
            (2, 0, [[10.0, 16.0, 16.0, 10.0, 10.0]],
             [[0.0, 0.0, 10.0, 10.0, 0.0]]),
        ]
        df = spark.createDataFrame(
            rows, "fid int, grp int, rings_x array<array<double>>, "
                  "rings_y array<array<double>>")
        single = {r.grp: r for r in dissolve2(df, "grp").collect()}
        two = {r.grp: r for r in dissolve2(
            df, "grp", cluster_threshold=0, max_task_features=1,
            target_per_cell=1).collect()}

        def areas(r):
            return sorted(round(K.planar_path_area(np.asarray(rx),
                                                   np.asarray(ry)), 9)
                          for rx, ry in zip(r.rings_x, r.rings_y))

        for g in single:
            assert areas(two[g]) == areas(single[g])
        assert areas(single[0]) == [-16.0, 160.0]  # merged outer + hole
        assert areas(single[1]) == [4.0]           # island intact

    def test_decomposition_uses_multiple_cells(self, spark):
        # the stress guarantee: a >max_task_features cluster decomposes into
        # a >= 2x2 per-cluster grid, i.e. >1 mosaic kernel task
        from mapshaper_spark.layers import with_bbox
        from mapshaper_spark.operators.overlay import _cluster_grids
        rows = []
        for i in range(64):
            rows.append(self._rect(i, 0, (i % 8) * 1.0, (i // 8) * 1.0,
                                   (i % 8) * 1.0 + 1.2, (i // 8) * 1.0 + 1.2))
        df = with_bbox(spark.createDataFrame(
            rows, "fid int, grp int, rings_x array<array<double>>, "
                  "rings_y array<array<double>>")) \
            .withColumn("__cluster", F.lit(0).cast("long"))
        meta = _cluster_grids(df, target_per_cell=4)
        x0, y0, w, h, nx, ny = meta[0]
        assert nx >= 2 and ny >= 2


class TestDissolve2ClusterPath:
    """The cluster-decomposed dissolve2 path (forced via
    cluster_threshold=0) must equal the direct per-group path."""

    def test_cluster_path_equals_direct(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        from mapshaper_spark import layers as L
        polys = L.region_mosaic_rings_local(spark, 6, 4, L.DEFAULT_BBOX) \
            .select("state", "rings_x", "rings_y")
        direct = {r.state: (round(r.area, 9), len(r.rings_x))
                  for r in dissolve2(polys, "state").collect()}
        clustered = {r.state: (round(r.area, 9), len(r.rings_x))
                     for r in dissolve2(polys, "state",
                                        cluster_threshold=0).collect()}
        assert direct == clustered and len(direct) == 4

    def test_disjoint_groups_cluster_separately(self, spark):
        from mapshaper_spark.operators.overlay import dissolve2
        # two groups, each with overlapping + far-away pieces
        feats = spark.createDataFrame(
            [("g", [[0.0, 0.0, 2.0, 2.0, 0.0]], [[0.0, 2.0, 2.0, 0.0, 0.0]]),
             ("g", [[1.0, 1.0, 3.0, 3.0, 1.0]], [[1.0, 3.0, 3.0, 1.0, 1.0]]),
             ("g", [[50.0, 50.0, 51.0, 51.0, 50.0]], [[0.0, 1.0, 1.0, 0.0, 0.0]]),
             ("h", [[0.5, 0.5, 1.5, 1.5, 0.5]], [[0.5, 1.5, 1.5, 0.5, 0.5]])],
            "grp string, rings_x array<array<double>>, rings_y array<array<double>>")
        out = {r.grp: (round(r.area, 9), len(r.rings_x))
               for r in dissolve2(feats, "grp", cluster_threshold=0).collect()}
        assert out["g"] == (8.0, 2)   # union 7 + far square 1, two rings
        assert out["h"] == (1.0, 1)   # separate group untouched by overlap


class TestMosaicTwoLevel:
    def test_forced_two_level_matches_single_task(self, spark):
        """Hot-cluster escape for -mosaic: per-cell kernels + signature
        edge-cancel merge must reproduce the single-task faces exactly —
        including a donut (hole nesting across the split/stitch) and a
        6-square transitive overlap chain."""
        from mapshaper_spark.operators.overlay import mosaic

        def rect(x0, y0, x1, y1):
            x0, y0, x1, y1 = map(float, (x0, y0, x1, y1))
            return ([[x0, x0, x1, x1, x0]], [[y0, y1, y1, y0, y0]])

        rows = []
        for i in range(6):
            rx, ry = rect(i * 1.5, 0, i * 1.5 + 2, 2)
            rows.append((f"f{i}", rx, ry))
        rx, ry = rect(10, 0, 14, 4)
        rows.append(("big", rx, ry))
        rx, ry = rect(11, 1, 13, 3)
        rows.append(("in", rx, ry))
        df = spark.createDataFrame(
            rows, "fid string, rings_x array<array<double>>, "
                  "rings_y array<array<double>>")

        def summary(d):
            return sorted((round(r.area, 9), r.n_members) for r in d.collect())

        single = summary(mosaic(df))
        forced = summary(mosaic(df, max_task_features=1, target_per_cell=2))
        assert single == forced
        assert sum(a for a, _ in single) == 35.0
        assert (4.0, 2) in single and (12.0, 1) in single  # the donut pair

    def test_hole_interiors_are_tiles_on_every_path(self, spark):
        """The reference emits every CW ring as a tile — a donut-hole
        interior is an n_members=0 face (buildPolygonMosaic,
        polygon-mosaic.js:65-95). All three paths must agree: singleton
        kernel, clustered kernel, and the forced two-level escape."""
        from mapshaper_spark.operators.overlay import mosaic
        outer = ([0.0, 0.0, 4.0, 4.0, 0.0], [0.0, 4.0, 4.0, 0.0, 0.0])
        hole = ([1.0, 3.0, 3.0, 1.0, 1.0], [1.0, 1.0, 3.0, 3.0, 1.0])
        schema = ("fid string, rings_x array<array<double>>, "
                  "rings_y array<array<double>>")

        def summary(d):
            return sorted((round(r.area, 9), r.n_members) for r in d.collect())

        # singleton multi-ring feature -> annulus tile + hole tile
        donut = spark.createDataFrame(
            [("a", [outer[0], hole[0]], [outer[1], hole[1]])], schema)
        assert summary(mosaic(donut, key="fid")) == [(4.0, 0), (12.0, 1)]

        # donut overlapping a square -> one 2-feature cluster; forcing the
        # two-level path must keep the hole tile and match the kernel path
        sq = ([3.5, 3.5, 6.0, 6.0, 3.5], [0.0, 2.0, 2.0, 0.0, 0.0])
        both = spark.createDataFrame(
            [("a", [outer[0], hole[0]], [outer[1], hole[1]]),
             ("b", [sq[0]], [sq[1]])], schema)
        base = summary(mosaic(both, key="fid"))
        forced = summary(mosaic(both, key="fid", max_task_features=1,
                                target_per_cell=2))
        assert base == forced
        assert (4.0, 0) in base  # hole interior survives as a tile
