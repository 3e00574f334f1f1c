"""Tests for path operators and distributed topology build."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapshaper_spark import layers as L
from mapshaper_spark.operators import paths as P
from mapshaper_spark.operators import topology as TP


def _holey_feature(spark):
    """4x4 square with a 2x2 hole, plus a detached 1x1 island."""
    rows = [(1,
             [[0.0, 0.0, 4.0, 4.0, 0.0], [1.0, 3.0, 3.0, 1.0, 1.0],
              [10.0, 10.0, 11.0, 11.0, 10.0]],
             [[0.0, 4.0, 4.0, 0.0, 0.0], [1.0, 1.0, 3.0, 3.0, 1.0],
              [0.0, 1.0, 1.0, 0.0, 0.0]],
             {"xmin": 0.0, "ymin": 0.0, "xmax": 11.0, "ymax": 4.0})]
    return spark.createDataFrame(
        rows, "fid int, rings_x array<array<double>>, rings_y array<array<double>>, "
              "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")


class TestExplode:
    def test_hole_stays_with_enclosing_ring(self, spark):
        out = P.explode(_holey_feature(spark)).collect()
        assert len(out) == 2  # square+hole, island
        by_idx = {r.part_idx: r for r in out}
        assert len(by_idx[0].rings_x) == 2   # outer + hole
        assert len(by_idx[1].rings_x) == 1   # island alone
        assert by_idx[1].bbox.xmin == 10.0
        assert by_idx[0].bbox.xmax == 4.0

    def test_attributes_copied(self, spark):
        out = P.explode(_holey_feature(spark)).select("fid").distinct().collect()
        assert [r.fid for r in out] == [1]


class TestFilters:
    def test_filter_islands_drops_hole_with_ring(self, spark):
        out = P.filter_islands(_holey_feature(spark), min_area=2.0).collect()
        # island (area 1) removed along with nothing else; hole (negative
        # area) survives with its enclosing ring
        assert len(out) == 1
        assert len(out[0].rings_x) == 2

    def test_filter_slivers_tests_every_ring(self, spark):
        out = P.filter_slivers(_holey_feature(spark), min_area=2.0).collect()
        # hole area 4 >= 2 kept; island area 1 < 2 dropped
        assert len(out[0].rings_x) == 2

    def test_min_vertices(self, spark):
        # every ring has 4 vertices (< 10), but the outer square contains a
        # hole -> ringHasHoles protection keeps it (and its hole); only the
        # detached island is removed (filter-islands.js:50-57)
        out = P.filter_islands(_holey_feature(spark), min_vertices=10).collect()
        assert len(out) == 1
        assert len(out[0].rings_x) == 2


class TestClip:
    def test_clip_bbox_paths_splits_crossing_line(self, spark):
        # W-shaped path crossing the clip rect twice
        rows = [(1, [[0.0, 2.0, 4.0, 6.0, 8.0]], [[0.0, 4.0, 0.0, 4.0, 0.0]],
                 {"xmin": 0.0, "ymin": 0.0, "xmax": 8.0, "ymax": 4.0})]
        df = spark.createDataFrame(
            rows, "fid int, rings_x array<array<double>>, rings_y array<array<double>>, "
                  "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        out = P.clip_bbox_paths(df, (0.0, 1.0, 8.0, 3.0)).collect()
        assert len(out) == 1
        # the zigzag enters/exits the y-band [1,3] four times -> 4 sub-paths
        assert len(out[0].rings_x) == 4

    def test_fully_inside_untouched(self, spark):
        rows = [(1, [[2.0, 3.0]], [[2.0, 2.0]],
                 {"xmin": 2.0, "ymin": 2.0, "xmax": 3.0, "ymax": 2.0})]
        df = spark.createDataFrame(
            rows, "fid int, rings_x array<array<double>>, rings_y array<array<double>>, "
                  "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        out = P.clip_bbox_paths(df, (0.0, 0.0, 10.0, 10.0)).collect()
        assert out[0].rings_x == [[2.0, 3.0]]


class TestTopologyRoundTrip:
    def test_refs_rebuild_original_rings(self, spark):
        """arcs + signed refs must reconstruct every input ring exactly."""
        polys = L.region_mosaic_rings_local(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
        paths = polys.select(F.col("rid").cast("long").alias("path_id"),
                             F.element_at("rings_x", 1).alias("xs"),
                             F.element_at("rings_y", 1).alias("ys"))
        arcs, refs = TP.build_topology(paths, "path_id")
        arc_map = {r.arc_id: (list(r.xs), list(r.ys)) for r in arcs.collect()}
        orig = {r.path_id: (list(r.xs), list(r.ys)) for r in paths.collect()}
        refs_rows = refs.orderBy("path_id", "arc_seq").collect()
        by_path: dict = {}
        for r in refs_rows:
            by_path.setdefault(r.path_id, []).append(r.signed)
        for pid, signed_ids in by_path.items():
            xs_out, ys_out = [], []
            for sid in signed_ids:
                aid = sid if sid >= 0 else -(sid + 1)
                xs, ys = arc_map[aid]
                if sid < 0:
                    xs, ys = xs[::-1], ys[::-1]
                if xs_out:
                    assert (xs_out[-1], ys_out[-1]) == (xs[0], ys[0])
                    xs, ys = xs[1:], ys[1:]
                xs_out += xs
                ys_out += ys
            oxs, oys = orig[pid]
            # reconstruction may start at a different ring vertex: compare as
            # cyclic sequences (drop closing point, rotate to match)
            ring = list(zip(xs_out[:-1], ys_out[:-1]))
            oring = list(zip(oxs[:-1], oys[:-1]))
            assert len(ring) == len(oring), pid
            k = oring.index(ring[0])
            assert ring == oring[k:] + oring[:k], pid

    def test_shared_arc_count_3x2(self, spark):
        polys = L.region_mosaic_rings_local(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
        paths = polys.select(F.col("rid").cast("long").alias("path_id"),
                             F.element_at("rings_x", 1).alias("xs"),
                             F.element_at("rings_y", 1).alias("ys"))
        arcs, refs = TP.build_topology(paths, "path_id")
        # 3x2 grid: 17 edges, 4 outer corners fuse pairs -> 13 arcs
        assert arcs.count() == 13
        # interior edges referenced twice: total refs = sum over cells of
        # arcs per ring
        assert refs.count() == refs.select("path_id", "arc_seq").distinct().count()

    def test_single_ring_no_nodes(self, spark):
        paths = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0])],
            "path_id long, xs array<double>, ys array<double>")
        arcs, refs = TP.build_topology(paths, "path_id")
        a = arcs.collect()
        assert len(a) == 1
        assert a[0].n == 5  # whole ring is one circular arc
        r = refs.collect()
        assert len(r) == 1


class TestSnapDedup:
    def test_snap_grid_merges_jittered_points(self, spark):
        # jitter within one 1e-6 grid cell (points straddling a cell edge
        # are the documented deviation from the reference's sweep)
        df = spark.createDataFrame(
            [(1, 1.0000000001, 2.0), (2, 1.0000000005, 2.0), (3, 5.0, 5.0)],
            "pid int, x double, y double")
        out = TP.snap_coords_grid(df, 1e-6)
        xs = {r.pid: r.x for r in out.collect()}
        assert xs[1] == xs[2]
        assert xs[3] != xs[1]

    def test_dedup_coords_keeps_order(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0, 2.0, 2.0, 3.0], [0.0, 0.0, 1.0, 2.0, 2.0, 3.0])],
            "arc_id long, xs array<double>, ys array<double>") \
            .withColumn("n", F.size("xs"))
        out = TP.dedup_arc_coords(arcs).collect()[0]
        assert list(out.xs) == [0.0, 1.0, 2.0, 3.0]
        assert out.n == 4


class TestProj:
    def test_webmercator_roundtrip(self, spark):
        from mapshaper_spark.operators import proj as PR
        pts = spark.createDataFrame(
            [(1, -90.0, 37.0), (2, 0.0, 0.0), (3, 179.0, -85.0)],
            "pid int, x double, y double")
        fwd = PR.project_points(pts, "x", "y", "webmercator")
        back = PR.project_points(fwd, "x", "y", "wgs84")
        for r in back.collect():
            orig = {1: (-90.0, 37.0), 2: (0.0, 0.0), 3: (179.0, -85.0)}[r.pid]
            assert r.x == pytest.approx(orig[0], abs=1e-9)
            assert r.y == pytest.approx(orig[1], abs=1e-9)

    def test_project_arcs_matches_points(self, spark):
        from mapshaper_spark.operators import proj as PR
        arcs = spark.createDataFrame(
            [(0, [-90.0, 0.0], [37.0, 10.0])],
            "arc_id long, xs array<double>, ys array<double>")
        out = PR.project_arcs(arcs).collect()[0]
        pts = spark.createDataFrame([(1, -90.0, 37.0)], "pid int, x double, y double")
        p = PR.project_points(pts, "x", "y").collect()[0]
        assert out.xs[0] == pytest.approx(p.x, rel=1e-12)
        assert out.ys[0] == pytest.approx(p.y, rel=1e-12)


class TestPolygonClip:
    def test_rect_clip_with_hole(self, spark):
        df = _holey_feature(spark)
        from mapshaper_spark.operators.paths import clip_polygons_bbox, ring_areas_col
        # clip rect cuts through both the outer square and the hole
        out = ring_areas_col(clip_polygons_bbox(df, (0.0, 0.0, 2.0, 4.0))).collect()
        assert len(out) == 1  # island at x>=10 clipped away
        areas = out[0].ring_areas
        # outer 4x4 clipped to 2x4 = 8; hole 2x2 clipped to half = -2
        assert sorted(round(a, 9) for a in areas) == [-2.0, 8.0]

    def test_wholly_inside_feature_untouched_jvm_path(self, spark):
        df = _holey_feature(spark)
        from mapshaper_spark.operators.paths import clip_polygons_bbox
        out = clip_polygons_bbox(df, (-100.0, -100.0, 100.0, 100.0)).collect()
        assert len(out) == 1
        assert out[0].rings_x == _holey_feature(spark).collect()[0].rings_x

    def test_disjoint_clip_drops_feature(self, spark):
        df = _holey_feature(spark)
        from mapshaper_spark.operators.paths import clip_polygons_bbox
        assert clip_polygons_bbox(df, (50.0, 50.0, 60.0, 60.0)).count() == 0


class TestPolygonsFromLines:
    def test_mosaic_faces_rebuilt(self, spark):
        feats, arcs = L.region_mosaic(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
        faces = TP.polygons_from_lines(arcs).collect()
        assert len(faces) == 6
        assert all(abs(r.area - 1.0) < 1e-12 for r in faces)

    def test_two_components(self, spark):
        # two disjoint triangles -> 2 components, 1 face each
        arcs = spark.createDataFrame(
            [(0, [0.0, 1.0, 0.5, 0.0], [0.0, 0.0, 1.0, 0.0]),
             (1, [5.0, 6.0, 5.5, 5.0], [0.0, 0.0, 1.0, 0.0])],
            "arc_id long, xs array<double>, ys array<double>")
        faces = TP.polygons_from_lines(arcs).collect()
        assert len(faces) == 2
        assert {r.comp for r in faces} == {0, 1}
        assert all(abs(r.area - 0.5) < 1e-12 for r in faces)

    def test_open_dangle_produces_no_face(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 1.0], [0.0, 0.0])],
            "arc_id long, xs array<double>, ys array<double>")
        assert TP.polygons_from_lines(arcs).count() == 0


def _arc_df(spark, coords):
    """Build an arcs DataFrame from reference-style [[x,y],...] arc lists."""
    rows = [(i, [float(p[0]) for p in c], [float(p[1]) for p in c])
            for i, c in enumerate(coords)]
    return spark.createDataFrame(
        rows, "arc_id long, xs array<double>, ys array<double>")


def _feat_df(spark, shapes):
    """shapes: list of per-feature part lists with JS-style signed refs
    (~id encoded as negative int -(id+1), same as the reference)."""
    rows = [(i, [[int(s) for s in part] for part in parts])
            for i, parts in enumerate(shapes)]
    return spark.createDataFrame(rows, "rid long, parts array<array<int>>")


def _collect_arcs(new_arcs):
    return [list(map(list, zip(r.xs, r.ys)))
            for r in sorted(new_arcs.collect(), key=lambda r: r.arc_id)]


def _collect_shapes(new_feats, n):
    by = {r.rid: [list(p) for p in r.parts] for r in new_feats.collect()}
    return [by.get(i, []) for i in range(n)]


class TestDissolveArcsReferenceParity:
    """Transcribed from /root/reference/test/arc-dissolve-test.js
    ('dissolveArcs()' cases): exact target arcs + shapes, including
    first-use storage direction and shared-arc dedup across features."""

    #      b --- c      e
    #     / \   /      / \
    #    /   \ /      /   \
    #   a --- d      g --- h
    COORDS = [
        [[1, 1], [2, 2]],              # ab
        [[2, 2], [4, 2], [3, 1]],      # bcd
        [[2, 2], [3, 1]],              # bd
        [[3, 1], [1, 1]],              # da
        [[6, 2], [7, 1], [5, 1], [6, 2]]]  # ehge

    def test_1_forward_ring_plus_island(self, spark):
        feats = _feat_df(spark, [[[0, 1, 3], [4]]])
        new_feats, new_arcs = TP.dissolve_arcs(
            feats, _arc_df(spark, self.COORDS), "rid")
        assert _collect_arcs(new_arcs) == [
            [[1, 1], [2, 2], [4, 2], [3, 1], [1, 1]],
            [[6, 2], [7, 1], [5, 1], [6, 2]]]
        assert _collect_shapes(new_feats, 1) == [[[0], [1]]]

    def test_2_reversed_ring_keeps_traversal_direction(self, spark):
        feats = _feat_df(spark, [[[-2, -1, -4]]])  # [~1, ~0, ~3] = dcb,ba,ad
        new_feats, new_arcs = TP.dissolve_arcs(
            feats, _arc_df(spark, self.COORDS), "rid")
        assert _collect_arcs(new_arcs) == [
            [[3, 1], [4, 2], [2, 2], [1, 1], [3, 1]]]
        assert _collect_shapes(new_feats, 1) == [[[0]]]

    def test_3_opposite_windings_share_one_arc(self, spark):
        feats = _feat_df(spark, [[[-2, -1, -4]],          # dcbad
                                 [[0, 1, 3], [4]]])       # abcda, eghe
        new_feats, new_arcs = TP.dissolve_arcs(
            feats, _arc_df(spark, self.COORDS), "rid")
        assert _collect_arcs(new_arcs) == [
            [[3, 1], [4, 2], [2, 2], [1, 1], [3, 1]],
            [[6, 2], [7, 1], [5, 1], [6, 2]]]
        assert _collect_shapes(new_feats, 2) == [[[0]], [[-1], [1]]]

    def test_4_polyline_chain(self, spark):
        coords = [[[0, 0], [1, 0]],
                  [[1, 0], [1, 1], [2, 0]],
                  [[2, 0], [1, 0]],
                  [[2, 0], [3, 0]],
                  [[3, 0], [2, -1], [2, 0]]]
        feats = _feat_df(spark, [[[0, -3, 3]]])  # [0, ~2, 3]
        new_feats, new_arcs = TP.dissolve_arcs(
            feats, _arc_df(spark, coords), "rid")
        assert _collect_arcs(new_arcs) == [[[0, 0], [1, 0], [2, 0], [3, 0]]]
        assert _collect_shapes(new_feats, 1) == [[[0]]]

    # issue #140 -- partially overlapping lines
    #
    #  b --- c
    #  |
    #  a
    ISSUE140 = [[[1, 1], [1, 2]], [[1, 2], [2, 2]]]

    def test_issue140_1_unequal_use_counts_block_merge(self, spark):
        feats = _feat_df(spark, [[[0, 1]], [[0]]])
        new_feats, new_arcs = TP.dissolve_arcs(
            feats, _arc_df(spark, self.ISSUE140), "rid")
        assert _collect_arcs(new_arcs) == [
            [[1, 1], [1, 2]], [[1, 2], [2, 2]]]
        assert _collect_shapes(new_feats, 2) == [[[0, 1]], [[0]]]

    def test_issue140_2_first_use_direction_storage(self, spark):
        # two layers in the reference = two features over one arc table here
        feats = _feat_df(spark, [[[-2, -1]],   # cba
                                 [[0]]])       # ab
        new_feats, new_arcs = TP.dissolve_arcs(
            feats, _arc_df(spark, self.ISSUE140), "rid")
        # no merge (ab is used standalone), but arcs renumber AND store in
        # first-use direction: cb, ba
        assert _collect_arcs(new_arcs) == [
            [[2, 2], [1, 2]], [[1, 2], [1, 1]]]
        assert _collect_shapes(new_feats, 2) == [[[0, 1]], [[-2]]]


class TestDissolveArcs:
    def test_corner_chains_merge(self, spark):
        """region_mosaic's 17 edge-arcs heal to 13 (the 4 outer grid corners
        are degree-2 nodes whose arc pairs fuse into L-arcs) — the same
        count build_topology produces from raw rings."""
        feats, arcs = L.region_mosaic(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
        new_feats, new_arcs = TP.dissolve_arcs(feats, arcs, "rid")
        assert arcs.count() == 17
        assert new_arcs.count() == 13
        # rings still reconstruct: every feature has one ring whose arcs
        # chain end-to-end and close
        arc_map = {r.arc_id: (list(r.xs), list(r.ys)) for r in new_arcs.collect()}
        for row in new_feats.collect():
            for ring in row.parts:
                xs_out, ys_out = [], []
                for sid in ring:
                    aid = sid if sid >= 0 else -(sid + 1)
                    xs, ys = arc_map[aid]
                    if sid < 0:
                        xs, ys = xs[::-1], ys[::-1]
                    if xs_out:
                        assert (xs_out[-1], ys_out[-1]) == (xs[0], ys[0]), row.rid
                        xs, ys = xs[1:], ys[1:]
                    xs_out += xs
                    ys_out += ys
                assert (xs_out[0], ys_out[0]) == (xs_out[-1], ys_out[-1])

    def test_unreferenced_arcs_dropped(self, spark):
        feats, arcs = L.region_mosaic(spark, 2, 1, (0.0, 0.0, 2.0, 1.0))
        # only keep feature 0: feature 1's exclusive arcs must vanish
        one = feats.filter(F.col("rid") == 0)
        _, new_arcs = TP.dissolve_arcs(one, arcs, "rid")
        # cell 0 ring: 4 edges; its 3 exclusive boundary corners... all nodes
        # not shared now -> ring has NO nodes of degree > 2 except the shared
        # edge endpoints; mergeable everywhere -> arcs fuse maximally
        assert new_arcs.count() <= 4
        total_pts = sum(r.n for r in new_arcs.collect())
        assert total_pts >= 5


class TestSnapSweep:
    """Exact sorted-sweep snapping (snapping.js:31-63): later points snap
    onto EARLIER ones at their CURRENT coords; a moved point anchors its
    own forward neighbors at its new location."""

    @staticmethod
    def _reference_sweep(pts, limit):
        # direct port of snapCoordsByInterval for the test oracle
        order = sorted(range(len(pts)), key=lambda i: (pts[i][0], pts[i][1]))
        xx = [pts[i][0] for i in order]
        yy = [pts[i][1] for i in order]
        n = len(xx)
        for i in range(n):
            xi, yi = xx[i], yy[i]
            for j in range(i + 1, n):
                dx = xx[j] - xi
                if dx > limit:
                    break
                dy = yy[j] - yi
                if not (dx == 0 and dy == 0) and dx * dx + dy * dy <= limit * limit:
                    xx[j] = xi
                    yy[j] = yi
        return sorted(zip(xx, yy))

    def test_chain_breaks_after_anchor_moves(self, spark):
        # 0, 0.9, 1.7: 0.9 snaps onto 0; 1.7 then does NOT snap (its would-be
        # anchor moved away) — the defining quirk of the serial rule that
        # grid snapping cannot reproduce
        df = spark.createDataFrame([(0.0, 0.0), (0.9, 0.0), (1.7, 0.0)],
                                   "x double, y double")
        out = sorted((r.x, r.y) for r in
                     TP.snap_coords_sweep(df, 1.0).collect())
        assert out == [(0.0, 0.0), (0.0, 0.0), (1.7, 0.0)]

    def test_star_absorption_order(self, spark):
        # 0, 0.9, 1.8, 2.7: [0 <- 0.9], break, then 1.8 anchors 2.7
        df = spark.createDataFrame([(0.0, 1.0), (0.9, 1.0), (1.8, 1.0),
                                    (2.7, 1.0)], "x double, y double")
        out = sorted((r.x, r.y) for r in
                     TP.snap_coords_sweep(df, 1.0).collect())
        assert out == [(0.0, 1.0), (0.0, 1.0), (1.8, 1.0), (1.8, 1.0)]

    def test_matches_serial_reference_on_jitter(self, spark):
        import random
        rng = random.Random(7)
        pts = []
        for cx in (0.0, 10.0, 20.0):   # three clusters -> separate runs
            for _ in range(40):
                pts.append((cx + rng.uniform(-0.004, 0.004),
                            rng.uniform(0, 1)))
        df = spark.createDataFrame(pts, "x double, y double")
        got = sorted((r.x, r.y) for r in
                     TP.snap_coords_sweep(df, 0.01).collect())
        assert got == self._reference_sweep(pts, 0.01)

    def test_runs_do_not_interact(self, spark):
        df = spark.createDataFrame([(0.0, 0.0), (5.0, 0.0)],
                                   "x double, y double")
        out = sorted((r.x, r.y) for r in
                     TP.snap_coords_sweep(df, 1.0).collect())
        assert out == [(0.0, 0.0), (5.0, 0.0)]


class TestCloseGaps:
    def test_nearly_closed_ring_snaps_shut(self, spark):
        # square broken by a 0.01 gap between its own two endpoints: the
        # dangle pair snaps together (lower-keyed endpoint wins)
        arcs = spark.createDataFrame(
            [(0, [0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.01]),
             (1, [0.3, 0.7], [0.5, 0.5])],  # unrelated detached segment
            "arc_id long, xs array<double>, ys array<double>")
        healed = TP.close_gaps(arcs, tolerance=0.05)
        a0 = healed.filter(F.col("arc_id") == 0).collect()[0]
        assert a0.ys[-1] == 0.0  # gap closed onto the start point
        assert (a0.xs[0], a0.ys[0]) == (a0.xs[-1], a0.ys[-1])

    def test_three_dangle_star_snaps_to_lowest(self, spark):
        # three loose ends mutually within tolerance: greedy sorted-order
        # pairing snaps BOTH later dangles onto the lowest-keyed one's
        # coords (star absorption, not chained swaps)
        arcs = spark.createDataFrame(
            [(0, [5.0, 0.0], [5.0, 0.0]),
             (1, [5.0, 0.01], [-5.0, 0.0]),
             (2, [-5.0, 0.0], [5.0, 0.01])],
            "arc_id long, xs array<double>, ys array<double>")
        healed = {r.arc_id: r for r in
                  TP.close_gaps(arcs, tolerance=0.05).collect()}
        # anchor = dangle of arc 0 (end at (0, 0)) stays put
        assert (healed[0].xs[-1], healed[0].ys[-1]) == (0.0, 0.0)
        assert (healed[1].xs[-1], healed[1].ys[-1]) == (0.0, 0.0)
        assert (healed[2].xs[-1], healed[2].ys[-1]) == (0.0, 0.0)

    def test_far_dangle_unmoved(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 1.0], [0.0, 0.0]),
             (1, [10.0, 11.0], [10.0, 10.0])],
            "arc_id long, xs array<double>, ys array<double>")
        healed = sorted(TP.close_gaps(arcs, tolerance=0.05).collect(),
                        key=lambda r: r.arc_id)
        assert healed[0].xs == [0.0, 1.0] and healed[1].xs == [10.0, 11.0]

    def test_two_arc_gap_closes(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
             (1, [0.0, 0.0], [1.0, 0.01])],
            "arc_id long, xs array<double>, ys array<double>")
        healed = TP.close_gaps(arcs, tolerance=0.05)
        a1 = {r.arc_id: r for r in healed.collect()}[1]
        # dangle (0, 0.01) lands on arc 0's start point (0, 0)
        assert (a1.xs[-1], a1.ys[-1]) == (0.0, 0.0)
        # the healed network now closes into one square face
        faces = TP.polygons_from_lines(healed).collect()
        assert len(faces) == 1
        assert faces[0].area == pytest.approx(1.0)


class TestStitch:
    """-stitch: antimeridian seam removal (mapshaper-stitch.js:11-37)."""

    def test_antimeridian_cut_merges(self, spark):
        import mapshaper_spark.operators.paths as P2
        feats = spark.createDataFrame(
            [(1, [[170.0, 170.0, 180.0, 180.0, 170.0],
                  [-180.0, -180.0, -170.0, -170.0, -180.0]],
              [[-10.0, 10.0, 10.0, -10.0, -10.0],
               [10.0, -10.0, -10.0, 10.0, 10.0]]),
             (2, [[0.0, 0.0, 10.0, 10.0, 0.0]], [[0.0, 5.0, 5.0, 0.0, 0.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = {r.fid: r for r in P2.stitch(feats).collect()}
        assert len(out[1].rings_x) == 1  # two halves merged
        # no seam edge along x = -180 remains
        rx, ry = out[1].rings_x[0], out[1].rings_y[0]
        for (x0, _y0), (x1, _y1) in zip(zip(rx, ry), zip(rx[1:], ry[1:])):
            assert not (x0 == -180.0 and x1 == -180.0)
        assert out[2].rings_x == [[0.0, 0.0, 10.0, 10.0, 0.0]]

    def test_pole_vertices_snap(self, spark):
        import mapshaper_spark.operators.paths as P2
        feats = spark.createDataFrame(
            [(1, [[10.0, 20.0, 15.0, 10.0]],
              [[80.0, 80.0, 89.9999999999999, 80.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.stitch(feats).collect()[0]
        # near-pole vertex snapped to (-180, 90)
        assert (-180.0, 90.0) in set(zip(out.rings_x[0], out.rings_y[0]))


class TestAddIntersectionCuts:
    """Standalone addIntersectionCuts pre-pass
    (mapshaper-path-division.js:20-54)."""

    def test_overlapping_squares(self, spark):
        from mapshaper_spark import layers as L
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.0, 2.0, 2.0, 0.0], [0.0, 2.0, 2.0, 0.0, 0.0], 5,
              {"xmin": 0.0, "ymin": 0.0, "xmax": 2.0, "ymax": 2.0}),
             (1, [1.0, 1.0, 3.0, 3.0, 1.0], [1.0, 3.0, 3.0, 1.0, 1.0], 5,
              {"xmin": 1.0, "ymin": 1.0, "xmax": 3.0, "ymax": 3.0})],
            "arc_id long, xs array<double>, ys array<double>, n int, "
            "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        feats = spark.createDataFrame([(10, [[0]]), (20, [[1]])],
                                      "fid int, parts array<array<int>>")
        f2, a2 = TP.add_intersection_cuts(feats, arcs, "fid")
        rows = a2.collect()
        assert len(rows) == 4  # each ring split at the 2 intersection points
        ends = {(r.xs[0], r.ys[0]) for r in rows} | \
               {(r.xs[-1], r.ys[-1]) for r in rows}
        assert (1.0, 2.0) in ends and (2.0, 1.0) in ends
        # features reassemble to the original rings + cut vertices
        asm = {r.fid: set(zip(r.rings_x[0], r.rings_y[0]))
               for r in L.assemble_rings(f2, a2, key="fid").collect()}
        assert asm[10] == {(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0),
                           (1.0, 2.0), (2.0, 1.0)}
        assert asm[20] == {(1.0, 1.0), (1.0, 3.0), (3.0, 3.0), (3.0, 1.0),
                           (1.0, 2.0), (2.0, 1.0)}

    def test_ring_rebuild_runs_no_python(self, spark):
        """assemble_rings and add_intersection_cuts' ring rebuild concat
        arcs with JVM functions: they add no grouped-pandas or Arrow UDF
        node to the plans of their inputs."""
        def py_nodes(df):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            return (plan.count("FlatMapGroupsInPandas") +
                    plan.count("ArrowEvalPython"))

        feats, arcs = L.region_mosaic(spark, 3, 2)
        assert py_nodes(L.assemble_rings(feats, arcs)) == 0
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.0, 2.0, 2.0, 0.0], [0.0, 2.0, 2.0, 0.0, 0.0], 5,
              {"xmin": 0.0, "ymin": 0.0, "xmax": 2.0, "ymax": 2.0}),
             (1, [1.0, 1.0, 3.0, 3.0, 1.0], [1.0, 3.0, 3.0, 1.0, 1.0], 5,
              {"xmin": 1.0, "ymin": 1.0, "xmax": 3.0, "ymax": 3.0})],
            "arc_id long, xs array<double>, ys array<double>, n int, "
            "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        feats = spark.createDataFrame([(10, [[0]]), (20, [[1]])],
                                      "fid int, parts array<array<int>>")
        f2, _ = TP.add_intersection_cuts(feats, arcs, "fid")
        # the cut step's own segment sweep is a grouped-pandas kernel
        cut = TP.insert_cut_points(arcs, TP.find_segment_intersections(arcs))
        assert py_nodes(f2) == py_nodes(cut) > 0

    def test_no_intersections_is_identity_shape(self, spark):
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0], 5,
              {"xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0})],
            "arc_id long, xs array<double>, ys array<double>, n int, "
            "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        feats = spark.createDataFrame([(1, [[0]])],
                                      "fid int, parts array<array<int>>")
        f2, a2 = TP.add_intersection_cuts(feats, arcs, "fid")
        assert a2.count() == 1
        r = a2.collect()[0]
        assert len(r.xs) == 5


def _cut_fixture(spark, coords, shapes):
    arcs = _arc_df(spark, coords)
    arcs = arcs.withColumn("n", F.size("xs")).withColumn(
        "bbox", F.struct(F.array_min("xs").alias("xmin"),
                         F.array_min("ys").alias("ymin"),
                         F.array_max("xs").alias("xmax"),
                         F.array_max("ys").alias("ymax")))
    feats = _feat_df(spark, shapes)
    return feats, arcs


class TestPathDivisionReferenceParity:
    """Transcribed from /root/reference/test/path-division-test.js:
    divideArcs/cutPathsAtIntersections figures, checked through
    add_intersection_cuts. Deviation (documented): the reference cuts
    arcs in place, so an original ring's start vertex stays an arc
    endpoint (3 arcs per ring in Fig 1); the repo REBUILDS topology after
    inserting cut vertices, so rings rotate to start at the first true
    node (2 arcs per ring) and Fig 3's duplicate kl arc dedups into one
    shared arc. The semantic contract — every intersection point is a
    node, rings reconstruct with cut vertices, refs stay consistent — is
    asserted exactly."""

    FIG1 = [[[3, 3], [3, 1], [1, 1], [1, 3], [3, 3]],
            [[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]]]
    # the two crossing points of Fig 1 / Fig 2
    CUTS = {(3.0, 2.0), (2.0, 3.0)}

    def _check_two_squares(self, spark, feats, arcs):
        from mapshaper_spark import layers as L
        f2, a2 = TP.add_intersection_cuts(feats, arcs, "rid")
        rows = _collect_arcs(a2)
        # 2 arcs per ring, every endpoint a true node (cut point)
        assert len(rows) == 4
        ends = {tuple(pts[0]) for pts in rows} | \
               {tuple(pts[-1]) for pts in rows}
        assert ends == self.CUTS
        asm = {r.rid: set(zip(r.rings_x[0], r.rings_y[0]))
               for r in L.assemble_rings(f2, a2, key="rid").collect()}
        assert asm[0] == {(3.0, 3.0), (3.0, 1.0), (1.0, 1.0), (1.0, 3.0),
                          (3.0, 2.0), (2.0, 3.0)}
        assert asm[1] == {(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0),
                          (3.0, 2.0), (2.0, 3.0)}

    def test_fig1_insert_clipping_points(self, spark):
        feats, arcs = _cut_fixture(spark, self.FIG1, [[[0]], [[1]]])
        self._check_two_squares(spark, feats, arcs)

    def test_fig1_reversed_polygons(self, spark):
        feats, arcs = _cut_fixture(spark, self.FIG1, [[[-1]], [[-2]]])
        f2, a2 = TP.add_intersection_cuts(feats, arcs, "rid")
        # first use is the reversed traversal, so arcs store that direction;
        # ring reconstruction must equal the reversed originals
        from mapshaper_spark import layers as L
        asm = {r.rid: list(zip(r.rings_x[0], r.rings_y[0]))
               for r in L.assemble_rings(f2, a2, key="rid").collect()}
        assert set(asm[0]) == {(3.0, 3.0), (3.0, 1.0), (1.0, 1.0),
                               (1.0, 3.0), (3.0, 2.0), (2.0, 3.0)}
        assert set(asm[1]) == {(2.0, 2.0), (2.0, 4.0), (4.0, 4.0),
                               (4.0, 2.0), (3.0, 2.0), (2.0, 3.0)}

    # Fig. 2: efghije already has vertices at the T-intersection points
    FIG2 = [[[3, 3], [3, 1], [1, 1], [1, 3], [3, 3]],
            [[2, 2], [2, 3], [2, 4], [4, 4], [4, 2], [3, 2], [2, 2]]]

    def test_fig2_point_segment_intersections(self, spark):
        feats, arcs = _cut_fixture(spark, self.FIG2, [[[0]], [[1]]])
        self._check_two_squares(spark, feats, arcs)

    # Fig. 3: two layers -> two features each; holes, shared arcs and the
    # duplicate kl arc
    FIG3 = [[[3, 3], [3, 2], [1, 2], [1, 4], [3, 4], [3, 3]],
            [[2, 3], [2, 6], [4, 6], [4, 3]],
            [[4, 3], [2, 3]],
            [[3, 5], [4, 5], [4, 4], [3, 4], [3, 5]],
            [[4, 3], [4, 1], [2, 1], [2, 3]]]

    def test_fig3_layers_remapped(self, spark):
        from mapshaper_spark import layers as L
        feats, arcs = _cut_fixture(
            spark, self.FIG3,
            [[[0], [3]],          # layer A feature
             [[1, 2]],            # layer B feature 1
             [[4, -3]]])          # layer B feature 2 ([4, ~2])
        f2, a2 = TP.add_intersection_cuts(feats, arcs, "rid")
        arc_rows = {r.arc_id: list(zip(r.xs, r.ys)) for r in a2.collect()}
        # the reference produces 14 arcs (kl duplicated); the repo's rebuild
        # dedups the duplicate and heals ring-start artifacts
        assert len(arc_rows) <= 14
        # every reference cut point is an arc endpoint
        ends = {pts[0] for pts in arc_rows.values()} | \
               {pts[-1] for pts in arc_rows.values()}
        for p in [(2.0, 2.0), (2.0, 4.0), (3.0, 3.0), (4.0, 5.0),
                  (4.0, 4.0), (4.0, 3.0), (2.0, 3.0)]:
            assert p in ends, p
        # rings reassemble with the cut vertices included
        asm = {r.rid: [set(zip(rx, ry)) for rx, ry in
                       zip(r.rings_x, r.rings_y)]
               for r in L.assemble_rings(f2, a2, key="rid").collect()}
        assert len(asm[0]) == 2   # outer + hole survive as two rings
        assert {(3.0, 5.0), (4.0, 5.0), (4.0, 4.0), (3.0, 4.0)} <= asm[0][1] \
            or {(3.0, 5.0), (4.0, 5.0), (4.0, 4.0), (3.0, 4.0)} <= asm[0][0]


class TestAnchorPoint:
    """Faithful findAnchorPoint2 port (anchor-points-test.js figures)."""

    def test_rectangle_exact_center(self):
        from mapshaper_spark.operators.paths import _find_anchor_point
        p = _find_anchor_point([([0.0, 0.0, 2.0, 2.0, 0.0],
                                 [0.0, 1.0, 1.0, 0.0, 0.0])])
        assert p == (1.0, 0.5)  # the reference's exact assertion

    def test_collapsed_returns_none(self):
        from mapshaper_spark.operators.paths import _find_anchor_point
        assert _find_anchor_point([([0.0, 0.0, 0.0, 0.0],
                                    [0.0, 0.0, 0.0, 0.0])]) is None

    def test_donut_anchor_inside_annulus(self):
        import numpy as np
        from mapshaper_spark.operators.paths import _find_anchor_point
        from mapshaper_spark.geom import kernels as KK
        outer = ([0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0])
        hole = ([3.0, 7.0, 7.0, 3.0, 3.0], [3.0, 3.0, 7.0, 7.0, 3.0])
        p = _find_anchor_point([outer, hole])
        rings = [(np.array(outer[0]), np.array(outer[1])),
                 (np.array(hole[0]), np.array(hole[1]))]
        assert bool(KK.points_in_polygon(np.array([p[0]]), np.array([p[1]]),
                                         rings)[0])

    def test_reference_fixture_anchors_inside(self, spark):
        """six_counties.shp: every anchor lands inside its polygon (the
        reference suite's own acceptance criterion)."""
        import numpy as np
        from mapshaper_spark.sources import shapefile as SH
        from mapshaper_spark.operators.paths import _find_anchor_point
        from mapshaper_spark.geom import kernels as KK
        shp = open("/root/reference/test/test_data/six_counties.shp", "rb").read()
        geoms = SH.read_shp(shp)
        for g in geoms:
            rings = [([p[0] for p in part], [p[1] for p in part])
                     for part in g["parts"]]
            p = _find_anchor_point(rings)
            assert p is not None
            np_rings = [(np.array(rx), np.array(ry)) for rx, ry in rings]
            assert bool(KK.points_in_polygon(np.array([p[0]]),
                                             np.array([p[1]]), np_rings)[0])


class TestScalePrimitives:
    """scale.ranked_ids (VERDICT r03 #1-#3): two-phase deterministic ids
    must equal the global-window ranking AND plan with no single-partition
    Exchange."""

    def test_ranked_ids_matches_global_window(self, spark):
        import random
        from mapshaper_spark.plans.scale import ranked_ids
        rng = random.Random(11)
        data = [(rng.randrange(10 ** 9), i) for i in range(4000)]
        df = spark.createDataFrame(data, "k long, v int")
        got = {r.k: r.rid for r in ranked_ids(df, ["k"], "rid").collect()}
        expect = {k: i for i, (k, _) in enumerate(sorted(data))}
        assert got == expect

    def test_ranked_ids_no_single_partition_exchange(self, spark):
        from mapshaper_spark.plans.scale import ranked_ids
        df = spark.range(1000).withColumn("k", F.col("id") * 7 % 997)
        out = ranked_ids(df, ["k", "id"], "rid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_build_topology_plan_shape(self, spark):
        """The arc-id assignment must not funnel arcs through one task
        (VERDICT r03 #1: topology.py global Window.orderBy)."""
        polys = L.region_mosaic_rings_local(spark, 3, 2, (0.0, 0.0, 3.0, 2.0))
        paths = polys.select(F.col("rid").cast("long").alias("path_id"),
                             F.element_at("rings_x", 1).alias("xs"),
                             F.element_at("rings_y", 1).alias("ys"))
        arcs, refs = TP.build_topology(paths, "path_id")
        for d in (arcs, refs):
            plan = d._jdf.queryExecution().executedPlan().toString()
            assert "SinglePartition" not in plan
