"""End-to-end parity with the reference's own test suite, run through OUR
pipeline on the reference's OWN fixture data.

Transcribed cases (the node runtime can't execute the unbuilt reference, so
its mocha assertions serve as executable goldens):

- CSV dissolve on three fields:  /root/reference/test/dissolve-test.js:11-18
- polyline dissolve merge/ring:  /root/reference/test/dissolve-test.js:20-110
- six_counties polygon dissolve: /root/reference/test/dissolve-test.js:112-124
- dissolve calc= aggregation:    /root/reference/test/dissolve-test.js:126-143
- two_states shp x states.csv join: /root/reference/test/join-test.js:76-86
"""

import pytest
from pyspark.sql import functions as F

from mapshaper_spark import layers as L
from mapshaper_spark.operators import attributes as A
from mapshaper_spark.operators import dissolve as D
from mapshaper_spark.operators import joins as J
from mapshaper_spark.operators import topology as TP
from mapshaper_spark.sources import delim as DL
from mapshaper_spark.sources import shapefile as SHP

REF = "/root/reference/test/test_data"


class TestCsvDissolve:
    def test_dissolve_three_fields(self, spark, tmp_path):
        # dissolve-test.js "dissolve CSV on three fields": 9 rows -> 6 groups
        csv = tmp_path / "in.csv"
        csv.write_text("id1,id2,id3\na,1,x\na,1,x\na,2,x\nb,1,x\nb,2,x\n"
                       "b,2,x\nc,2,x\na,1,y\na,1,y\n")
        df = DL.import_delim(spark, str(csv)).withColumn(
            A.ROW_IDX, F.monotonically_increasing_id())
        out = (D.dissolve_attributes(df, ["id1", "id2", "id3"],
                                     calc={"first_idx": ("min", A.ROW_IDX)})
               .orderBy("first_idx")
               .select("id1", "id2", "id3").collect())
        got = [(r.id1, r.id2, r.id3) for r in out]
        # reference output preserves first-occurrence order:
        assert got == [("a", 1, "x"), ("a", 2, "x"), ("b", 1, "x"),
                       ("b", 2, "x"), ("c", 2, "x"), ("a", 1, "y")]


class TestPolylineDissolveParity:
    def chains(self, spark, paths):
        arcs = spark.createDataFrame(
            [(i, [float(p[0]) for p in path], [float(p[1]) for p in path])
             for i, path in enumerate(paths)],
            "arc_id long, xs array<double>, ys array<double>")
        feats = spark.createDataFrame(
            [("g", [list(range(len(paths)))])],
            "grp string, parts array<array<int>>")
        rows = TP.dissolve_polylines(feats, arcs, "grp").collect()
        return [list(zip(r.xs, r.ys)) for r in rows]

    def assert_chain(self, got, expect):
        assert got == expect or got == expect[::-1]

    def test_multiple_segments_merge(self, spark):
        # dissolve-test.js "polyline test 1": 3 paths -> single line 0..4
        out = self.chains(spark, [
            [(1, 1), (0, 0)],
            [(1, 1), (2, 2), (3, 3)],
            [(4, 4), (3, 3)]])
        assert len(out) == 1
        self.assert_chain(out[0], [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0),
                                   (3.0, 3.0), (4.0, 4.0)])

    def test_simple_ring_preserved(self, spark):
        # "polyline test 2": a closed ring stays one closed line
        out = self.chains(spark, [[(1, 1), (1, 0), (0, 1), (1, 1)]])
        assert len(out) == 1
        assert out[0][0] == out[0][-1]
        assert len(out[0]) == 4

    def test_split_ring_rejoined(self, spark):
        # "polyline test 3": two open halves rejoin into the closed ring
        out = self.chains(spark, [
            [(1, 1), (1, 0), (0, 0)],
            [(0, 0), (0, 1), (1, 1)]])
        assert len(out) == 1
        assert out[0][0] == out[0][-1]
        assert len(out[0]) == 5
        assert set(out[0]) == {(1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (0.0, 1.0)}


class TestSixCountiesDissolve:
    def test_copy_and_sum_fields(self, spark):
        # dissolve-test.js "polygon test 1" golden:
        # {NAME:'District of Columbia', STATE_FIPS:'11',
        #  POP2000:1916238, MULT_RACE:76770}
        with open(f"{REF}/six_counties.shp", "rb") as f:
            shp = f.read()
        with open(f"{REF}/six_counties.dbf", "rb") as f:
            dbf = f.read()
        df = SHP.import_shapefile(spark, shp, dbf)
        out = D.dissolve_attributes(
            df.withColumn("__all", F.lit(1)), ["__all"],
            sum_fields=["POP2000", "MULT_RACE"],
            copy_fields=["NAME", "STATE_FIPS"], order_col="fid").collect()
        assert len(out) == 1
        r = out[0]
        assert r.NAME == "District of Columbia"
        assert r.STATE_FIPS == "11"
        assert int(r.POP2000) == 1916238
        assert int(r.MULT_RACE) == 76770


class TestDissolveCalcParity:
    def test_calc_vocabulary(self, spark):
        # dissolve-test.js "calc= option works"
        rows = [(200, 20000, "A", "Apple", 0),
                (400, 15000, "B", "Beet", 1),
                (600, 8000, "A", "Ant", 2)]
        df = spark.createDataFrame(
            rows, "POP int, INCOME int, GROUP string, NAME string, idx int")
        out = {r.GROUP: r for r in
               (df.groupBy("GROUP")
                .agg(F.transform(F.sort_array(F.collect_list(
                         F.struct("idx", F.col("INCOME").alias("v")))),
                         lambda s: s["v"]).alias("INCOMES"),
                     F.sum("POP").alias("TOTPOP"),
                     F.max("POP").alias("MAXPOP"),
                     F.min("POP").alias("MINPOP"),
                     F.count(F.lit(1)).alias("n"),
                     F.transform(F.sort_array(F.collect_list(
                         F.struct("idx", F.col("NAME").alias("v")))),
                         lambda s: s["v"]).alias("NAMES"))).collect()}
        a = out["A"]
        assert (list(a.INCOMES), a.TOTPOP, a.MAXPOP, a.MINPOP, a.n,
                list(a.NAMES)) == ([20000, 8000], 800, 600, 200, 2,
                                   ["Apple", "Ant"])
        b = out["B"]
        assert (list(b.INCOMES), b.TOTPOP, b.n) == ([15000], 400, 1)


class TestTwoStatesJoin:
    def test_shp_csv_attribute_join(self, spark):
        # join-test.js test1: two_states.shp joined with states.csv on
        # FIPS=STATE_FIPS (string), fields POP2010,SUB_REGION
        with open(f"{REF}/two_states.shp", "rb") as f:
            shp = f.read()
        with open(f"{REF}/two_states.dbf", "rb") as f:
            dbf = f.read()
        states = SHP.import_shapefile(spark, shp, dbf)
        csv = DL.import_delim(spark, f"{REF}/text/states.csv",
                              string_fields=["STATE_FIPS"])
        out = J.join_attributes(
            states, csv, ("FIPS", "STATE_FIPS"),
            copy_fields=["POP2010", "SUB_REGION"])
        got = {r.STATE_NAME: r for r in out.collect()}
        assert got["Oregon"].POP2010 == 3831074
        assert got["Oregon"].SUB_REGION == "Pacific"
        assert got["Oregon"].joins == 1
        assert got["Washington"].POP2010 == 6724540
        assert got["Washington"].SUB_REGION == "Pacific"


class TestSimplifyParity:
    def test_planar_0pct_removes_all_removable(self, spark):
        # simplify-test.js "-simplify planar 0%": 5-pt line -> endpoints only
        from mapshaper_spark.operators import simplify as SI
        arcs = spark.createDataFrame(
            [(0, [0.0, 0.0, 0.1, 0.0, 0.0], [0.0, 1.0, 1.1, 1.2, 2.0], None, 5,
              {"xmin": 0.0, "ymin": 0.0, "xmax": 0.1, "ymax": 2.0})],
            "arc_id long, xs array<double>, ys array<double>, zs array<double>, "
            "n int, bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>")
        with_z, zlimit = SI.simplify(arcs, method="weighted_visvalingam", pct=0.0)
        out = SI.apply_zlimit(with_z, zlimit).collect()[0]
        assert list(zip(out.xs, out.ys)) == [(0.0, 0.0), (0.0, 2.0)]

    def test_simplification_is_reapplicable(self, spark):
        # simplify-test.js "simplify() can be re-applied": the z overlay is
        # non-destructive; pct=1 restores every vertex
        from mapshaper_spark.operators import simplify as SI
        from mapshaper_spark import layers as L
        df = spark.range(0, 10).select(
            F.col("id").alias("arc_id"),
            F.transform(F.sequence(F.lit(0), F.lit(20)),
                        lambda v: v.cast("double")).alias("xs"),
            F.transform(F.sequence(F.lit(0), F.lit(20)),
                        lambda v: ((F.col("id") + v * 7) % 5).cast("double")).alias("ys")) \
            .withColumn("zs", F.lit(None).cast("array<double>"))
        with_z = SI.compute_thresholds(df, method="dp").cache()
        strong = SI.apply_zlimit(with_z, SI.threshold_for_pct(with_z, 0.1))
        full = SI.apply_zlimit(with_z, 0.0)
        n_orig = df.select(F.sum(F.size("xs"))).collect()[0][0]
        assert strong.select(F.sum("n")).collect()[0][0] < n_orig
        assert full.select(F.sum("n")).collect()[0][0] == n_orig


class TestUnitsParity:
    def test_interval_km_on_wgs84(self):
        # simplify-test.js convertSimplifyInterval: '0.5km' on wgs84 -> 500
        from mapshaper_spark.geom import units as U
        assert U.convert_distance_param("0.5km", "wgs84") == 500.0

    def test_planar_unknown_crs_with_units_errors(self):
        from mapshaper_spark.geom import units as U
        with pytest.raises(ValueError):
            U.convert_distance_param("0.5km", None)

    def test_unitless_passthrough(self):
        from mapshaper_spark.geom import units as U
        assert U.convert_distance_param(3, None) == 3.0

    def test_area_and_aliases(self):
        from mapshaper_spark.geom import units as U
        assert U.convert_distance_param("2mi", "wgs84") == 2 * 1609.344
        assert U.convert_area_param("1km", "wgs84") == 1e6
        assert U.convert_distance_param("10ft", "wgs84") == pytest.approx(3.048)


class TestInnerlinesParity:
    """Fixtures from /root/reference/test/innerlines-test.js (triangle pair
    :4-24 and 2x2 grid lyrb :26-49), using the reference's exact signed arc
    refs; goldens = the arcs the reference's -innerlines/-lines select."""

    def test_triangle_pair_shared_arc(self, spark):
        feats = spark.createDataFrame(
            [("a", [[0, 1]]), ("b", [[-2, 2]])],
            "foo string, parts array<array<int>>")
        inner = D.innerlines(feats, "foo").collect()
        assert [r.aid for r in inner] == [1]  # arc bc is the only shared one
        lines = {r.aid: r.line_type for r in D.lines(feats, "foo").collect()}
        assert lines == {0: "outer", 1: "foo", 2: "outer"}

    def test_2x2_grid_field_boundaries(self, spark):
        # shapes: tl [[0,1,2]], tr [[3,4,~1]], bl [[~2,5,6]], br [[~4,7,~5]]
        feats = spark.createDataFrame(
            [("a", [[0, 1, 2]]), ("a", [[3, 4, -2]]),
             ("b", [[-3, 5, 6]]), ("b", [[-5, 7, -6]])],
            "foo string, parts array<array<int>>")
        lines = {r.aid: r.line_type for r in D.lines(feats, "foo").collect()}
        # shared arcs: 1 (be, a|a), 2 (ed, a|b), 4 (fe, a|b), 5 (eh, b|b)
        assert lines[1] == "inner"
        assert lines[2] == "foo"
        assert lines[4] == "foo"
        assert lines[5] == "inner"
        assert {k for k, v in lines.items() if v == "outer"} == {0, 3, 6, 7}
        # -innerlines (no field): every shared arc
        inner = sorted(r.aid for r in D.innerlines(feats, "foo").collect()
                       if True)
        assert set(inner) <= {1, 2, 4, 5}


class TestPointsParity:
    def test_interpolated_points_golden(self, spark):
        # points-test.js "interpolated points": interval=200 over a path with
        # short segments; remainder carries across segments
        from mapshaper_spark.operators import paths as P2
        df = spark.createDataFrame(
            [(0, [[0.0, 300.0, 300.0, 300.0, 300.0, 300.0]],
              [[0.0, 0.0, 300.0, 310.0, 311.0, 600.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.points_interpolated(df, "fid", 200.0).orderBy("seq").collect()
        got = [(r.x, r.y) for r in out]
        assert got == [(0.0, 0.0), (200.0, 0.0), (300.0, 100.0),
                       (300.0, 300.0), (300.0, 500.0), (300.0, 600.0)]

    def test_vertices_golden(self, spark):
        # points-test.js "-points vertices": ring closing vertex dropped
        from mapshaper_spark.operators import paths as P2
        df = spark.createDataFrame(
            [(0, [[2.0, 3.0, 2.0, 2.0]], [[2.0, 2.0, 1.0, 2.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.points_vertices(df, "fid").orderBy("vertex_idx").collect()
        assert [(r.x, r.y) for r in out] == [(2.0, 2.0), (3.0, 2.0), (2.0, 1.0)]

    def test_interpolated_km_units(self, spark):
        # points-test.js "interval in km" on webmercator: 2km == 2000 units
        from mapshaper_spark.operators import paths as P2
        from mapshaper_spark.geom import units as U
        interval = U.convert_distance_param("2km", "webmercator")
        assert interval == 2000.0
        df = spark.createDataFrame(
            [(0, [[100.0, 100.0]], [[100.0, 10000.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.points_interpolated(df, "fid", interval).orderBy("seq").collect()
        assert [(r.x, r.y) for r in out] == [
            (100.0, 100.0), (100.0, 2100.0), (100.0, 4100.0),
            (100.0, 6100.0), (100.0, 8100.0), (100.0, 10000.0)]


class TestSplitOnGridParity:
    def test_single_point_degenerate_bounds(self, spark):
        # split-on-grid-test.js: one point, auto layer bounds (degenerate)
        # -> cell "r0c0"
        from mapshaper_spark.operators import grid as G2
        pts = spark.createDataFrame([(1, 1.0, 1.0)], "pid int, x double, y double")
        out = G2.split_on_grid(pts, 3, 3, bbox=L.bounds(pts), x="x", y="y",
                               id_field="cell_id").collect()
        assert out[0].cell_id == "r0c0"

    def test_two_points_opposite_cells(self, spark):
        # (0,0) -> r0c0, (1,1) on the max corner clamps into r1c1
        from mapshaper_spark.operators import grid as G2
        pts = spark.createDataFrame([(1, 0.0, 0.0), (2, 1.0, 1.0)],
                                    "pid int, x double, y double")
        out = {r.pid: r.cell_id for r in
               G2.split_on_grid(pts, 2, 2, bbox=L.bounds(pts), x="x", y="y",
                                id_field="cell_id").collect()}
        assert out == {1: "r0c0", 2: "r1c1"}


class TestUniqParity:
    def test_remove_duplicate_ids(self, spark):
        # uniq-test.js: first occurrence per value survives
        df = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "a"), (3, "a")], "idx int, foo string") \
            .withColumn(A.ROW_IDX, F.col("idx"))
        out = sorted(r.idx for r in A.uniq(df, F.col("foo"), 1).collect())
        assert out == [0, 1]

    def test_max_count_2(self, spark):
        df = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "a"), (3, "a")], "idx int, foo string") \
            .withColumn(A.ROW_IDX, F.col("idx"))
        out = sorted(r.idx for r in A.uniq(df, F.col("foo"), 2).collect())
        assert out == [0, 1, 2]


class TestFilterIslandsParity:
    def test_donut_hole_polygons_not_removed(self, spark):
        # filter-islands-test.js:6-45: the small diamond is both a
        # standalone polygon AND the donut hole of the big one -> protected
        # at ANY threshold
        from mapshaper_spark.operators import paths as P2
        inner_x = [3.0, 4.0, 3.0, 2.0, 3.0]
        inner_y = [4.0, 3.0, 2.0, 3.0, 4.0]
        outer_x = [3.0, 5.0, 3.0, 1.0, 3.0]
        outer_y = [5.0, 3.0, 1.0, 3.0, 5.0]
        df = spark.createDataFrame(
            [(0, [inner_x], [inner_y]),
             (1, [outer_x, inner_x[::-1]], [outer_y, inner_y[::-1]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.filter_islands(df, min_area=1e13).collect()
        assert len(out) == 2
        assert {r.fid: len(r.rings_x) for r in out} == {0: 1, 1: 2}

    def test_min_area_golden(self, spark):
        # filter-islands-test.js:75-86: rect (area 100) kept, tiny triangle
        # removed at min-area=1
        from mapshaper_spark.operators import paths as P2
        df = spark.createDataFrame(
            [(0, [[1.0, 1.0, 2.0, 2.0, 1.0], [1.0, 1.0, 2.0, 1.0]],
              [[100.0, 200.0, 200.0, 100.0, 100.0], [1.0, 2.0, 1.0, 1.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.filter_islands(df, min_area=1.0).collect()
        assert len(out) == 1
        assert len(out[0].rings_x) == 1
        assert out[0].rings_y[0][0] == 100.0

    def test_min_vertices_golden(self, spark):
        # filter-islands-test.js:88-99: min-vertices=4 removes the 3-vertex
        # triangle, keeps the 4-vertex rect
        from mapshaper_spark.operators import paths as P2
        df = spark.createDataFrame(
            [(0, [[1.0, 1.0, 2.0, 2.0, 1.0], [1.0, 1.0, 2.0, 1.0]],
              [[100.0, 200.0, 200.0, 100.0, 100.0], [1.0, 2.0, 1.0, 1.0]])],
            "fid int, rings_x array<array<double>>, rings_y array<array<double>>")
        out = P2.filter_islands(df, min_vertices=4).collect()
        assert len(out) == 1
        assert len(out[0].rings_x) == 1


class TestPointGridParity:
    def test_rows_cols_golden(self, spark):
        # point-grid-test.js:8-28: bbox=10,10,20,20 2,2 -> cell centers
        from mapshaper_spark.operators import grid as G2
        out = sorted((r.x, r.y) for r in
                     G2.point_grid(spark, 2, 2, (10.0, 10.0, 20.0, 20.0)).collect())
        assert out == [(12.5, 12.5), (12.5, 17.5), (17.5, 12.5), (17.5, 17.5)]

    def test_interval_golden(self, spark):
        # point-grid-test.js:33-53: interval=5 on the same bbox -> same grid
        from mapshaper_spark.operators import grid as G2
        out = sorted((r.x, r.y) for r in
                     G2.point_grid_interval(spark, 5.0, (10.0, 10.0, 20.0, 20.0)).collect())
        assert out == [(12.5, 12.5), (12.5, 17.5), (17.5, 12.5), (17.5, 17.5)]


class TestJoinCalcParity:
    """join-calc-test.js goldens: the calc vocabulary over matched source
    subsets, run through join_attributes' calc= path (records :9-15)."""

    def _join(self, spark, keys, calc):
        # target key 1 matches the given source subset
        src_rows = [("41", 500, 0), ("41", 300, 1), ("51", 500, 2),
                    ("51", 450, 3), ("51", 150, 4)]
        src = spark.createDataFrame(
            [(r[0], r[1], r[2], 1 if r[2] in keys else -1) for r in src_rows],
            "fips string, area int, idx int, k int")
        tgt = spark.createDataFrame([(1,)], "k int")
        return J.join_attributes(tgt, src, ("k", "k"), calc=calc,
                                 source_order="idx").collect()[0]

    def test_multiple_uses_subset_123(self, spark):
        # f([1,2,3]) -> {min_area: 300, fips_mode: '51', a: '41', b: '51',
        #                med: 450}
        r = self._join(spark, {1, 2, 3},
                       {"a": ("first", "fips"), "b": ("last", "fips"),
                        "min_area": ("min", "area"),
                        "fips_mode": ("mode", "fips"),
                        "med": ("median", "area")})
        assert r.min_area == 300
        assert r.fips_mode == "51"
        assert r.med == 450.0

    def test_single_row_subset(self, spark):
        # f([0]) -> {min_area: 500, fips_mode: '41', a: '41', b: '41', med: 500}
        r = self._join(spark, {0},
                       {"a": ("first", "fips"), "b": ("last", "fips"),
                        "min_area": ("min", "area"),
                        "fips_mode": ("mode", "fips"),
                        "med": ("median", "area")})
        assert (r.a, r.b, r.min_area, r.fips_mode, r.med) == \
            ("41", "41", 500, "41", 500.0)

    def test_unmatched_target_gets_nulls_zero_count(self, spark):
        # getJoinCalc null-input golden: count -> 0 via joins, aggs -> null
        src = spark.createDataFrame([("41", 500, 7)], "fips string, area int, k int")
        tgt = spark.createDataFrame([(1,)], "k int")
        r = J.join_attributes(tgt, src, ("k", "k"),
                              calc={"n": ("count", "area"),
                                    "min_area": ("min", "area"),
                                    "tot_area": ("sum", "area")}).collect()[0]
        assert r.joins == 0
        assert r.min_area is None
        assert r.n is None  # no matched group (reference: n=0 via count())


class TestSortParity:
    def test_stable_multi_sort_golden(self, spark, tmp_path):
        # sort-test.js:5-12: sort by name, then by rank descending — the
        # second sort must be STABLE so ties keep name order
        csv = tmp_path / "s.csv"
        csv.write_text("name,rank\nbeta,0\nzeta,1\nalpha,0\ngamma,1\n"
                       "delta,1\ntheta,0\n")
        df = DL.import_delim(spark, str(csv))
        # Spark orderBy is not stable; the reference's stable re-sort ==
        # sorting by (rank desc, name asc) after an initial name sort
        once = A.sort(df, F.col("name"))
        out = once.orderBy(F.desc("rank"), F.col("name")).collect()
        got = [(r.name, r.rank) for r in out]
        assert got == [("delta", 1), ("gamma", 1), ("zeta", 1),
                       ("alpha", 0), ("beta", 0), ("theta", 0)]

    def test_sort_ascending_descending(self, spark):
        df = spark.createDataFrame([(-1,), (5,), (4,)], "foo int")
        asc = [r.foo for r in A.sort(df, F.col("foo")).collect()]
        desc = [r.foo for r in A.sort(df, F.col("foo"), ascending=False).collect()]
        assert asc == [-1, 4, 5]
        assert desc == [5, 4, -1]


class TestSliverThresholdParity:
    def test_calc_max_sliver_area_golden(self, spark):
        # filter-slivers-test.js:7-11: "ignores relatively long segments"
        # -> calcMaxSliverArea(arcs2) == 1 (all unit segments count; the
        # 3-long and bounding segments are excluded by the extent/2 rule)
        from mapshaper_spark.operators.paths import calc_max_sliver_area
        coords = [
            (0, [3.0, 2.0, 2.0], [1.0, 1.0, 2.0]),
            (1, [2.0, 3.0], [3.0, 3.0]),
            (2, [1.0, 4.0, 4.0], [3.0, 3.0, 0.0]),
        ]
        from pyspark.sql import functions as F2
        arcs = spark.createDataFrame(
            coords, "arc_id long, xs array<double>, ys array<double>") \
            .withColumn("bbox", F2.struct(
                F2.array_min("xs").alias("xmin"), F2.array_min("ys").alias("ymin"),
                F2.array_max("xs").alias("xmax"), F2.array_max("ys").alias("ymax")))
        # dataset bounds come from per-arc bboxes: global (1,0)-(4,3)
        assert calc_max_sliver_area(arcs) == pytest.approx(1.0)


class TestParseNumberParity:
    """utils.parseNumber cases from delim-import-test.js:238-295."""

    def test_parse_number_table(self):
        pn = DL.parse_number
        assert pn(None) is None
        assert pn("") is None
        assert pn(" ") is None
        assert pn("1e3") == 1000
        assert pn("-43.2") == -43.2
        assert pn("+43.2") == 43.2
        assert pn("-2.0  ") == -2
        assert pn("  0") == 0
        assert pn("3,211") == 3211
        assert pn("-2,000,000.0  ") == -2e6
        assert pn("1.3e3") == 1.3e3
        assert pn("Alphabet") is None
        assert pn("0xcc") == 0xcc
        assert pn("312 Orchard St") is None
        assert pn("2013-12-03") is None


class TestDelimImportParity:
    """importDelim field-typing cases from delim-import-test.js:75-140."""

    def _imp(self, spark, tmp_path, text, **kw):
        p = tmp_path / "in.csv"
        p.write_text(text)
        df = DL.import_delim(spark, str(p), **kw)
        return df, df.collect()

    def test_empty_fields(self, spark, tmp_path):
        # delim-import-test.js 'handle empty fields': present-but-empty
        # imports as '' in a string column, null in a promoted numeric one
        df, rows = self._imp(spark, tmp_path, "number,name\n3,foo\n,\n")
        assert [(r.number, r.name) for r in rows] == \
            [(3, "foo"), (None, "")]

    def test_missing_fields_filled_with_nulls(self, spark, tmp_path):
        # delim-import-test.js 'missing fields are filled out with nulls':
        # a short row's absent trailing fields are null (NOT ''), while a
        # present-but-empty cell on a full row is ''
        df, rows = self._imp(spark, tmp_path,
                             "ID,STATE,VALUE\n1\n2,WA,300\n3,,\n")
        # ID and VALUE promote numeric ('' and missing both -> null there);
        # STATE stays string: missing -> null, present-empty -> ''
        assert [(r.ID, r.STATE, r.VALUE) for r in rows] == \
            [(1.0, None, None), (2.0, "WA", 300.0), (3.0, "", None)]

    def test_data_line_equal_to_the_header_is_data(self, spark, tmp_path):
        # only the file's first line is the header
        df, rows = self._imp(spark, tmp_path, "a,b\n1,2\na,b\n3,4\n")
        assert [(r.a, r.b) for r in rows] == \
            [("1", "2"), ("a", "b"), ("3", "4")]

    def test_extra_fields_dropped(self, spark, tmp_path):
        # delim-import-test.js 'extra fields are dropped'
        df, rows = self._imp(spark, tmp_path, "ID,STATE\nx,OR,3000\ny,WA\n")
        assert [(r.ID, r.STATE) for r in rows] == [("x", "OR"), ("y", "WA")]

    def test_rfc4180_doubled_quotes_and_embedded_delims(self, spark,
                                                        tmp_path):
        # d3-dsv quoting: "" escapes a quote; delimiters inside quotes
        # are data and must not confuse the empty-vs-missing field count
        df, rows = self._imp(
            spark, tmp_path,
            'a,b,c\np,"he said ""hi""",2\nq,"x,y",\nr,,"z"\n')
        assert [(r.a, r.b, r.c) for r in rows] == \
            [("p", 'he said "hi"', "2"), ("q", "x,y", ""), ("r", "", "z")]

    def test_numeric_with_empty_first_record(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, 'a,b,c\n,"",0\n3,4,5')
        assert [(r.a, r.b, r.c) for r in rows] == \
            [(None, None, 0), (3, 4, 5)]

    def test_numeric_with_whitespace(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, "a\tb\tc\n 3\t4 \t  5  ")
        assert [(r.a, r.b, r.c) for r in rows] == [(3.0, 4.0, 5.0)]

    def test_na_and_nan_values(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path,
                             'a,b,c,d\n  NA,4,NA,NaN\n3,"NA",NA,9')
        got = {(r.a, r.b, r.c, r.d) for r in rows}
        # a,b,d promote with NA/NaN -> null; c is all-NA -> stays string
        assert got == {(None, 4.0, "NA", None), (3.0, None, "NA", 9.0)}

    def test_string_when_first_value_numeric(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, "a,b\n2,0\n4a,8x")
        assert sorted((r.a, r.b) for r in rows) == [("2", "0"), ("4a", "8x")]

    def test_type_hints_prevent_autodetect(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, "a\tb\tc\n3\t4\t5",
                             field_types={"a": "str", "b": "string"})
        r = rows[0]
        assert (r.a, r.b, r.c) == ("3", "4", 5)

    def test_type_hints_force_numeric(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, "a\tb\tc\nfour\t\t5",
                             field_types={"a": "num", "b": "number"})
        r = rows[0]
        assert (r.a, r.b, r.c) == (None, None, 5)

    def test_ignore_unnamed_columns(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, ",foo,\na,b,c\n")
        assert df.columns == ["foo"]
        assert rows[0].foo == "b"

    def test_ignore_whitespace_column_names(self, spark, tmp_path):
        df, rows = self._imp(spark, tmp_path, " ,  ,foo, \na,b,c,d\n")
        assert df.columns == ["foo"]
        assert rows[0].foo == "c"

    def test_cli_field_types_option(self, spark, tmp_path):
        # delim-import-test.js:227-236 '-i field-types= works with :str'
        from mapshaper_spark.cli import run_commands
        p = tmp_path / "d.csv"
        p.write_text("a,b\n1,2\n")
        cat = run_commands(spark, f"-i {p} field-types=a:str")
        r = cat.df().collect()[0]
        assert (r.a, r.b) == ("1", 2)


class TestUnitsParity:
    """units-test.js parseMeasure()/conversion cases."""

    def test_parse_measure_table(self):
        from mapshaper_spark.geom.units import parse_measure_full as pm
        assert pm("5km") == {"units": "kilometers", "areal": False,
                             "value": 5}
        assert pm("5000 km2") == {"units": "kilometers", "areal": True,
                                  "value": 5000}
        assert pm("5.0sqkm") == {"units": "kilometers", "areal": True,
                                 "value": 5}
        assert pm("10000ft") == {"units": "feet", "areal": False,
                                 "value": 10000}
        assert pm("1e5 feet") == {"units": "feet", "areal": False,
                                  "value": 100000}
        assert pm("1e5") == {"value": 100000}
        assert pm("2.43e3 m2") == {"units": "meters", "areal": True,
                                   "value": 2430}
        assert pm("5000 miles") == {"value": 5000, "units": "miles",
                                    "areal": False}
        assert pm("5000mi") == {"value": 5000, "units": "miles",
                                "areal": False}
        for bad in ("a", "", "30 hectares"):
            with pytest.raises(ValueError):
                pm(bad)

    def test_conversion_factors(self):
        from mapshaper_spark.geom.units import interval_conversion_factor as k
        assert k(None, None) == 1
        assert k(None, "wgs84") == 1
        assert k("kilometers", "wgs84") == 1000
        assert k("meters", "wgs84") == 1
        assert k("feet", "wgs84") == 0.3048
        assert k("miles", "wgs84") == 1609.344
        with pytest.raises(Exception):
            k("hectares", "wgs84")
        with pytest.raises(Exception):
            k("kilometers", None)
        with pytest.raises(Exception):
            k("meters", None)

    def test_convert_area_param(self):
        from mapshaper_spark.geom.units import convert_area_param
        assert convert_area_param("20km2", "wgs84") == 20e6

    def test_distance_param_rejects_area(self):
        from mapshaper_spark.geom.units import convert_distance_param
        with pytest.raises(ValueError, match="area"):
            convert_distance_param("5km2", "wgs84")
        assert convert_distance_param("0.5km", "wgs84") == 500
