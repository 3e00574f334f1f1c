"""Reference integration tests transcribed through apply_commands.

Each case is a near-verbatim port of an api.applyCommands test from
/root/reference/test/ (file:line cited per test) — same command string,
same in-memory inputs, same expected output. Row order is compared
order-insensitively where the reference relies on single-threaded
first-encounter order (documented deviation: a distributed engine
guarantees set semantics, not encounter order).
"""

import json

import pytest

from mapshaper_spark.cli import apply_commands


def _rows(payload):
    return json.loads(payload)


def _csv_lines(payload):
    lines = payload.strip().split("\n")
    return lines[0], sorted(lines[1:])


class TestJoinParity:
    # /root/reference/test/join-test.js:17-24
    def test_fields_star_includes_source_key(self, spark):
        out = apply_commands(
            spark, "a.csv -join b.csv keys=id,key fields=* -o",
            {"a.csv": "id,name\n1,foo", "b.csv": "key,score\n1,100"})
        assert _csv_lines(out["a.csv"]) == ("id,name,key,score",
                                            ["1,foo,1,100"])

    # join-test.js:26-33
    def test_excludes_source_key_by_default(self, spark):
        out = apply_commands(
            spark, "a.csv -join b.csv keys=id,key -o",
            {"a.csv": "id\n1", "b.csv": "key,score\n1,100"})
        assert _csv_lines(out["a.csv"]) == ("id,score", ["1,100"])

    # join-test.js:35-44
    def test_calc_fills_unmatched(self, spark):
        out = apply_commands(
            spark,
            'a.csv -join b.csv keys=id,id calc="JOINS=count(), '
            'AVG=average(id)" -o format=json',
            {"a.csv": "id\n1\n2", "b.csv": "id\n1"})
        rows = sorted(_rows(out["a.json"]), key=lambda r: r["id"])
        assert rows[0] == {"id": 1, "JOINS": 1, "AVG": 1.0}
        assert rows[1] == {"id": 2, "JOINS": 0, "AVG": None}

    # join-test.js:46-54
    def test_calc_supersedes_fields(self, spark):
        out = apply_commands(
            spark,
            'a.csv -join b.csv keys=id,id calc="COUNT=count()" '
            'fields=COUNT -o format=json',
            {"a.csv": "id\n1\n2", "b.csv": "id,COUNT\n1,45\n1,35"})
        rows = sorted(_rows(out["a.json"]), key=lambda r: r["id"])
        assert rows == [{"id": 1, "COUNT": 2}, {"id": 2, "COUNT": 0}]

    # join-test.js:56-64
    def test_empty_fields_copies_nothing(self, spark):
        out = apply_commands(
            spark,
            'a.csv -join b.csv keys=id,id calc="COUNT=count()" fields= '
            "-o format=json",
            {"a.csv": "id\n1", "b.csv": "id,PARTIAL,TOTAL\n1,4,35"})
        assert _rows(out["a.json"]) == [{"id": 1, "COUNT": 1}]

    # join-test.js:66-74
    def test_calc_same_field_in_and_out(self, spark):
        out = apply_commands(
            spark,
            'a.csv -join b.csv keys=id,id calc="COUNT=sum(COUNT)" '
            "-o format=json",
            {"a.csv": "id\n1", "b.csv": "id,COUNT\n1,4\n1,3"})
        assert _rows(out["a.json"]) == [{"id": 1, "COUNT": 7}]


class TestDissolveParity:
    # /root/reference/test/dissolve-test.js:11-18 (order-insensitive:
    # the reference keeps first-encounter order, a documented deviation)
    def test_dissolve_csv_three_fields(self, spark):
        src = ("id1,id2,id3\na,1,x\na,1,x\na,2,x\nb,1,x\nb,2,x\nb,2,x\n"
               "c,2,x\na,1,y\na,1,y")
        out = apply_commands(
            spark, "-i in.csv -dissolve id1,id2,id3 -o out.csv",
            {"in.csv": src})
        header, lines = _csv_lines(out["out.csv"])
        assert header == "id1,id2,id3"
        assert lines == sorted(
            ["a,1,x", "a,2,x", "b,1,x", "b,2,x", "c,2,x", "a,1,y"])


class TestCalcParity:
    # /root/reference/test/calc-test.js:9-17: -calc results are available
    # to subsequent -each expressions
    def test_calc_feeds_each(self, spark):
        data = [{"a": 1}, {"a": 3}]
        out = apply_commands(
            spark,
            '-i data.json -calc "SUM = sum(a)" '
            '-each "pct = a / SUM * 100" -o format=json',
            {"data.json": json.dumps(data)})
        rows = sorted(_rows(out["data.json"]), key=lambda r: r["a"])
        assert [r["pct"] for r in rows] == [25.0, 75.0]


class TestEachParity:
    # /root/reference/test/each-calc-test.js:10-25 (new numeric/string
    # fields on every record)
    def test_each_creates_fields(self, spark):
        out = apply_commands(
            spark, "-i d.json -each 'FOO=0' -o format=json",
            {"d.json": json.dumps([{"id": 1}, {"id": 2}])})
        assert all(r["FOO"] == 0 for r in _rows(out["d.json"]))

    def test_each_sequential_assignments(self, spark):
        # each.js: later assignments see earlier results
        out = apply_commands(
            spark, "-i d.json -each 'B = A * 2, C = B + 1' -o format=json",
            {"d.json": json.dumps([{"A": 5}])})
        assert _rows(out["d.json"]) == [{"A": 5, "B": 10, "C": 11}]


class TestGeoJsonRoundtrip:
    # import -> filter -> export parity on a FeatureCollection (the
    # reference's most common applyCommands shape, e.g. filter-test.js)
    def test_filter_geojson_roundtrip(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"name": "a", "v": 1},
             "geometry": {"type": "Polygon", "coordinates":
                          [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}},
            {"type": "Feature", "properties": {"name": "b", "v": 2},
             "geometry": {"type": "Polygon", "coordinates":
                          [[[2, 0], [3, 0], [3, 1], [2, 1], [2, 0]]]}},
        ]}
        out = apply_commands(
            spark, "-i in.json -filter 'name == \"b\"' -o out.json",
            {"in.json": json.dumps(gj)})
        obj = json.loads(out["out.json"])
        assert obj["type"] == "FeatureCollection"
        assert len(obj["features"]) == 1
        f = obj["features"][0]
        assert f["properties"]["name"] == "b"
        ring = f["geometry"]["coordinates"][0]
        assert ring[0] == [2, 0] and len(ring) == 5


class TestSortParity:
    # /root/reference/test/sort-test.js:5-12: a later -sort is STABLE with
    # respect to the previous order (delta/gamma/zeta keep name order
    # within rank=1). Exact string parity including row order.
    def test_sort_stable_across_calls(self, spark):
        csv = "name,rank\nbeta,0\nzeta,1\nalpha,0\ngamma,1\ndelta,1\ntheta,0"
        target = ("name,rank\ndelta,1\ngamma,1\nzeta,1\nalpha,0\nbeta,0\n"
                  "theta,0")
        out = apply_commands(
            spark, "in.csv -sort name -sort rank descending -o out.csv",
            {"in.csv": csv})
        assert out["out.csv"].strip() == target


class TestClipBboxParity:
    # /root/reference/test/clip-erase-test.js:38-58: LineString clipped to
    # bbox=1,0,2,2 -> [[1,1],[2,1]]. A field-less layer exports as a
    # GeometryCollection, exactly like the reference's own expected output.
    def test_clip_line_to_bbox(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "LineString",
                          "coordinates": [[0, 1], [5, 1]]}}]}
        out = apply_commands(
            spark, "-i in.json -clip bbox=1,0,2,2 -o out.json",
            {"in.json": json.dumps(gj)})
        obj = json.loads(out["out.json"])
        assert len(obj["geometries"]) == 1
        g = obj["geometries"][0]
        assert g["type"] == "LineString"
        assert g["coordinates"] == [[1, 1], [2, 1]]

    # clip-erase-test.js:60-72: degenerate bbox raises (UserError there)
    def test_invalid_bbox_raises(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "LineString",
                          "coordinates": [[0, 1], [5, 1]]}}]}
        with pytest.raises(ValueError, match="invalid bbox"):
            apply_commands(spark, "-i in.json -clip bbox=1,0,1,2",
                           {"in.json": json.dumps(gj)})


class TestPointGeoJson:
    # point FeatureCollections route through the point clip/export paths
    # (dissolve-points-test.js / point-clipping semantics)
    def test_point_clip_and_roundtrip(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"id": i},
             "geometry": {"type": "Point", "coordinates": [float(i), 1.0]}}
            for i in range(6)]}
        out = apply_commands(
            spark, "-i p.json -clip bbox=1.5,0,4.5,2 -o out.json",
            {"p.json": json.dumps(gj)})
        obj = json.loads(out["out.json"])
        ids = sorted(f["properties"]["id"] for f in obj["features"])
        assert ids == [2, 3, 4]
        assert all(f["geometry"]["type"] == "Point"
                   for f in obj["features"])


class TestShapeCreationParity:
    # /root/reference/test/point-grid-test.js:8-31
    def test_point_grid_rows_cols(self, spark):
        out = apply_commands(
            spark, "-point-grid bbox=10,10,20,20 2,2 -o out.json", {})
        pts = sorted(tuple(g["coordinates"]) for g in _geoms(out["out.json"])
                     if g["type"] == "Point")
        assert pts == [(12.5, 12.5), (12.5, 17.5), (17.5, 12.5), (17.5, 17.5)]

    # /root/reference/test/point-grid-test.js:33-56
    def test_point_grid_interval(self, spark):
        out = apply_commands(
            spark, "-point-grid bbox=10,10,20,20 interval=5 -o out.json", {})
        pts = sorted(tuple(g["coordinates"]) for g in _geoms(out["out.json"])
                     if g["type"] == "Point")
        assert pts == [(12.5, 12.5), (12.5, 17.5), (17.5, 12.5), (17.5, 17.5)]

    # /root/reference/test/shape-test.js:16-25
    def test_rectangle_bbox_offset(self, spark):
        out = apply_commands(
            spark, "-rectangle bbox=1,1,4,4 offset=1 -o out.json", {})
        ring = _first_geom(out["out.json"])["coordinates"][0]
        assert ring == [[0, 0], [0, 5], [5, 5], [5, 0], [0, 0]]

    # /root/reference/test/shape-test.js:28-37
    def test_shape_polyline_from_offsets(self, spark):
        out = apply_commands(
            spark,
            "-shape coordinates=10,10 offsets=0,10,10,0,0,-10 -o out.json",
            {})
        g = _first_geom(out["out.json"])
        assert g["type"] == "LineString"
        assert g["coordinates"] == [[10, 10], [10, 20], [20, 20], [20, 10]]

    # /root/reference/test/shape-test.js:39-48
    def test_shape_closed_polygon_from_offsets(self, spark):
        out = apply_commands(
            spark,
            "-shape coordinates=10,10 offsets=0,10,10,0,0,-10 closed "
            "-o out.json", {})
        g = _first_geom(out["out.json"])
        assert g["type"] == "Polygon"
        assert g["coordinates"][0] == \
            [[10, 10], [10, 20], [20, 20], [20, 10], [10, 10]]

    # /root/reference/test/shape-test.js:50-59
    def test_shape_polygon_from_coordinates(self, spark):
        out = apply_commands(
            spark,
            "-shape coordinates=10,10,10,20,20,20,20,10,10,10 -o out.json",
            {})
        g = _first_geom(out["out.json"])
        assert g["type"] == "Polygon"
        assert g["coordinates"][0] == \
            [[10, 10], [10, 20], [20, 20], [20, 10], [10, 10]]


def _geoms(payload):
    """All geometry objects of a GeoJSON payload, whatever the container
    shape (GeometryCollection / FeatureCollection / bare geometry)."""
    obj = json.loads(payload)
    if obj.get("type") == "GeometryCollection":
        return obj["geometries"]
    if obj.get("type") == "FeatureCollection":
        return [f["geometry"] for f in obj["features"]]
    return [obj]


def _first_geom(payload):
    return _geoms(payload)[0]


class TestDataFillParity:
    # /root/reference/test/data-fill-test.js:7-42 ('' counts as missing)
    def test_simple_two_boxes(self, spark):
        inp = {
            "type": "FeatureCollection",
            "features": [{
                "type": "Feature", "properties": {"state": ""},
                "geometry": {"type": "Polygon", "coordinates":
                             [[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]]},
            }, {
                "type": "Feature", "properties": {"state": "IL"},
                "geometry": {"type": "Polygon", "coordinates":
                             [[[1, 0], [1, 1], [2, 1], [2, 0], [1, 0]]]},
            }],
        }
        out = apply_commands(
            spark, "-i polygons.json -data-fill field=state -o",
            {"polygons.json": json.dumps(inp)})
        feats = json.loads(out["polygons.json"])["features"]
        states = sorted(f["properties"]["state"] for f in feats)
        assert states == ["IL", "IL"]


def _norm_ring(coords, tol=0.0):
    """Ring cycle -> canonical form: drop the closing vertex, round, rotate
    so the lexicographically smallest vertex leads, orient so the second
    vertex is the smaller of the two neighbors (start-vertex and direction
    independent)."""
    pts = [tuple(round(v, 9) for v in p) for p in coords[:-1]]
    i = pts.index(min(pts))
    pts = pts[i:] + pts[:i]
    if len(pts) > 2 and pts[-1] < pts[1]:
        pts = [pts[0]] + pts[1:][::-1]
    return pts


class TestPolygonsParity:
    # /root/reference/test/polygons-test.js:7-27 (tic-tac-toe board)
    def test_tictactoe_center_cell(self, spark):
        inp = {"type": "MultiLineString",
               "coordinates": [[[1, 0], [1, 3]], [[2, 0], [2, 3]],
                               [[3, 1], [0, 1]], [[0, 2], [3, 2]]]}
        out = apply_commands(spark, "in.json -polygons -o out.json",
                             {"in.json": json.dumps(inp)})
        polys = [g for g in _geoms(out["out.json"]) if g["type"] == "Polygon"]
        assert len(polys) == 1
        assert _norm_ring(polys[0]["coordinates"][0]) == \
            _norm_ring([[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]])

    # /root/reference/test/polygons-test.js:29-49 (gaps + gap-tolerance)
    def test_tictactoe_with_gaps(self, spark):
        inp = {"type": "MultiLineString",
               "coordinates": [[[1, 0], [1, 1.9]], [[2, 1.1], [2, 3]],
                               [[3, 1], [1.1, 1]], [[0, 2], [3, 2]]]}
        out = apply_commands(
            spark, "in.json -polygons gap-tolerance 0.11 -o out.json",
            {"in.json": json.dumps(inp)})
        polys = [g for g in _geoms(out["out.json"]) if g["type"] == "Polygon"]
        assert len(polys) == 1
        got = _norm_ring(polys[0]["coordinates"][0])
        want = _norm_ring([[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]])
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert abs(g[0] - w[0]) < 1e-9 and abs(g[1] - w[1]) < 1e-9


class TestDropParity:
    # /root/reference/test/drop-test.js:20-28 (removes one of two layers)
    def test_drop_named_target(self, spark):
        out = apply_commands(
            spark, "-i a.csv b.csv combine-files -drop target=a -o",
            {"a.csv": "a,b,c,d\n1,2,3,4\n", "b.csv": "e\n5\n"})
        assert list(out) == ["b.csv"]
        assert out["b.csv"].strip() == "e\n5"

    # /root/reference/test/drop-test.js:30-38 (removes implicit target)
    def test_drop_implicit_target(self, spark):
        out = apply_commands(
            spark, "-i a.csv -i b.csv -drop -o",
            {"a.csv": "a,b,c,d\n1,2,3,4\n", "b.csv": "e\n5\n"})
        assert list(out) == ["a.csv"]
        assert out["a.csv"].strip() == "a,b,c,d\n1,2,3,4"

    # /root/reference/test/drop-test.js:72-85 (-rectangle after -drop target=*)
    def test_rectangle_after_drop_all(self, spark):
        out = apply_commands(
            spark,
            "-i a.csv b.csv combine-files -drop target=* "
            "-rectangle bbox=0,0,1,1 -o target=* format=geojson",
            {"a.csv": "a,b,c,d\n1,2,3,4\n", "b.csv": "e\n5\n"})
        assert list(out) == ["rectangle.json"]
        ring = _first_geom(out["rectangle.json"])["coordinates"][0]
        assert ring == [[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]


class TestStyleParity:
    # /root/reference/test/svg-style-test.js:7-27 (both command spellings)
    def test_style_r_literal_both_names(self, spark):
        for cmd in ("-svg-style r=2", "-style r=2"):
            out = apply_commands(
                spark, f"-i data.json {cmd} -o",
                {"data.json": json.dumps([{"name": "foo"}])})
            rows = json.loads(out["data.json"])
            assert len(rows) == 1
            assert rows[0]["name"] == "foo" and rows[0]["r"] == 2

    # /root/reference/test/svg-style-test.js:77-103 (field/expression/
    # ternary values resolve per record; literals pass through)
    def test_style_expressions(self, spark):
        recs = [{"foo": 2, "bar": "a", "baz": "white"},
                {"foo": 0.5, "bar": "b", "baz": "black"}]
        out = apply_commands(
            spark,
            "-i data.json -style stroke=baz 'stroke-width=foo / 2' "
            "'fill=bar == \"a\" ? \"pink\" : \"green\"' -o",
            {"data.json": json.dumps(recs)})
        rows = sorted(json.loads(out["data.json"]), key=lambda r: r["bar"])
        assert rows[0]["stroke"] == "white" and rows[0]["stroke-width"] == 1
        assert rows[0]["fill"] == "pink"
        assert rows[1]["stroke"] == "black" and rows[1]["stroke-width"] == 0.25
        assert rows[1]["fill"] == "green"

    # /root/reference/test/svg-style-test.js:106-123
    def test_style_literals(self, spark):
        out = apply_commands(
            spark,
            "-i data.json -style stroke=#222222 stroke-width=4 "
            "'fill=rgba(255,255,255,0.2)' -o",
            {"data.json": json.dumps([{"id": 1}])})
        row = json.loads(out["data.json"])[0]
        assert row["stroke"] == "#222222"
        assert row["stroke-width"] == 4
        assert row["fill"] == "rgba(255,255,255,0.2)"


class TestFilterGeomParity:
    # /root/reference/test/filter-geom-test.js:43-68 (polyline layer:
    # PART-level filtering inside a MultiLineString; emptied features drop)
    def test_polyline_parts_filtered(self, spark):
        lines = {
            "type": "GeometryCollection",
            "geometries": [{
                "type": "MultiLineString",
                "coordinates": [[[0, 0], [0, -10]], [[180, -1], [179, -2]],
                                [[-180, 90], [-180, 89]]],
            }, {
                "type": "LineString",
                "coordinates": [[10, -10], [11, -11]],
            }],
        }
        out = apply_commands(
            spark, "-i lines.json -filter-geom bbox=-180,0,180,90 -o",
            {"lines.json": json.dumps(lines)})
        geoms = _geoms(out["lines.json"])
        parts = sorted(tuple(map(tuple, g["coordinates"]))
                       if g["type"] == "LineString"
                       else tuple(tuple(map(tuple, p)) for p in g["coordinates"])
                       for g in geoms)
        flat = []
        for g in geoms:
            cc = g["coordinates"] if g["type"] == "MultiLineString" else [g["coordinates"]]
            flat.extend(tuple(map(tuple, p)) for p in cc)
        assert sorted(flat) == sorted([
            ((0, 0), (0, -10)), ((-180, 90), (-180, 89))])


class TestKeepShapesParity:
    # /root/reference/test/keep-shapes-test.js:8-34 (Issue #228: island
    # shapes survive -simplify 0% keep-shapes verbatim)
    def test_island_preserved_at_zero_pct(self, spark):
        poly = {"type": "Polygon",
                "coordinates": [[[0, 0], [0, 1], [0.5, 0], [0, -1], [0, 0]]]}
        out = apply_commands(
            spark, "-i poly.json -simplify keep-shapes dp 0% -o",
            {"poly.json": json.dumps(poly)})
        got = _first_geom(out["poly.json"])
        assert got["type"] == "Polygon"
        assert _norm_ring(got["coordinates"][0]) == \
            _norm_ring(poly["coordinates"][0])

    def test_tiny_positive_area_island(self, spark):
        poly = {"type": "Polygon",
                "coordinates": [[[-1e-11, 0], [0, 1], [0.5, 0], [0, -1],
                                 [-1e-11, 0]]]}
        out = apply_commands(
            spark, "-i poly.json -simplify keep-shapes dp 0% -o",
            {"poly.json": json.dumps(poly)})
        got = _first_geom(out["poly.json"])
        assert _norm_ring(got["coordinates"][0]) == \
            _norm_ring(poly["coordinates"][0])


class TestRenameLayersParity:
    """rename-layers-test.js: quoted field names, multi-layer targeting,
    and the last-name + counter fan-out rule."""

    # rename-layers-test.js:6-13 field names with spaces, in quotes
    def test_rename_fields_spaces_quoted(self, spark):
        csv = 'County FIPS,"State FIPS"\n10001,10'
        out = apply_commands(
            spark, '-i csv.csv -rename-fields '
            '"CFIPS=County FIPS,SFIPS=State FIPS" -o format=json',
            {"csv.csv": csv})
        assert json.loads(out["csv.json"]) == [{"CFIPS": 10001, "SFIPS": 10}]

    # rename-layers-test.js:15-21 alternate quoting
    def test_rename_fields_spaces_alt_quotes(self, spark):
        csv = 'County FIPS,"State FIPS"\n10001,10'
        out = apply_commands(
            spark, '-i csv.csv -rename-fields CFIPS="County FIPS",'
            'SFIPS="State FIPS" -o format=json', {"csv.csv": csv})
        assert json.loads(out["csv.json"]) == [{"CFIPS": 10001, "SFIPS": 10}]

    # rename-layers-test.js:23-37 all layers targeted by default
    def test_all_layers_targeted(self, spark):
        a = {"type": "Polygon",
             "coordinates": [[[0, 0], [0, 1], [1, 0], [0, 0]]]}
        b = {"type": "Point", "coordinates": [3, 3]}
        out = apply_commands(
            spark, "-i a.json -i b.json -rename-layers c,d -o target=*",
            {"a.json": json.dumps(a), "b.json": json.dumps(b)})
        ga = json.loads(out["c.json"])["geometries"][0]
        gb = json.loads(out["d.json"])["geometries"][0]
        assert ga["type"] == "Polygon" and gb == b

    # rename-layers-test.js:39-50 '+' layer from -dissolve is renamed too
    def test_matches_unnamed_layer(self, spark):
        a = {"type": "Polygon",
             "coordinates": [[[0, 0], [0, 1], [1, 0], [0, 0]]]}
        out = apply_commands(
            spark, "-i a.json -dissolve + -rename-layers c,d -o target=*",
            {"a.json": json.dumps(a)})
        for key in ("c.json", "d.json"):
            geoms = json.loads(out[key])["geometries"]
            assert len(geoms) == 1
            assert geoms[0]["type"] == "Polygon"
            ring = geoms[0]["coordinates"][0]
            assert sorted(map(tuple, ring[:-1])) == [(0, 0), (0, 1), (1, 0)]

    # rename-layers-test.js:59-73 last name + count when more layers
    def test_counter_fanout(self, spark):
        a = {"type": "Point", "coordinates": [0, 0]}
        b = {"type": "Point", "coordinates": [1, 1]}
        out = apply_commands(
            spark, "-i a.json -i b.json -rename-layers only -o target=*",
            {"a.json": json.dumps(a), "b.json": json.dumps(b)})
        assert "only1.json" in out and "only2.json" in out

    # rename-layers-test.js:82-94 layer1, layer2 defaults with no names
    def test_default_names(self, spark):
        a = {"type": "Point", "coordinates": [0, 0]}
        b = {"type": "Point", "coordinates": [1, 1]}
        out = apply_commands(
            spark, "-i a.json -i b.json -rename-layers -o target=*",
            {"a.json": json.dumps(a), "b.json": json.dumps(b)})
        assert "layer1.json" in out and "layer2.json" in out


class TestExportParity:
    # export-test.js:8-21: multi-dataset svg output must not mutate the
    # original layers (box + -rectangle source=box -> one merged.svg,
    # then each layer re-exported unchanged)
    def test_svg_merge_does_not_modify_sources(self, spark):
        box = {"type": "Polygon",
               "coordinates": [[[1, 0], [0, 1], [1, 2], [2, 1], [1, 0]]]}
        out = apply_commands(
            spark, "-i box.json -rectangle source=box "
            "-o target=box,rectangle merged.svg "
            "-o format=geojson target=rectangle -o format=geojson target=box",
            {"box.json": json.dumps(box)})
        assert len(out["merged.svg"]) > 0
        got_box = json.loads(out["box.json"])["geometries"][0]
        got_rect = json.loads(out["rectangle.json"])["geometries"][0]
        assert got_box["coordinates"] == [[[1, 0], [0, 1], [1, 2], [2, 1],
                                           [1, 0]]]
        assert got_rect["coordinates"] == [[[0, 0], [0, 2], [2, 2], [2, 0],
                                            [0, 0]]]


class TestAffineParity:
    """affine-test.js: where= targeting, clockwise rotate about anchor,
    scale about the default bounds-center anchor."""

    # affine-test.js:9-39 'separates two connected polygons'
    def test_shift_with_where(self, spark):
        geo = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"name": "a"},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0, 1], [1, 0], [0, 0], [0, 1]]]}},
            {"type": "Feature", "properties": {"name": "b"},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0, 1], [1, 1], [1, 0], [0, 1]]]}}]}
        out = apply_commands(
            spark, "-i polygons.json -affine shift=2,1 'where=name==\"b\"' "
            "-o out.json", {"polygons.json": json.dumps(geo)})
        feats = json.loads(out["out.json"])["features"]
        by = {f["properties"]["name"]: f["geometry"]["coordinates"]
              for f in feats}
        assert by["a"] == [[[0, 1], [1, 0], [0, 0], [0, 1]]]
        assert by["b"] == [[[2, 2], [3, 2], [3, 1], [2, 2]]]

    # affine-test.js:41-52 'rotates a point around an origin'
    def test_rotate_about_anchor(self, spark):
        geo = {"type": "Point", "coordinates": [2, 2]}
        out = apply_commands(
            spark, "-i point.json -affine rotate=90 anchor=2,1 -o out.json",
            {"point.json": json.dumps(geo)})
        g = json.loads(out["out.json"])["geometries"][0]
        assert [round(v, 9) for v in g["coordinates"]] == [3, 1]

    # affine-test.js:55-67 'apply scale to two points' (default anchor =
    # bounds center)
    def test_scale_default_anchor(self, spark):
        geo = {"type": "MultiPoint", "coordinates": [[2, 2], [4, 4]]}
        out = apply_commands(
            spark, "-i point.json -affine scale=2 -o out.json",
            {"point.json": json.dumps(geo)})
        g = json.loads(out["out.json"])["geometries"][0]
        assert g["coordinates"] == [[1, 1], [5, 5]]


class TestSplitParity:
    # split-test.js:7-15: -split STATE on two_states -> two one-shape
    # layers, source consumed; names '<layer>-<value>' (splitLayer naming,
    # split-test.js:19-37)
    def test_split_two_states(self, spark):
        base = "/root/reference/test/test_data/two_states"
        files = {f"two_states{ext}": open(base + ext, "rb").read()
                 for ext in (".shp", ".shx", ".dbf")}
        out = apply_commands(
            spark, "-i two_states.shp -split STATE -o format=geojson target=*",
            files)
        assert len(out) == 2
        for name, payload in out.items():
            assert name.startswith("two_states-")
            obj = json.loads(payload)
            feats = obj.get("features") or obj.get("geometries")
            assert len(feats) == 1


class TestGeojsonBboxExport:
    """geojson-test.js:550-599: -o bbox adds the collection bbox member."""

    def test_points_with_bbox(self, spark):
        geo = {"type": "GeometryCollection", "geometries": [
            {"type": "Point", "coordinates": [0, 1]},
            {"type": "MultiPoint", "coordinates": [[2, 3], [1, 4]]}]}
        out = apply_commands(spark, "-i g.json -o bbox out.json",
                             {"g.json": json.dumps(geo)})
        obj = json.loads(out["out.json"])
        assert obj["bbox"] == [0, 1, 2, 4]
        types = sorted(g["type"] for g in obj["geometries"])
        assert types == ["MultiPoint", "Point"]

    def test_polygons_with_bbox(self, spark):
        geo = {"type": "GeometryCollection", "geometries": [
            {"type": "Polygon",
             "coordinates": [[[1, 1], [1, 3], [2, 3], [1, 1]]]},
            {"type": "Polygon",
             "coordinates": [[[-1, 1], [0, 1], [0, 0], [-1, 1]]]}]}
        out = apply_commands(spark, "-i g.json -o bbox out.json",
                             {"g.json": json.dumps(geo)})
        obj = json.loads(out["out.json"])
        assert obj["bbox"] == [-1, 0, 2, 3]
        assert len(obj["geometries"]) == 2


class TestJsonTableParity:
    """json-table-test.js: JSON record arrays as tables; format=json drops
    geometry and exports the data table of any layer."""

    # json-table-test.js:20-26 'json -> csv'
    def test_json_to_csv(self, spark):
        out = apply_commands(spark, "-i t.json -o format=csv",
                             {"t.json": json.dumps([{"id": 0}, {"id": 1}])})
        assert _csv_lines(out["t.csv"]) == ("id", ["0", "1"])

    # json-table-test.js:28-50 'geojson -> json'
    def test_geojson_to_json_records(self, spark):
        geo = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "geometry": None, "properties": {"id": "a"}},
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [0, 0]},
             "properties": {"id": "b"}}]}
        out = apply_commands(spark, "-i g.json -o format=json",
                             {"g.json": json.dumps(geo)})
        recs = json.loads(out["g.json"])
        assert sorted(recs, key=lambda r: r["id"]) == [{"id": "a"},
                                                       {"id": "b"}]


class TestMergeLayersParity:
    """merge-layers-test.js: target= selects sources, the merged layer
    replaces them; force aligns mismatched fields; empty layers merge."""

    # merge-layers-test.js:9-21 'handles empty layers'
    def test_handles_empty_layers(self, spark):
        data = {"a.csv": "id\n1", "b.csv": "id\n2", "c.csv": "id\n3",
                "d.csv": "id\n4"}
        out = apply_commands(
            spark, "-i a.csv -filter false -i b.csv c.csv combine-files "
            "-i d.csv -merge-layers target=* -o out.csv", data)
        assert _csv_lines(out["out.csv"]) == ("id", ["2", "3", "4"])

    # merge-layers-test.js:24-32 'force flag works'
    def test_force_flag(self, spark):
        out = apply_commands(
            spark, "a.csv b.csv combine-files -merge-layers target=* force "
            "-o c.csv", {"a.csv": "id\na", "b.csv": "ID\nb"})
        assert _csv_lines(out["c.csv"]) == ("id,ID", [",b", "a,"])

    # merge-layers-test.js:35-48 'merging layers from multiple datasets'
    def test_merge_subset_replaces_sources(self, spark):
        data = {"a.csv": "FIPS\n36", "b.csv": "FIPS\n34", "c.csv": "FIPS\n52"}
        out = apply_commands(
            spark, "-i a.csv -i b.csv -i c.csv "
            "-merge-layers target=b,c name=bc -o target=*", data)
        assert sorted(out) == ["a.csv", "bc.csv"]
        assert _csv_lines(out["a.csv"]) == ("FIPS", ["36"])
        assert _csv_lines(out["bc.csv"]) == ("FIPS", ["34", "52"])

    # merge-layers-test.js:50-65 'default target after merge is the merge'
    def test_merged_layer_is_default_target(self, spark):
        data = {"a.csv": "FIPS\n36", "b.csv": "FIPS\n34", "c.csv": "FIPS\n52"}
        out = apply_commands(
            spark, "-i a.csv b.csv combine-files -i c.csv "
            "-merge-layers target=b,c name=bc -each 'FIPS=null' "
            "-o target=*", data)
        assert sorted(out) == ["a.csv", "bc.csv"]
        assert _csv_lines(out["a.csv"]) == ("FIPS", ["36"])
        # raw compare: _csv_lines strip()s trailing empty lines away; two
        # all-null records are two empty lines after the header
        assert out["bc.csv"] == "FIPS\n\n"

    # merge-layers-test.js:67-80 'merge all datasets'
    def test_merge_all(self, spark):
        data = {"a.csv": "FIPS\n36", "b.csv": "FIPS\n34", "c.csv": "FIPS\n52"}
        out = apply_commands(
            spark, "-i a.csv -i b.csv -i c.csv "
            "-merge-layers target=* name=abc -o target=*", data)
        assert list(out) == ["abc.csv"]
        assert _csv_lines(out["abc.csv"]) == ("FIPS", ["34", "36", "52"])


class TestTargetParity:
    """target-test.js: -target by name / layer number / type=, name= rename,
    and error semantics."""

    def _fixtures(self):
        base = "/root/reference/test/test_data"
        files = {f"three_points{ext}": open(f"{base}/three_points{ext}",
                                            "rb").read()
                 for ext in (".shp", ".shx", ".dbf", ".prj")}
        files["states.csv"] = open(f"{base}/text/states.csv").read()
        return files

    # target-test.js:6-12
    def test_target_second_dataset_by_name(self, spark):
        out = apply_commands(
            spark, "-i three_points.shp -i states.csv -target states -o",
            self._fixtures())
        assert "states.csv" in out

    # target-test.js:14-21
    def test_target_by_layer_number(self, spark):
        out = apply_commands(
            spark, "-i three_points.shp -i states.csv -target 1 -o",
            self._fixtures())
        assert "three_points.shp" in out
        assert "three_points.dbf" in out
        assert "three_points.prj" in out

    # target-test.js:23-29
    def test_target_third_layer_by_number(self, spark):
        out = apply_commands(
            spark, "-i three_points.shp -filter true + -i states.csv "
            "-target 3 -o", self._fixtures())
        assert list(out) == ["states.csv"]

    # target-test.js:31-38
    def test_target_name_option_renames(self, spark):
        out = apply_commands(
            spark, "-i three_points.shp -target 1 name=a -o format=geojson",
            self._fixtures())
        assert json.loads(out["a.json"])["type"] == "FeatureCollection"

    # target-test.js:40-46 / 48-54
    def test_target_errors(self, spark):
        with pytest.raises(ValueError):
            apply_commands(spark, "-i three_points.shp -target states",
                           self._fixtures())

    # target-test.js:57-73 select target by type
    def test_target_by_type(self, spark):
        raw = open("/root/reference/test/test_data/issues/177/"
                   "mixed_feature.json").read()
        out = apply_commands(
            spark, "-i mixed_feature.json -target type=point -o point.json",
            {"mixed_feature.json": raw})
        fc = json.loads(out["point.json"])
        assert fc == {
            "type": "FeatureCollection",
            "features": [{"type": "Feature", "properties": {"name": "A"},
                          "geometry": {"type": "MultiPoint",
                                       "coordinates": [[0, 1], [2, 3]]}}]}

    # target-test.js:75-82 select by name AND type
    def test_target_by_name_and_type(self, spark):
        raw = open("/root/reference/test/test_data/issues/177/"
                   "mixed_feature.json").read()
        out = apply_commands(
            spark, "-i mixed_feature.json name=features "
            "-target features type=point -o point.json",
            {"mixed_feature.json": raw})
        assert out["point.json"]


class TestIssueRegressions:
    """Transcribed reference issue regression tests (test/issue-*.js)."""

    def test_issue_160_svg_after_simplify(self, spark):
        # issue-160-test.js:21-26: '-i two_states_mercator.shp -simplify 10%
        # -o precision=100 format=svg final' must produce SVG (the reference
        # crashed when SVG precision-rounding ran after -simplify dropped
        # the threshold data)
        base = "/root/reference/test/test_data/two_states_mercator"
        files = {f"two_states_mercator{ext}": open(base + ext, "rb").read()
                 for ext in (".shp", ".shx", ".dbf", ".prj")}
        out = apply_commands(
            spark, "-i two_states_mercator.shp -simplify 10% "
            "-o precision=100 format=svg final", files)
        svg = out["two_states_mercator.svg"]
        assert svg.startswith('<?xml version="1.0"?>')
        assert "<path d=" in svg
        # precision=100 snaps every pixel coordinate to a multiple of 100
        import re as _re
        for tok in _re.findall(r'<path d="([^"]+)"', svg):
            nums = [float(v) for v in tok.replace("M", " ").replace("Z", " ")
                    .split()]
            assert all(abs(v / 100 - round(v / 100)) < 1e-9 for v in nums)

    def test_issue_236_geojson_crs_member(self, spark):
        # issue-236-test.js: FeatureCollection carrying a top-level 'crs'
        # member (after 'features') must import its features intact
        raw = open("/root/reference/test/test_data/issues/236/point.geojson"
                   ).read()
        out = apply_commands(spark, "-i point.geojson -o out.json",
                             {"point.geojson": raw})
        fc = json.loads(out["out.json"])
        feats = fc["features"]
        assert len(feats) == 1
        assert feats[0]["properties"] == {"name": "Niagara Falls"}
        x, y = feats[0]["geometry"]["coordinates"]
        assert (round(x, 6), round(y, 6)) == (-79.044118, 43.087714)

    def test_issue_247_svg_layer_ids(self, spark):
        # issue-247-test.js:8-19: '-points vertices + name=vertices
        # -o target=vertices,line graphic.svg' -> one SVG, one <g> per layer
        line = json.dumps({"type": "LineString",
                           "coordinates": [[0, 0], [2, 1]]})
        out = apply_commands(
            spark, "-i line.json -points vertices + name=vertices "
            "-o target=vertices,line graphic.svg", {"line.json": line})
        svg = out["graphic.svg"]
        import re as _re
        assert _re.search(r'<g[^>]* id="vertices"', svg)
        assert _re.search(r'<g[^>]* id="line"', svg)

    def test_issue_161_simplify_shrinks_svg(self, spark):
        # issue-161-test.js:7-12: -o a.svg -simplify 10% -o b.svg
        shp = open("/root/reference/test/test_data/two_states.shp", "rb").read()
        dbf = open("/root/reference/test/test_data/two_states.dbf", "rb").read()
        out = apply_commands(
            spark, "-i two_states.shp -o a.svg -simplify 10% -o b.svg",
            {"two_states.shp": shp, "two_states.dbf": dbf})
        assert len(out["a.svg"]) > len(out["b.svg"])

    def test_issue_171_dollar_amp_in_attribute(self, spark):
        # issue-171-test.js: '$&' inside a property must not corrupt output
        geojson = json.dumps({"type": "Feature", "properties": {"foo": " $& "},
                              "geometry": {"type": "Point",
                                           "coordinates": [1.0, 2.0]}})
        out = apply_commands(spark, "-i input.json -o output.json",
                             {"input.json": geojson})
        parsed = json.loads(out["output.json"])  # throws if invalid
        feats = parsed.get("features", [])
        assert feats and feats[0]["properties"]["foo"] == " $& "

    def test_issue_174_merge_layers_no_attributes(self, spark):
        # issue-174-test.js: geometry-only layers export a GeometryCollection
        a = json.dumps({"type": "Point", "coordinates": [0.0, 0.0]})
        out = apply_commands(spark, "-i 1.json -merge-layers -o out.json",
                             {"1.json": a})
        parsed = json.loads(out["out.json"])
        assert parsed["type"] == "GeometryCollection"
        assert parsed["geometries"] == [
            {"type": "Point", "coordinates": [0.0, 0.0]}]

    def test_issue_192_clip_polyline_with_null_geometry(self, spark):
        # issue-192-test.js: clipping a polyline layer containing a null
        # geometry doesn't error; the line clips to the polygon
        a = json.dumps({
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "properties": {},
                 "geometry": {"type": "LineString",
                              "coordinates": [[0, 1], [10, 1]]}},
                {"type": "Feature", "properties": {}, "geometry": None}]})
        b = json.dumps({"type": "Polygon",
                        "coordinates": [[[1, 0], [1, 2], [2, 2], [2, 0],
                                         [1, 0]]]})
        out = apply_commands(spark, "-i b.json -i a.json -clip b -o a.json",
                             {"a.json": a, "b.json": b})
        geom = json.loads(out["a.json"])
        coords = (geom["geometries"][0]["coordinates"]
                  if geom["type"] == "GeometryCollection"
                  else geom["features"][0]["geometry"]["coordinates"])
        assert coords == [[1, 1], [2, 1]]

    def test_issue_269_field_order_preserved(self, spark):
        # issue-269-field-order.js: joined fields follow local fields;
        # created fields follow original fields
        from mapshaper_spark.sources.shapefile import read_dbf
        out = apply_commands(
            spark, "-i a.csv -join b.csv keys=id,id -o format=dbf",
            {"a.csv": "id,N,M\n1,n,m",
             "b.csv": "id,Z,Y,X,A,B,C\n1,z,y,x,a,b,c"})
        recs = read_dbf(out["a.dbf"])
        assert list(recs[0].keys()) == list("id,N,M,Z,Y,X,A,B,C".split(","))
        out2 = apply_commands(
            spark, "-i a.csv -each 'C = \"c\", X = \"x\"' -o format=dbf",
            {"a.csv": "A,Z,B,Y\na,z,b,y"})
        recs2 = read_dbf(out2["a.dbf"])
        assert list(recs2[0].keys()) == list("A,Z,B,Y,C,X".split(","))

    def test_issue_193_proj_writes_new_prj(self, spark, tmp_path):
        # issue-193-test.js: -proj wgs84 emits a WGS84 .prj on export
        import shutil
        for ext in (".shp", ".dbf", ".prj"):
            shutil.copy("/root/reference/test/test_data/two_states_mercator" + ext,
                        tmp_path / ("m" + ext))
        from mapshaper_spark.cli import run_commands
        out_shp = tmp_path / "out.shp"
        run_commands(spark, f"-i {tmp_path}/m.shp -proj wgs84 -o {out_shp}")
        prj = (tmp_path / "out.prj").read_text()
        assert "WGS" in prj and prj.startswith("GEOGCS")

    def test_issue_166_prj_preserved_through_merge(self, spark):
        # issue-166-test.js: .prj preserved after combine-files +
        # -merge-layers, whichever input carries it
        d = "/root/reference/test/test_data/issues/166/"
        prj = open(d + "a_utm.prj").read()
        files = {}
        for stem in ("a_utm", "b_utm", "c_utm"):
            for ext in (".shp", ".dbf", ".prj"):
                import os as _os
                if _os.path.exists(d + stem + ext):
                    files[stem + ext] = open(d + stem + ext, "rb").read()
        files = {k: v for k, v in files.items()}
        # text prj for writing convenience
        files["a_utm.prj"] = prj
        out = apply_commands(
            spark, "-i a_utm.shp c_utm.shp combine-files -merge-layers "
                   "-o out.shp", files)
        assert out["out.prj"].strip() == prj.strip()
        out2 = apply_commands(
            spark, "-i c_utm.shp a_utm.shp combine-files -merge-layers "
                   "-o out.shp", files)
        assert out2["out.prj"].strip() == prj.strip()


class TestDelimExportParity:
    """delim-export-test.js: output encoding=, delimiter preservation,
    field-order=ascending, and import/export round-trips."""

    # delim-export-test.js:11-21 (latin-1: é survives, CJK -> ???)
    def test_output_encoding_latin1(self, spark):
        out = apply_commands(
            spark, "-i input.csv -o output.csv encoding=latin-1",
            {"input.csv": "foo,bar\nétranger,外国人"})
        assert out["output.csv"].decode("latin-1") == "foo,bar\nétranger,???"

    # delim-export-test.js:22-30
    def test_output_encoding_ascii(self, spark):
        out = apply_commands(
            spark, "-i input.csv -o output.csv encoding=ascii",
            {"input.csv": "foo,bar\nétranger,外国人"})
        payload = out["output.csv"]
        if isinstance(payload, bytes):  # pure-ascii bytes read back as str
            payload = payload.decode("ascii")
        assert payload == "foo,bar\n?tranger,???"

    # delim-export-test.js:31-39
    def test_output_encoding_utf16be(self, spark):
        out = apply_commands(
            spark, "-i input.csv -o output.csv encoding=utf-16be",
            {"input.csv": "foo,bar\nétranger,外国人"})
        assert out["output.csv"].decode("utf-16-be") == \
            "foo,bar\nétranger,外国人"

    # delim-export-test.js:78-85 field-order=ascending is case-insensitive
    def test_field_order_ascending(self, spark):
        out = apply_commands(
            spark, "-i input.csv -o field-order=ascending",
            {"input.csv": "Z,A,b,D,c\nfoo,foo,foo,foo,bar"})
        assert out["input.csv"] == "A,b,c,D,Z\nfoo,foo,bar,foo,foo"

    # delim-export-test.js:92-96 strings and numbers are preserved
    def test_roundtrip_numbers(self, spark):
        out = apply_commands(spark, "-i input.csv -o",
                             {"input.csv": "a,b,c\nfoo,0,3"})
        assert out["input.csv"] == "a,b,c\nfoo,0,3"

    # delim-export-test.js:98-101 semicolons are preserved through the
    # sniffed input_delimiter
    def test_roundtrip_semicolons(self, spark):
        out = apply_commands(spark, "-i input.csv -o",
                             {"input.csv": "a;b;c\nfoo;0.3;0"})
        assert out["input.csv"] == "a;b;c\nfoo;0.3;0"

    def test_roundtrip_pipes_and_tabs(self, spark):
        out = apply_commands(spark, "-i input.csv -o",
                             {"input.csv": "a|b|c\nfoo|0.3|0"})
        assert out["input.csv"] == "a|b|c\nfoo|0.3|0"
        # tab delimiter names the pathless output .tsv
        out = apply_commands(spark, "-i input.csv -o",
                             {"input.csv": "a\tb\nfoo\t1"})
        assert out["input.tsv"] == "a\tb\nfoo\t1"

    # delim-export-test.js:103-106 empty strings are preserved
    def test_roundtrip_empty_strings(self, spark):
        out = apply_commands(spark, "-i input.csv -o",
                             {"input.csv": "a,b,c\nfoo,3,\n,,"})
        assert out["input.csv"] == "a,b,c\nfoo,3,\n,,"


class TestJoinIsModeParity:
    # join-filter-test.js:28-31: isMode(fips) keeps candidates carrying the
    # modal value of the group ('51' appears 3x vs '41' 1x)
    def test_is_mode(self, spark):
        a = "id\n1"
        b = ("id,fips,area\n"
             "1,41,300\n1,51,500\n1,51,450\n1,51,150")
        out = apply_commands(
            spark, '-i a.csv -join b.csv keys=id,id where="isMode(fips)" '
                   "fields=fips,area -o format=json",
            {"a.csv": a, "b.csv": b})
        rows = _rows(out["a.json"])
        # first-match copy out of the three modal-51 candidates
        assert rows[0]["fips"] == 51
        assert rows[0]["area"] in (500, 450, 150)


class TestClippingBugParity:
    # x_clipping_bug.js:11-25: polygon vanished after bbox clipping along
    # an almost-parallel segment (y = -1.7e-18 vs bbox edge y = 0)
    def test_almost_parallel_bbox_clip(self, spark):
        polygon = {"type": "Polygon", "coordinates": [[
            [-0.9, 0.4], [-0.4, 0.4], [-0.4, 0],
            [-0.9, -1.734723475976807e-18], [-0.9, 0.4]]]}
        out = apply_commands(
            spark, "-i in.json -clip bbox=-1,0,0,1 -o out.json",
            {"in.json": json.dumps(polygon)})
        obj = json.loads(out["out.json"])
        coords = obj["geometries"][0]["coordinates"][0]
        # ring-rotation-invariant compare (documented deviation: our rings
        # start at clip intersections, the reference keeps arc order)
        expect = [[-0.9, 0.4], [-0.4, 0.4], [-0.4, 0], [-0.9, 0]]
        got = coords[:-1]
        assert len(got) == len(expect) and coords[0] == coords[-1]
        k = got.index(expect[0])
        assert got[k:] + got[:k] == expect


class TestFilterRenameFieldsParity:
    # filter-rename-fields-test.js:12-18: bare -filter-fields drops ALL
    # data fields
    def test_filter_fields_drops_all(self, spark):
        base = "/root/reference/test/test_data/two_states"
        files = {f"two_states{ext}": open(base + ext, "rb").read()
                 for ext in (".shp", ".shx", ".dbf")}
        out = apply_commands(
            spark, "-i two_states.shp -filter-fields -o format=geojson",
            files)
        obj = json.loads(out["two_states.json"])
        feats = obj.get("features") or obj.get("geometries")
        assert len(feats) == 2
        for f in feats:
            assert f.get("properties") in (None, {})

    # filter-rename-fields-test.js:21-30: renamed fields keep positions
    def test_rename_fields_order(self, spark):
        base = "/root/reference/test/test_data/two_states"
        files = {f"two_states{ext}": open(base + ext, "rb").read()
                 for ext in (".shp", ".shx", ".dbf")}
        out = apply_commands(
            spark, "-i two_states.shp -rename-fields lat=LAT,lng=LONG "
                   "-o format=csv", files)
        header = out["two_states.csv"].split("\n")[0].split(",")
        assert header == ["lat", "lng", "STATE_NAME", "FIPS", "STATE"]


class TestExplodeParity:
    # explode.test.js:6-20: a MultiPoint feature explodes into one point
    # per coordinate, each copying the record
    def test_explode_multipoint(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"a": "foo", "b": "bar"},
             "geometry": {"type": "MultiPoint",
                          "coordinates": [[2, 3], [4, 5], [6, 7]]}}]}
        out = apply_commands(spark, "-i in.json -explode -o out.json",
                             {"in.json": json.dumps(gj)})
        feats = json.loads(out["out.json"])["features"]
        assert len(feats) == 3
        assert all(f["properties"] == {"a": "foo", "b": "bar"}
                   for f in feats)
        coords = sorted(f["geometry"]["coordinates"] for f in feats)
        assert coords == [[2, 3], [4, 5], [6, 7]]

    # explode.test.js:52-83: rings with holes are NOT separated — the hole
    # stays attached to its enclosing ring
    def test_explode_keeps_holes(self, spark):
        outer = [[3, 5], [5, 3], [3, 1], [1, 3], [3, 5]]
        hole = [[3, 4], [2, 3], [3, 2], [4, 3], [3, 4]]  # CCW inside
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"a": "bar"},
             "geometry": {"type": "Polygon",
                          "coordinates": [outer, hole]}}]}
        out = apply_commands(spark, "-i in.json -explode -o out.json",
                             {"in.json": json.dumps(gj)})
        feats = json.loads(out["out.json"])["features"]
        assert len(feats) == 1
        assert len(feats[0]["geometry"]["coordinates"]) == 2

    # explode.test.js:22-50: a multipolygon explodes per part
    def test_explode_multipolygon(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"id": 9},
             "geometry": {"type": "MultiPolygon", "coordinates": [
                 [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                 [[[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]]]}}]}
        out = apply_commands(spark, "-i in.json -explode -o out.json",
                             {"in.json": json.dumps(gj)})
        feats = json.loads(out["out.json"])["features"]
        assert len(feats) == 2
        assert all(f["properties"] == {"id": 9} for f in feats)


class TestRoundingParity:
    # rounding-test.js:87-98: the rounded coordinate STRINGIFIES clean
    # (round via the integer inverse, not multiply-by-increment)
    def test_rounding_stringify_clean(self, spark):
        gj = {"type": "GeometryCollection", "geometries": [
            {"type": "MultiPoint", "coordinates":
             [[0.1000000001, -77.2000000001], [33.2999999999, -33330.4],
              [77.5, 899222.5999999999], [1000000.7000001, -1000000.8]]}]}
        out = apply_commands(spark, "-i g.json -o precision=0.1 out.json",
                             {"g.json": json.dumps(gj)})
        txt = out["out.json"]
        for s in ("0.1", "-77.2", "33.3", "-33330.4", "77.5",
                  "899222.6", "1000000.7", "-1000000.8"):
            assert s in txt, s
        assert "0000000" not in txt and "9999999" not in txt

    # rounding-test.js:102-107: integer rounding, JS Math.round semantics
    # (-1.5 rounds toward +inf, to -1)
    def test_round_points_to_integer(self, spark):
        gj = {"type": "GeometryCollection", "geometries": [
            {"type": "MultiPoint",
             "coordinates": [[-0.1, 0.1], [0.5, -1.5]]}]}
        out = apply_commands(spark, "-i g.json -o precision=1 out.json",
                             {"g.json": json.dumps(gj)})
        pts = json.loads(out["out.json"])["geometries"][0]["coordinates"]
        assert pts == [[0, 0], [1, -1]]


class TestClipIssuesParity:
    """clip-issues-test.js — misc clipping regressions."""

    @staticmethod
    def _coords(payload):
        obj = json.loads(payload)
        if "features" in obj:
            return obj["features"][0]["geometry"]["coordinates"]
        return obj["geometries"][0]["coordinates"]

    # clip-issues-test.js:9-39: clipping layer `a` must not delete arcs of
    # the non-clipped layer `b` in the same dataset
    def test_non_clipped_layer_arcs_survive(self, spark):
        boxes = {
            "type": "Topology",
            "arcs": [
                [[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]],
                [[2, 0], [2, 1], [3, 1], [3, 0], [2, 0]]],
            "objects": {
                "a": {"type": "Polygon", "arcs": [[0]],
                      "properties": {"name": "a"}},
                "b": {"type": "Polygon", "arcs": [[1]],
                      "properties": {"name": "b"}},
            },
        }
        out = apply_commands(
            spark,
            "-i data.json -clip target=a bbox=-1,-1,1.5,1.5 "
            "-o format=geojson target=*",
            {"data.json": json.dumps(boxes)})
        a = self._coords(out["a.json"])
        b = self._coords(out["b.json"])
        assert a == [[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]]
        assert b == [[[2, 0], [2, 1], [3, 1], [3, 0], [2, 0]]]

    # clip-issues-test.js:41-61: the clipping layer's own arcs must come
    # through -o unmodified
    def test_clipping_layer_not_modified(self, spark):
        clipper = {"type": "Polygon",
                   "coordinates": [[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]]}
        clipped = {"type": "Polygon",
                   "coordinates": [[[0, 0], [0, 1], [2, 1], [2, 0], [0, 0]]]}
        out = apply_commands(
            spark, "-i clipper.json -i clipped.json -clip clipper "
            "-o target=*",
            {"clipper.json": json.dumps(clipper),
             "clipped.json": json.dumps(clipped)})
        assert self._coords(out["clipper.json"]) == \
            [[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]]
        assert self._coords(out["clipped.json"]) == \
            [[[0, 0], [0, 1], [1, 1], [1, 0], [0, 0]]]

    # clip-issues-test.js:64-80: polygon with a ~1e-19 vertex ordinate must
    # survive bbox clipping unchanged (all vertices inside the box)
    def test_almost_parallel_segments_1(self, spark):
        polygon = {"type": "Polygon", "coordinates": [[
            [-5, 0.4], [-4, 0.4], [-4, 8.673617379884035e-19],
            [-5, 0], [-5, 0.4]]]}
        out = apply_commands(spark, "-i p.json -clip bbox=-10,0,0,10 "
                             "-o out.json", {"p.json": json.dumps(polygon)})
        assert self._coords(out["out.json"]) == [[
            [-5, 0.4], [-4, 0.4], [-4, 8.673617379884035e-19],
            [-5, 0], [-5, 0.4]]]

    # clip-issues-test.js:82-94: a vertex dipping -1.7e-18 below the box
    # clamps to the boundary instead of deleting the polygon
    def test_almost_parallel_segments_2(self, spark):
        polygon = {"type": "Polygon", "coordinates": [[
            [-0.9, 0.4], [-0.4, 0.4], [-0.4, 0],
            [-0.9, -1.734723475976807e-18], [-0.9, 0.4]]]}
        out = apply_commands(spark, "-i p.json -clip bbox=-1,0,0,1 "
                             "-o out.json", {"p.json": json.dumps(polygon)})
        assert self._coords(out["out.json"]) == [[
            [-0.9, 0.4], [-0.4, 0.4], [-0.4, 0], [-0.9, 0], [-0.9, 0.4]]]

    # clip-issues-test.js:96-111: two simplified counties that had been
    # disappearing after bbox clipping both keep geometry
    def test_almost_parallel_segments_3(self, spark):
        gj = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "geometry": {"type": "Polygon",
             "coordinates": [[[-0.07743991381154576, -7.903170760234177],
                              [0.13322915296487942, -8.237697197954503],
                              [-0.27135433200713655, -8.532257229768865],
                              [-0.5600689007971446, -8.250514088134027],
                              [-0.07743991381154576, -7.903170760234177]]]},
             "properties": {"GEOID": "48481"}},
            {"type": "Feature", "geometry": {"type": "Polygon",
             "coordinates": [[[-0.07743991381154576, -7.903170760234177],
                              [0.1510172129721194, -7.718678964010099],
                              [0.5017038816766441, -7.922859553851434],
                              [0.13322915296487942, -8.237697197954503],
                              [-0.07743991381154576, -7.903170760234177]]]},
             "properties": {"GEOID": "48157"}}]}
        out = apply_commands(spark, "-i p.json -clip bbox=0,-90,90,90 "
                             "-o out.json", {"p.json": json.dumps(gj)})
        feats = json.loads(out["out.json"])["features"]
        assert len(feats) == 2
        assert all(f["geometry"] and f["geometry"]["coordinates"]
                   for f in feats)


class TestOptionParsingParity:
    """Transcribed from the reference's options-test.js import/output
    blocks: space-separated option values on -i/-o, files=, flag
    spellings, and whitespace-value rejection."""

    def test_space_separated_values(self):
        from mapshaper_spark.cli import parse_commands
        c = parse_commands("-i no-topology x.shp auto-snap precision 0.1")[0]
        assert c.values == ["x.shp"]
        assert c.flag("no-topology") and c.flag("auto-snap")
        assert c.opt("precision") == "0.1"
        c = parse_commands("-i f.shp snap-interval 1ft")[0]
        assert c.opt("snap-interval") == "1ft"
        c = parse_commands("file.shp name 'a b'")[0]
        assert c.name == "i" and c.values == ["file.shp"]
        assert c.opt("name") == "a b"

    def test_files_option(self):
        from mapshaper_spark.cli import parse_commands
        c = parse_commands("-i files=states.json,counties.json")[0]
        assert c.opt("files") == "states.json,counties.json"
        assert c.values == []

    def test_name_equals_forms(self):
        from mapshaper_spark.cli import parse_commands
        c = parse_commands("file.shp name=states")[0]
        assert c.opt("name") == "states"
        c = parse_commands("file.shp name=''")[0]
        assert c.opt("name") == ""
        c = parse_commands("file.shp name='a b'")[0]
        assert c.opt("name") == "a b"

    def test_missing_space_value_raises(self):
        import pytest as _pt
        from mapshaper_spark.cli import parse_commands
        with _pt.raises(ValueError):
            parse_commands("-i precision")  # options-test.js bad()
        with _pt.raises(ValueError):
            parse_commands("-i precision -o out.json")

    def test_o_space_values_and_flags(self):
        from mapshaper_spark.cli import parse_commands
        c = parse_commands("-o output.shp target points")[0]
        assert c.values == ["output.shp"] and c.opt("target") == "points"
        c = parse_commands("-o quantization 10000")[0]
        assert c.opt("quantization") == "10000"
        # bare 'bbox' stays a FLAG on -o (never eats the next token)
        c = parse_commands("-o bbox out.json")[0]
        assert c.flag("bbox") and c.values == ["out.json"]

    def test_expression_commands_not_eaten(self):
        from mapshaper_spark.cli import parse_commands
        # '-each' keeps bare words positional (the expression itself)
        c = parse_commands("-each 'precision = 3'")[0]
        assert c.values == ["precision = 3"]
        assert c.opt("precision") is None

    def test_files_option_imports_both(self, spark, tmp_path):
        import json as _json

        from mapshaper_spark.cli import run_commands
        for nm in ("a", "b"):
            fc = {"type": "FeatureCollection", "features": [
                {"type": "Feature", "properties": {"src": nm},
                 "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}]}
            (tmp_path / f"{nm}.json").write_text(_json.dumps(fc))
        cat = run_commands(
            spark, f"-i combine-files files={tmp_path}/a.json,"
                   f"{tmp_path}/b.json")
        assert len(cat.order) == 2


class TestBomTolerantImport:
    """The reference trims a UTF-8 BOM before parsing any text input
    (mapshaper-encodings.js readFile; encodings-test.js 'trims BOM');
    python's json module rejects a BOM, so imports go through utf-8-sig."""

    def test_geojson_with_bom(self, spark, tmp_path):
        import json as _json

        from mapshaper_spark.cli import run_commands
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"name": "x"},
             "geometry": {"type": "Point", "coordinates": [3.0, 4.0]}}]}
        p = tmp_path / "bom.json"
        p.write_bytes(b"\xef\xbb\xbf" + _json.dumps(fc).encode())
        cat = run_commands(spark, f"-i {p}")
        assert cat.df().count() == 1


class TestProjCrsParity:
    """proj-test.js: -proj aliases, from=, match=/source= resolution and
    .prj output plumbing."""

    BASE = "/root/reference/test/test_data"

    def _shp(self, stem, exts=(".shp", ".shx", ".dbf", ".prj")):
        files = {}
        for ext in exts:
            path = f"{self.BASE}/{stem}{ext}"
            files[f"{stem}{ext}"] = open(path, "rb").read()
        return files

    # proj-test.js:6-13 / :15-22
    def test_alias_webmercator_and_robinson(self, spark):
        for alias, word in (("webmercator", "Mercator"),
                            ("robinson", "Robinson")):
            out = apply_commands(
                spark, f"-i three_points.shp -proj {alias} -o",
                self._shp("three_points"))
            assert word in out["three_points.prj"], alias

    # :25-31 — assign a source projection to a bare .shp, then reproject
    def test_from_proj4_then_reproject(self, spark):
        files = self._shp("two_states_merc_copy", exts=(".shp",))
        out = apply_commands(
            spark,
            '-i two_states_merc_copy.shp -proj from="+proj=merc" '
            '+proj=robin -o robin.shp', files)
        assert "Robinson" in out["robin.prj"]

    # :33-39 — from= alone just sets the CRS
    def test_from_sets_crs_without_reprojecting(self, spark):
        files = self._shp("two_states_merc_copy", exts=(".shp",))
        out = apply_commands(
            spark,
            '-i two_states_merc_copy.shp -proj from="+proj=merc" '
            '-o merc.shp', files)
        assert "Mercator" in out["merc.prj"]

    # :50-56 — from= can be a .prj file
    def test_from_prj_file(self, spark):
        files = self._shp("two_states_merc_copy", exts=(".shp",))
        out = apply_commands(
            spark,
            f'-i two_states_merc_copy.shp -proj '
            f'from="{self.BASE}/two_states_mercator.prj" +proj=robin '
            f'-o robin.shp', files)
        assert "Robinson" in out["robin.prj"]

    # :70-76 / :78-84 — match= / source= can be a .prj file
    def test_match_and_source_prj_file(self, spark):
        for opt in ("match", "source"):
            out = apply_commands(
                spark,
                f"-i three_points.shp -proj "
                f"{opt}={self.BASE}/two_states_mercator.prj -o",
                self._shp("three_points"))
            assert "Mercator" in out["three_points.prj"], opt

    # :86-92 — match= can be a layer name
    def test_match_layer_name(self, spark):
        files = self._shp("two_states_mercator",
                          exts=(".shp", ".shx", ".dbf", ".prj"))
        files.update(self._shp("three_points"))
        out = apply_commands(
            spark,
            "-i two_states_mercator.shp name=states "
            "-i three_points.shp -proj match=states -o", files)
        assert "Mercator" in out["three_points.prj"]

    # :104-112 — output copies the .prj text from the match= source
    def test_output_copies_prj_from_match_source(self, spark):
        prj = open(f"{self.BASE}/two_states_mercator.prj").read()
        files = self._shp("two_states_mercator",
                          exts=(".shp", ".shx", ".dbf", ".prj"))
        files.update(self._shp("three_points"))
        out = apply_commands(
            spark,
            "-i two_states_mercator.shp name=states "
            "-i three_points.shp -proj match=states -o", files)
        assert out["three_points.prj"].strip() == prj.strip()


class TestMergeFilesParity:
    """merge-files-test.js cases."""

    BASE = "/root/reference/test/test_data"

    def test_issue_153_combine_files_shares_topology(self, spark):
        # two adjacent squares from separate files dissolve along the
        # shared boundary once combined (the reference's shared arc 0)
        a = open(f"{self.BASE}/issues/153/a.json").read()
        b = open(f"{self.BASE}/issues/153/b.json").read()
        out = apply_commands(
            spark,
            "-i combine-files a.json b.json -merge-layers -dissolve2 "
            "-o out.json", {"a.json": a, "b.json": b})
        feats = json.loads(out["out.json"])["features"]
        assert len(feats) == 1
        ring = feats[0]["geometry"]["coordinates"][0]
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        # dissolved footprint = the 2x1 rectangle, shared edge gone
        assert (min(xs), min(ys), max(xs), max(ys)) == (0.0, 0.0, 2.0, 1.0)

    def test_projected_plus_unprojected_throws(self, spark):
        files = {}
        for stem, exts in (("two_states_mercator",
                            (".shp", ".shx", ".dbf", ".prj")),
                           ("two_states", (".shp", ".shx", ".dbf", ".prj"))):
            for ext in exts:
                files[f"{stem}{ext}"] = open(
                    f"{self.BASE}/{stem}{ext}", "rb").read()
        with pytest.raises(ValueError, match="projected"):
            apply_commands(
                spark, "-i combine-files two_states_mercator.shp "
                "two_states.shp -o", files)


class TestPathImportParity:
    """path-import-test.js issue #125: open polygon rings are closed on
    import."""

    def test_open_rings_auto_closed(self, spark):
        src = {"type": "GeometryCollection", "geometries": [{
            "type": "Polygon",
            "coordinates": [[[0, 0], [0, 3], [3, 3], [3, 0]],
                            [[1, 1], [2, 1], [2, 2], [1, 2]]]}]}
        out = apply_commands(spark, "-i in.json -o out.json",
                             {"in.json": json.dumps(src)})
        coords = json.loads(out["out.json"])["geometries"][0]["coordinates"]
        assert coords == [
            [[0, 0], [0, 3], [3, 3], [3, 0], [0, 0]],
            [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]]


class TestShapefilePrjParity:
    """shapefile-test.js .prj cases."""

    BASE = "/root/reference/test/test_data"

    def _three_points(self):
        return {f"three_points{e}": open(f"{self.BASE}/three_points{e}",
                                         "rb").read()
                for e in (".shp", ".shx", ".dbf", ".prj")}

    def test_webmercator_emits_pseudo_mercator(self, spark):
        out = apply_commands(
            spark, "-i three_points.shp -proj webmercator -o",
            self._three_points())
        assert "Pseudo-Mercator" in out["three_points.prj"]

    def test_albersusa_emits_albers(self, spark):
        out = apply_commands(
            spark, "-i three_points.shp -proj albersusa -o",
            self._three_points())
        assert "Albers" in out["three_points.prj"]

    def test_unprojected_geojson_gets_wgs84_prj(self, spark):
        gj = open(f"{self.BASE}/three_points.geojson").read()
        out = apply_commands(
            spark, "-i three_points.geojson -o format=shapefile",
            {"three_points.geojson": gj})
        assert "WGS" in out["three_points.prj"]

    def test_no_prj_when_no_wkt_equivalent(self, spark):
        gj = open(f"{self.BASE}/three_points.geojson").read()
        out = apply_commands(
            spark,
            "-i three_points.geojson -proj +proj=boggs -o format=shapefile",
            {"three_points.geojson": gj})
        assert "three_points.prj" not in out
        assert "three_points.shp" in out


class TestGraticuleParity:
    """graticule-test.js."""

    def test_default_graticule_layer(self, spark):
        from mapshaper_spark.cli import run_commands
        cat = run_commands(spark, "-graticule")
        assert cat.target == "graticule"
        xs = cat.df().select("xs").limit(1).collect()[0].xs
        assert all(-180.0 <= v <= 180.0 for v in xs)

    def test_reprojected_to_dataset_crs(self, spark):
        from mapshaper_spark.cli import run_commands
        base = "/root/reference/test/test_data"
        import shutil, tempfile, os as _os
        d = tempfile.mkdtemp()
        for e in (".shp", ".shx", ".dbf", ".prj"):
            shutil.copy(f"{base}/three_points{e}", d)
        cat = run_commands(
            spark, f"-i {d}/three_points.shp -proj +proj=robin -graticule")
        assert cat.target == "graticule"
        g = cat.df()
        from pyspark.sql import functions as FF
        b = g.agg(FF.max(FF.array_max("xs"))).collect()[0][0]
        # projected Robinson coordinates are meters-scale, not degrees
        assert b > 1e6
        assert cat.layers["graticule"].crs == "+proj=robin"


class TestCalcModeParity:
    """calc-test.js evalCalcExpression + calc-utils-test.js getModeData:
    mode() = highest count, first-occurrence tie-break; first()/last()
    capture the first/last RECORD's value."""

    def _calc(self, spark, data, expr):
        out = apply_commands(
            spark, f'-i d.json -calc "R = {expr}" -each "r = R" '
            "-o format=json", {"d.json": json.dumps(data)})
        return _rows(out["d.json"])[0]["r"]

    # calc-test.js:28-31 first() captures value of first record
    def test_first(self, spark):
        assert self._calc(spark, [{"foo": -1}, {"foo": 3}, {"foo": 4}],
                          "first(foo)") == -1

    # calc-test.js:33-36 last()
    def test_last(self, spark):
        assert self._calc(spark, [{"foo": -1}, {"foo": 3}, {"foo": 4}],
                          "last(foo)") == 4

    # calc-test.js:38-41 mode() picks first among equals
    def test_mode_first_among_equals(self, spark):
        assert self._calc(spark, [{"foo": -1}, {"foo": 3}, {"foo": 4}],
                          "mode(foo)") == -1

    # calc-test.js:43-49 most common string value
    def test_mode_string(self, spark):
        assert self._calc(spark, [{"bar": "a"}, {"bar": "b"}, {"bar": "a"},
                                  {"bar": "c"}], "mode(bar)") == "a"

    # calc-test.js:51-57 most common numerical value
    def test_mode_number(self, spark):
        assert self._calc(spark, [{"bar": 0}, {"bar": 0}, {"bar": 1},
                                  {"bar": 2}], "mode(bar)") == 0

    # calc-utils-test.js:7-11 getModeData multiple modes -> modes[0]
    def test_mode_multi_tie(self, spark):
        data = [{"v": x} for x in [1, 3, 4, 4, 3, 0, 0]]
        assert self._calc(spark, data, "mode(v)") == 3


class TestCommandsParity:
    """Transcribed from /root/reference/test/commands-test.js
    (applyCommands API cases that map onto our apply_commands)."""

    # commands-test.js:104-116 name= option of second dataset
    def test_second_dataset_name(self, spark):
        out = apply_commands(
            spark, "-i a.json name=one -i b.json name=two -o target=*",
            {"a.json": json.dumps([{"a": 0}]),
             "b.json": json.dumps([{"b": 1}])})
        assert _rows(out["one.json"]) == [{"a": 0}]
        assert _rows(out["two.json"]) == [{"b": 1}]

    # commands-test.js:206-213 pass-through
    def test_csv_pass_through(self, spark):
        out = apply_commands(spark, "-i data.csv -o",
                             {"data.csv": "id\n0\n1"})
        assert out["data.csv"] == "id\n0\n1"

    # commands-test.js:216-227 sequential files processed separately
    def test_sequential_files_combined_output(self, spark):
        out = apply_commands(
            spark, "-i data.csv data2.csv -rename-fields FID=id -o",
            {"data.csv": "id\n0\n1", "data2.csv": "id\n2\n3"})
        assert out["data.csv"] == "FID\n0\n1"
        assert out["data2.csv"] == "FID\n2\n3"

    # commands-test.js:242-251 combine-files + merge-layers
    def test_merge_multiple_files(self, spark):
        out = apply_commands(
            spark,
            "-i data.csv data2.csv combine-files -merge-layers -o merged.csv",
            {"data.csv": "id\n0\n1", "data2.csv": "id\n2\n3"})
        assert out["merged.csv"] == "id\n0\n1\n2\n3"

    # commands-test.js:253-261 rename + convert to tsv
    def test_rename_convert_tsv(self, spark):
        out = apply_commands(spark, "-i data.csv -o data2.tsv",
                             {"data.csv": "id,count\n0,2\n1,4"})
        assert out["data2.tsv"] == "id\tcount\n0\t2\n1\t4"

    # commands-test.js:291-309 geojson (null geometry) -> tsv
    def test_geojson_to_tsv(self, spark):
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "geometry": None,
             "properties": {"id": 0, "name": "foo"}}]}
        out = apply_commands(spark, "-i feature.json -o format=tsv",
                             {"feature.json": json.dumps(fc)})
        assert out["feature.tsv"] == "id\tname\n0\tfoo"

    # commands-test.js:311-334 csv -> geojson points
    def test_csv_to_geojson_points(self, spark):
        target = {
            "type": "FeatureCollection",
            "features": [{
                "type": "Feature",
                "properties": {"lat": 40.724, "lng": -73.925,
                               "name": "New York City"},
                "geometry": {"type": "Point",
                             "coordinates": [-73.925, 40.724]}}]}
        out = apply_commands(
            spark, "-i points.csv -points x=lng y=lat -o format=geojson",
            {"points.csv": "lat,lng,name\n40.724,-73.925,New York City"})
        assert json.loads(out["points.json"]) == target

    # commands-test.js:371-396 geojson -> topojson with precision
    # (the reference names a file-less layer 'layer1'; with a named input
    # file the object takes the file stem, so 'in' here)
    def test_points_to_topojson_precision(self, spark):
        gc = {"type": "GeometryCollection",
              "geometries": [{"type": "Point", "coordinates": [0.1, 0.1]}]}
        target = {
            "type": "Topology", "arcs": [],
            "objects": {"in": {
                "type": "GeometryCollection",
                "geometries": [{"type": "Point", "coordinates": [0, 0]}]}}}
        out = apply_commands(
            spark, "-i in.json -o out.json format=topojson precision=1",
            {"in.json": json.dumps(gc)})
        assert json.loads(out["out.json"]) == target

    # commands-test.js:428-444 -i precision= rounds on import
    def test_import_precision(self, spark):
        gc = {"type": "GeometryCollection",
              "geometries": [{"type": "Point", "coordinates": [0.1, 0.1]}]}
        target = {"type": "GeometryCollection",
                  "geometries": [{"type": "Point", "coordinates": [0, 0]}]}
        out = apply_commands(spark, "-i in.json precision=1 -o out.json",
                             {"in.json": json.dumps(gc)})
        assert json.loads(out["out.json"]) == target


class TestExpressionUtilsParity:
    """expression-utils-test.js: round() and sprintf() in -each scope,
    plus data-utils-test.js inconsistent-field patching."""

    # expression-utils-test.js:9-17
    def test_round_and_underscore_round(self, spark):
        data = [{"a": 100.1}, {"a": 0.5}, {"a": -2.001}]
        out = apply_commands(
            spark, '-i a.json -each "b=round(a), c=_.round(a, 1)" -o',
            {"a.json": json.dumps(data)})
        assert _rows(out["a.json"]) == [
            {"a": 100.1, "b": 100, "c": 100.1},
            {"a": 0.5, "b": 1, "c": 0.5},
            {"a": -2.001, "b": -2, "c": -2}]

    # expression-utils-test.js:20-28
    def test_sprintf(self, spark):
        out = apply_commands(
            spark,
            "-i data.csv -each \"c = sprintf('%,d %.1f', a, b)\" -o",
            {"data.csv": "a,b\n3000,3.001"})
        assert out["data.csv"] == 'a,b,c\n3000,3.001,"3,000 3.0"'

    # data-utils-test.js:7-13 fixInconsistentFields via csv export
    def test_inconsistent_json_fields_to_csv(self, spark):
        out = apply_commands(
            spark, "-i a.json -o format=csv",
            {"a.json": json.dumps([{}, {"foo": "a", "bar": 1},
                                   {"foo": "b"}])})
        assert out["a.csv"] == "foo,bar\n,\na,1\nb,"


class TestIncludeParity:
    """include-test.js: -include merges a JS object's values and functions
    into the -each expression scope. (The accumulator idiom is a
    documented deviation — distributed -each has no cross-record mutable
    state; require('underscore') is node-only.)"""

    # include-test.js:25-38 imports data and functions from JS string
    def test_imports_data_and_functions(self, spark):
        o = ("{ "
             "foo: 'bar', "
             "getA: function(rec) {return rec.a} "
             "}")
        out = apply_commands(
            spark,
            '-i in.json -include in.js -each '
            '"b = foo + this.id, c = getA(this.properties)" -o out.json',
            {"in.json": json.dumps([{"a": 1}, {"a": 2}]), "in.js": o})
        assert sorted(_rows(out["out.json"]), key=lambda r: r["a"]) == [
            {"a": 1, "b": "bar0", "c": 1},
            {"a": 2, "b": "bar1", "c": 2}]

    # include-test.js:53-62 include can come first; values cover fields
    def test_include_first_covers_fields(self, spark):
        out = apply_commands(
            spark,
            '-include in.js -i data.json -each '
            '"this.properties.a = a" -o',
            {"in.js": "{a: 'b'}", "data.json": json.dumps([{}])})
        assert _rows(out["data.json"]) == [{"a": "b"}]

    # include-test.js:40-50 'can be used as an accumulator': the
    # reference include object is a live singleton mutated across
    # records. A distributed -each cannot share that state, so instead
    # of silently producing unmutated totals we raise, pointing at
    # -calc / -join calc=.
    def test_accumulator_idiom_raises_loudly(self, spark):
        import pytest
        with pytest.raises(Exception, match="include-scope|accumulat"):
            apply_commands(
                spark,
                '-i in.json -include in.js -each '
                '"counts[type] = type in counts ? counts[type] + 1 : 1" '
                '-each "count = counts[type]" -o out.json',
                {"in.json": json.dumps(
                    [{"type": "foo"}, {"type": "foo"}, {"type": "bar"}]),
                 "in.js": "{counts: {}}"})

    # compound / update mutations (totals.n += 1, totals.n++) are the
    # same idiom and must also raise; a read-only use must NOT
    def test_accumulator_compound_and_readonly(self, spark):
        import pytest
        with pytest.raises(Exception, match="include-scope"):
            apply_commands(
                spark,
                '-i in.json -include in.js -each "totals.n += 1" -o',
                {"in.json": json.dumps([{"a": 1}]),
                 "in.js": "{totals: {n: 0}}"})
        out = apply_commands(
            spark,
            '-i in.json -include in.js -each "b = totals.n + a" -o',
            {"in.json": json.dumps([{"a": 1}]),
             "in.js": "{totals: {n: 5}}"})
        assert _rows(out["in.json"]) == [{"a": 1, "b": 6}]


class TestTxtFormat:
    # file-types-test.js guessInputType/inferOutputFormat: .txt input is
    # delimited text (sniffed delimiter), .txt output is dsv preserving
    # the layer's delimiter
    def test_txt_round_trip_preserves_delimiter(self, spark):
        out = apply_commands(spark, "-i d.txt -o out.txt",
                             {"d.txt": "a|b\n1|2"})
        assert out["out.txt"] == "a|b\n1|2"


class TestSimplifyEdgeProtection:
    """simplify-test.js: lock-box + #protectWorldEdges goldens."""

    # simplify-test.js:87-99 lock-box protects a square at 0%
    def test_lock_box_protects_square(self, spark):
        square = {"type": "Polygon",
                  "coordinates": [[[0, 0], [0, 1], [2, 1], [2, 0], [0, 0]]]}
        out = apply_commands(spark, "-i sq.json -simplify 0% lock-box -o",
                             {"sq.json": json.dumps(square)})
        got = json.loads(out["sq.json"])
        geom = got["geometries"][0] if "geometries" in got else \
            got["features"][0]["geometry"]
        assert geom == square

    # simplify-test.js:206-221 world edges get the arc's max threshold
    def test_protect_world_edges_golden(self, spark):
        import mapshaper_spark.operators.simplify as SI
        inf = float("inf")
        arcs = spark.createDataFrame(
            [(0, [178.0, 179.0, 180.0, 180.0], [30.0, 31.0, 32.0, 33.0],
              [inf, 6.0, 4.0, inf], 4, None),
             (1, [-170.0, -180.0, -160.0, -160.0], [1.0, 2.0, 2.0, 1.0],
              [inf, 5.0, 8.0, inf], 4, None),
             (2, [2.0, 3.0, 3.0, 2.0], [90.0, 90.0, 89.0, 88.0],
              [inf, 1.0, 4.0, inf], 4, None),
             (3, [3.0, 4.0, 3.0, 4.0], [-79.0, -84.0, -90.0, -80.0],
              [inf, 5.0, 8.0, inf], 4, None)],
            "arc_id long, xs array<double>, ys array<double>, "
            "zs array<double>, n int, bbox struct<xmin:double,ymin:double,"
            "xmax:double,ymax:double>")
        out = {r.arc_id: list(r.zs)
               for r in SI.protect_world_edges(arcs).collect()}
        assert out[0] == [inf, 6.0, 6.0, inf]
        assert out[1] == [inf, 8.0, 8.0, inf]
        assert out[2] == [inf, 4.0, 4.0, inf]
        assert out[3] == [inf, 5.0, 8.0, inf]

    # simplify-test.js:223-235 no interior vertex at the edge -> unchanged
    def test_world_edges_no_interior_hits(self, spark):
        import mapshaper_spark.operators.simplify as SI
        inf = float("inf")
        arcs = spark.createDataFrame(
            [(0, [178.0, 179.0, 179.9, 180.0], [30.0, 31.0, 32.0, 33.0],
              [inf, 6.0, 4.0, inf], 4, None),
             (1, [-180.0, -179.0, -160.0, -160.0], [1.0, 2.0, 2.0, 1.0],
              [inf, 5.0, 8.0, inf], 4, None),
             (2, [2.0, 3.0, 3.0, 2.0], [90.0, 89.9, 89.0, 88.0],
              [inf, 1.0, 4.0, inf], 4, None),
             (3, [3.0, 4.0, 3.0, 4.0], [-79.0, -84.0, -89.2, -90.0],
              [inf, 5.0, 8.0, inf], 4, None)],
            "arc_id long, xs array<double>, ys array<double>, "
            "zs array<double>, n int, bbox struct<xmin:double,ymin:double,"
            "xmax:double,ymax:double>")
        out = {r.arc_id: list(r.zs)
               for r in SI.protect_world_edges(arcs).collect()}
        assert out[0] == [inf, 6.0, 4.0, inf]
        assert out[1] == [inf, 5.0, 8.0, inf]
        assert out[2] == [inf, 1.0, 4.0, inf]
        assert out[3] == [inf, 5.0, 8.0, inf]


class TestSimplifyResolutionAndZero:
    # simplify-test.js:41-54 resolution=100x100 keeps a small line intact
    def test_resolution_keeps_small_line(self, spark):
        line = {"type": "LineString",
                "coordinates": [[0, 0], [0, 1], [1, 1], [1, 2]]}
        out = apply_commands(
            spark, "-i line.json -simplify resolution=100x100 -o",
            {"line.json": json.dumps(line)})
        got = json.loads(out["line.json"])
        geom = got["geometries"][0] if "geometries" in got else \
            got["features"][0]["geometry"]
        assert geom == line

    # simplify-test.js:56-69 -simplify planar 0% removes every removable
    # vertex
    def test_planar_zero_pct_removes_all(self, spark):
        line = {"type": "LineString",
                "coordinates": [[0, 0], [0, 1], [0.1, 1.1], [0, 1.2],
                                [0, 2]]}
        out = apply_commands(
            spark, "-i in.json -simplify planar 0% -o out.json",
            {"in.json": json.dumps(line)})
        got = json.loads(out["out.json"])
        geom = got["geometries"][0] if "geometries" in got else \
            got["features"][0]["geometry"]
        assert geom["coordinates"] == [[0, 0], [0, 2]]

    # simplify-test.js:209-212 parseSimplifyResolution rejects 'x-200'
    def test_invalid_resolution_raises(self, spark):
        import pytest as _pytest

        from mapshaper_spark.operators.simplify import \
            parse_simplify_resolution
        with _pytest.raises(ValueError):
            parse_simplify_resolution("x-200")
        assert parse_simplify_resolution("100x80") == (100.0, 80.0)
        assert parse_simplify_resolution(50) == (50.0, 50.0)


class TestSimplifyIntervalUnits:
    # simplify-test.js:8-16 wgs84 + '0.5km' -> 500 m interval (spherical)
    def test_interval_km_on_wgs84(self, spark):
        line = {"type": "LineString",
                "coordinates": [[-100, 40], [-101, 42], [-105, 47]]}
        out = apply_commands(
            spark, "-i line.json -simplify interval=0.5km -o",
            {"line.json": json.dumps(line)})
        got = json.loads(out["line.json"])
        geom = got["geometries"][0] if "geometries" in got else \
            got["features"][0]["geometry"]
        # 500 m tolerance removes nothing from a ~500 km line
        assert geom == line

    # simplify-test.js:18-27 units + planar latlong is an error
    def test_interval_units_planar_latlong_errors(self, spark):
        import pytest as _pytest
        line = {"type": "LineString",
                "coordinates": [[-100, 40], [-101, 42], [-105, 47]]}
        with _pytest.raises(Exception):
            apply_commands(
                spark, "-i line.json -simplify planar interval=0.5km -o",
                {"line.json": json.dumps(line)})

    # simplify-test.js:29-37 bare number + planar passes through
    def test_interval_bare_number_planar(self, spark):
        line = {"type": "LineString",
                "coordinates": [[-100, 40], [-101, 42], [-105, 47]]}
        out = apply_commands(
            spark, "-i line.json -simplify planar interval=3 -o",
            {"line.json": json.dumps(line)})
        got = json.loads(out["line.json"])
        geom = got["geometries"][0] if "geometries" in got else \
            got["features"][0]["geometry"]
        # interval 3 in coordinate units removes the middle vertex
        assert geom["coordinates"][0] == [-100, 40]
        assert geom["coordinates"][-1] == [-105, 47]
