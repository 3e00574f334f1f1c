"""Regression tests for the round-4 self-review findings (see the fix
commit): each test pins a behavior that was wrong or fragile before.

Reference semantics cited per test; the review found these by walking the
round-4 diff, so they double as parity checks on freshly-added surface.
"""

import json

import pytest
from pyspark.sql import functions as F

from mapshaper_spark.cli import apply_commands, run_commands
from mapshaper_spark.functions.expressions import translate_proxy_expression
from mapshaper_spark.operators.attributes import rename_fields
from mapshaper_spark.operators.topology import snap_paths
from mapshaper_spark.sources.delim import delim_payload


class TestMixedImportNullGeometry:
    # divideFeaturesByType (mapshaper-dataset-utils.js:7-27): null-geometry
    # features in a MIXED collection form their own data-only layer instead
    # of silently vanishing (isin(NULL) excluded them from every sub-layer)
    def test_null_geometry_feature_survives_mixed_split(self, spark,
                                                        tmp_path):
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"name": "pt"},
             "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}},
            {"type": "Feature", "properties": {"name": "poly"},
             "geometry": {"type": "Polygon", "coordinates":
                          [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}},
            {"type": "Feature", "properties": {"name": "nogeom"},
             "geometry": None},
        ]}
        p = tmp_path / "mixed.json"
        p.write_text(json.dumps(fc))
        cat = run_commands(spark, f"-i {p}")
        names = {r["name"] for lyr in cat.layers.values()
                 for r in lyr.df.select("name").collect()}
        assert "nogeom" in names
        # and it landed in a data-only layer, not a geometry one
        holders = [n for n, lyr in cat.layers.items()
                   if "nogeom" in {r["name"]
                                   for r in lyr.df.select("name").collect()}]
        assert all("rings_x" not in cat.layers[h].df.columns and
                   "x" not in cat.layers[h].df.columns for h in holders)


class TestRenameFieldsCollision:
    # getRecordMapper writes dest[map[key]] = src[key] into a JS object in
    # {renames, identity-defaults} order: `-rename-fields a=b` on fields
    # [a,b] yields ONE column `a` holding the ORIGINAL a values (the
    # identity write lands after the rename write)
    def test_rename_onto_existing_column(self, spark):
        df = spark.createDataFrame([(1, 10), (2, 20)], ["a", "b"])
        out = rename_fields(df, {"a": "b"})
        assert out.columns == ["a"]
        assert sorted(r.a for r in out.collect()) == [1, 2]

    def test_plain_rename_still_moves_front(self, spark):
        df = spark.createDataFrame([(1, 10)], ["a", "b"])
        out = rename_fields(df, {"z": "b"})
        assert out.columns == ["z", "a"]
        assert out.collect()[0].z == 10


class TestSnapDegenerateRings:
    # auto-interval segment scan: sequence(1, size-1) turns DESCENDING on
    # <2-vertex rings and element_at(_, 0) raised at runtime
    def test_one_vertex_ring_does_not_crash(self, spark):
        df = spark.createDataFrame(
            [(0, [[0.0, 1.0, 1.0, 0.0, 0.0]], [[0.0, 0.0, 1.0, 1.0, 0.0]]),
             (1, [[5.0]], [[5.0]]),            # degenerate 1-vertex ring
             (2, [[]], [[]])],                 # empty ring
            "fid long, rings_x array<array<double>>, "
            "rings_y array<array<double>>")
        out = snap_paths(df)                   # interval=None -> auto
        assert out.count() == 3


class TestAffineMultiPoint:
    # -affine on a point layer must also transform MultiPoint coords that
    # ride in the rings arrays (only scalar x/y moved before)
    def test_multipoint_rows_shift(self, spark):
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"k": 1},
             "geometry": {"type": "Point", "coordinates": [1.0, 1.0]}},
            {"type": "Feature", "properties": {"k": 2},
             "geometry": {"type": "MultiPoint",
                          "coordinates": [[10.0, 10.0], [20.0, 20.0]]}},
        ]}
        out = apply_commands(
            spark, "-i pts.json -affine shift=5,0 -o out.json",
            {"pts.json": json.dumps(fc)})
        feats = json.loads(out["out.json"])["features"]
        by_k = {f["properties"]["k"]: f["geometry"] for f in feats}
        assert by_k[1]["coordinates"][0] == pytest.approx(6.0)
        mp = by_k[2]["coordinates"]
        assert [c[0] for c in mp] == pytest.approx([15.0, 25.0])


class TestSvgPrecisionGrid:
    # getRoundingFunction (mapshaper-rounding.js:33-41): precision=0.2 is a
    # 1/5 grid (3.14 -> 3.2), not 1-decimal rounding (3.1)
    def test_fifth_grid(self, spark):
        from mapshaper_spark.sources.svg import _px_round
        df = spark.range(1).select(F.lit(3.14).alias("v"))
        got = df.select(_px_round(F.col("v"), 0.2).alias("r")).collect()[0].r
        assert got == pytest.approx(3.2)

    def test_decimal_grid_unchanged(self, spark):
        from mapshaper_spark.sources.svg import _px_round
        df = spark.range(1).select(F.lit(3.14159).alias("v"))
        got = df.select(_px_round(F.col("v"), 0.1).alias("r")).collect()[0].r
        assert got == pytest.approx(3.1)


class TestDelimBooleanCells:
    # formatDelimRow uses JS String(val): booleans print 'true'/'false'
    def test_bool_column_renders_js_style(self, spark):
        df = spark.createDataFrame([(1, True), (2, False)], ["id", "flag"])
        text = delim_payload(df)
        lines = text.strip().split("\n")
        assert lines[1:] == ["1,true", "2,false"]


class TestPadStartComputedWidth:
    # the first-arg split must be paren-aware: padStart(greatest(2,3), '0')
    def test_nested_call_width_translates_to_valid_sql(self, spark):
        sql = translate_proxy_expression("s.padStart(Math.max(2,3), '0')")
        df = spark.createDataFrame([("7",), ("1234",)], ["s"])
        got = sorted(r.r for r in
                     df.selectExpr(f"{sql} as r").collect())
        assert got == ["007", "1234"]  # pads short, never truncates


class TestMergeLayersCrsMix:
    # mergeDatasets (mapshaper-merging.js:48-56): combining lat-lng-looking
    # bounds with projected bounds is an error even when only one side
    # declares a CRS
    def test_declared_plus_undeclared_projected_errors(self, spark,
                                                       tmp_path):
        ll = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Polygon", "coordinates":
                          [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}}]}
        projected = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Polygon", "coordinates":
                          [[[500000, 0], [500100, 0], [500100, 100],
                            [500000, 100], [500000, 0]]]}}]}
        pa, pb = tmp_path / "a.json", tmp_path / "b.json"
        pa.write_text(json.dumps(ll))
        pb.write_text(json.dumps(projected))
        with pytest.raises(ValueError, match="projected"):
            run_commands(spark,
                         f"-i {pa} {pb} combine-files -merge-layers")


class TestJsEngineSecondPass:
    """Second review pass: JS-engine numeric/string edge parity."""

    def test_parse_int_empty_and_bad_radix(self):
        from mapshaper_spark.functions import jsengine as J
        import math
        assert math.isnan(J._parse_int(""))        # JS parseInt('') -> NaN
        assert math.isnan(J._parse_int("   "))
        assert math.isnan(J._parse_int("5", "x"))  # non-numeric radix
        assert math.isnan(J._parse_int("0", 1))    # radix outside [2,36]
        assert J._parse_int("ff", 16) == 255.0

    def test_pow_overflow_sign(self):
        from mapshaper_spark.functions import jsengine as J
        import math
        assert J._js_pow(-1e200, 3) == -math.inf
        assert J._js_pow(-0.0, -1) == -math.inf
        assert J._js_pow(-0.0, -2) == math.inf
        assert J._js_pow(1e200, 3) == math.inf

    def test_unicode_and_hex_escapes(self):
        from mapshaper_spark.functions.jsengine import run_program
        _, rec = run_program('s = "caf\\u00e9"; h = "\\x41"', {})
        assert rec["s"] == "café"
        assert rec["h"] == "A"

    def test_js_number_to_string_exponent_format(self):
        from mapshaper_spark.functions.jsengine import run_program
        _, rec = run_program('a = "" + 0.0000001; b = "" + 0.00001', {})
        assert rec["a"] == "1e-7"      # JS, not Python's '1e-07'
        assert rec["b"] == "0.00001"   # JS stays decimal to 1e-6

    def test_compound_assignment_persists(self, spark):
        from mapshaper_spark.operators.jseach import each_js
        df = spark.createDataFrame([(10.0,), (20.0,)], ["v"])
        out = each_js(df, "v += 5")
        assert sorted(r.v for r in out.collect()) == [15.0, 25.0]

    def test_increment_persists(self, spark):
        from mapshaper_spark.operators.jseach import each_js
        df = spark.createDataFrame([(1.0,)], ["n"])
        out = each_js(df, "n++")
        assert out.collect()[0].n == 2.0


class TestProjectionsSecondPass:
    def test_plus_a_alone_is_a_sphere(self):
        import math
        from mapshaper_spark.geom.projections import get_projection
        p = get_projection("+proj=merc +a=6371000")
        _, y = p.fwd(0.0, 45.0)
        want = 6371000.0 * math.log(math.tan(math.pi / 4 + math.radians(45) / 2))
        assert float(y) == pytest.approx(want, rel=1e-12)

    def test_projected_source_antimeridian_wraps_not_clamps(self):
        from mapshaper_spark.geom.projections import get_projection, get_transform
        src = get_projection("+proj=merc +lon_0=-96")
        x, y = src.fwd(160.0, 10.0)      # inverse yields lon -200
        tf = get_transform(src, get_projection("+proj=longlat"))
        lon, lat = tf(x, y)
        assert float(lon) == pytest.approx(160.0, abs=1e-9)
        assert float(lat) == pytest.approx(10.0, abs=1e-9)

    def test_healpix_lon0_polar_facet_wraps(self):
        from mapshaper_spark.geom.projections import get_projection
        p = get_projection("+proj=healpix +lon_0=170")
        x1, y1 = p.fwd(-170.0, 80.0)     # lam would be -340 deg unwrapped
        x2, y2 = p.fwd(190.0 - 360.0 + 360.0, 80.0)  # same point as +190
        lon, lat = p.inv(x1, y1)
        # round-trip comes back to the same place on the sphere
        assert (float(lon) % 360.0) == pytest.approx(190.0, abs=1e-6)
        assert float(lat) == pytest.approx(80.0, abs=1e-6)
        assert float(x1) == pytest.approx(float(x2))

    def test_ups_explicit_offsets_win(self):
        from mapshaper_spark.geom.projections import get_projection
        p0 = get_projection("+proj=ups")
        p1 = get_projection("+proj=ups +x_0=0 +y_0=0")
        x0, y0 = p0.fwd(10.0, 85.0)
        x1, y1 = p1.fwd(10.0, 85.0)
        assert float(x0) - float(x1) == pytest.approx(2000000.0)
        assert float(y0) - float(y1) == pytest.approx(2000000.0)
