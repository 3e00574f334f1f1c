"""-colorizer / -svg-style / -include / -shape / combine-files."""

import pytest
from pyspark.sql import functions as F


class TestColorizer:
    def test_sequential_breaks(self, spark):
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_seq", ["red", "yellow", "green"], breaks=[10, 100])
        df = spark.createDataFrame([(1, 5.0), (2, 50.0), (3, 500.0), (4, None)],
                                   "id int, pop double")
        got = {r.id: r.c for r in
               df.withColumn("c", c(F.col("pop"))).collect()}
        assert got == {1: "red", 2: "yellow", 3: "green", 4: "white"}

    def test_categorical_with_other(self, spark):
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_cat", ["blue", "pink"], categories=["a", "b"],
                      other="gray", nodata="none")
        df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "z"), (4, None)],
                                   "id int, k string")
        got = {r.id: r.c for r in df.withColumn("c", c(F.col("k"))).collect()}
        assert got == {1: "blue", 2: "pink", 3: "gray", 4: "none"}

    def test_reserved_name_and_bad_breaks(self):
        from mapshaper_spark.operators.styling import colorizer
        with pytest.raises(ValueError):
            colorizer("fill", ["x"], breaks=[])
        with pytest.raises(ValueError):
            colorizer("t_bad", ["a", "b", "c"], breaks=[100, 10])  # unsorted

    def test_precision_rounds_before_classing(self, spark):
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_prec", ["lo", "hi"], breaks=[10], precision=10.0)
        df = spark.createDataFrame([(1, 9.9), (2, 14.0)], "id int, v double")
        got = {r.id: r.c for r in df.withColumn("c", c(F.col("v"))).collect()}
        # 9.9 rounds to 10 -> not < 10 -> hi; 14 rounds to 10 -> hi
        assert got == {1: "hi", 2: "hi"}


class TestColorizerReferenceParity:
    """Transcribed from /root/reference/test/colorizer-test.js."""

    def test_breaks_scheme_with_nan(self, spark):
        # '-colorizer breaks=10,20 colors=white,pink,yellow nodata=grey'
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("getColor", ["white", "pink", "yellow"],
                      breaks=[10, 20], nodata="grey")
        df = spark.createDataFrame(
            [(0, 0.0), (1, 10.0), (2, 12.0), (3, 20.0), (4, 99.0),
             (5, float("nan"))], "id int, pct double")
        got = [r.col for r in
               df.withColumn("col", c(F.col("pct"))).orderBy("id").collect()]
        assert got == ["white", "pink", "pink", "yellow", "yellow", "grey"]

    def test_all_color_classes_reachable(self, spark):
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_reach", ["red", "white", "blue"], breaks=[0, 10])
        df = spark.createDataFrame(
            [(0, -1.0), (1, 0.0), (2, 5.0), (3, 10.0), (4, 15.0)],
            "id int, v double")
        got = [r.c for r in
               df.withColumn("c", c(F.col("v"))).orderBy("id").collect()]
        assert got == ["red", "white", "white", "blue", "blue"]

    def test_non_numeric_values_are_nodata(self, spark):
        # getSequentialColorFunction refuses to coerce strings to numbers
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_nocoerce", ["red", "blue"], breaks=[10],
                      nodata="none")
        df = spark.createDataFrame(
            [(0, "0"), (1, ""), (2, None), (3, "abc")], "id int, v string")
        got = [r.c for r in
               df.withColumn("c", c(F.col("v"))).orderBy("id").collect()]
        # "0" is castable in Spark's typed world; the rest are no-data
        assert got[1:] == ["none", "none", "none"]

    def test_matches_categories(self, spark):
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_cat2", ["red", "blue"],
                      categories=["lepen", "macron"], other="white",
                      nodata="pink")
        df = spark.createDataFrame(
            [(0, "lepen"), (1, "macron"), (2, "fillon"), (3, "")],
            "id int, v string")
        got = [r.c for r in
               df.withColumn("c", c(F.col("v"))).orderBy("id").collect()]
        assert got == ["red", "blue", "white", "pink"]

    def test_default_nodata_is_white(self, spark):
        from mapshaper_spark.operators.styling import colorizer
        c = colorizer("t_cat3", ["red", "blue"],
                      categories=["lepen", "macron"])
        df = spark.createDataFrame([(0, "")], "id int, v string")
        assert df.withColumn("c", c(F.col("v"))).collect()[0].c == "white"

    def test_reserved_svg_names_raise(self):
        from mapshaper_spark.operators.styling import colorizer
        colorizer("rgb", ["black"], categories=["foo"])  # not reserved
        for bad in ["stroke", "r", "stroke-width", "fill", "opacity"]:
            with pytest.raises(ValueError):
                colorizer(bad, ["black"], categories=["foo"])

    def test_option_errors(self):
        from mapshaper_spark.operators.styling import colorizer
        with pytest.raises(ValueError):
            colorizer("e1", None, categories=["a", "b"])  # missing colors
        with pytest.raises(ValueError):
            colorizer("e2", ["blue"], categories=["a", "b"])
        with pytest.raises(ValueError):
            colorizer("e3", ["blue", "red", "green"], categories=["a", "b"])
        with pytest.raises(ValueError):
            colorizer("e4", ["a", "b"], breaks=[0, 1])
        with pytest.raises(ValueError):
            colorizer("e5", ["a", "b"], breaks=[])
        with pytest.raises(ValueError):
            colorizer("e6", ["red", "blue"], breaks=[float("nan")])
        with pytest.raises(ValueError):
            colorizer("e7", ["red", "blue"], breaks=[1, 0])


class TestSvgStyleIncludeShape:
    def test_svg_style_columns(self, spark):
        from mapshaper_spark.operators.styling import svg_style
        df = spark.createDataFrame([(1,)], "id int")
        out = svg_style(df, fill="red", stroke_width=2, css_class="county")
        assert set(out.columns) == {"id", "fill", "stroke-width", "class"}
        with pytest.raises(ValueError):
            svg_style(df, nosuch="x")

    def test_include_defs_from_file(self, spark, tmp_path):
        from mapshaper_spark.operators.styling import include_defs, get_def
        p = tmp_path / "defs.py"
        p.write_text("BASE = 7\n\ndef scale(col):\n    return col * BASE\n")
        include_defs(str(p))
        df = spark.createDataFrame([(1, 3.0)], "id int, v double")
        assert df.withColumn("o", get_def("scale")(F.col("v"))).collect()[0].o == 21.0
        assert get_def("BASE") == 7
        with pytest.raises(KeyError):
            get_def("missing_def")

    def test_shape_polygon_from_offsets(self, spark):
        from mapshaper_spark.operators.grid import shape
        r = shape(spark, [0, 0, 4, 0], offsets=[0, 3, -4, 0], closed=True) \
            .collect()[0]
        assert r.geometry_type == "polygon"
        assert list(zip(r.rings_x[0], r.rings_y[0])) == [
            (0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0), (0.0, 0.0)]

    def test_shape_open_polyline(self, spark):
        from mapshaper_spark.operators.grid import shape
        r = shape(spark, [0, 0, 1, 1, 2, 0]).collect()[0]
        assert r.geometry_type == "polyline"


class TestCombineFiles:
    def test_import_files_union(self, spark, tmp_path):
        import json
        from mapshaper_spark.sources.geojson import import_files
        a = tmp_path / "a.geojson"
        b = tmp_path / "b.geojson"
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"name": "p1"},
             "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}]}
        a.write_text(json.dumps(fc))
        fc["features"][0]["properties"]["name"] = "p2"
        b.write_text(json.dumps(fc))
        out = import_files(spark, [str(a), str(b)])
        # properties import as typed columns
        rows = out.select("source", F.col("name").alias("n")).collect()
        assert sorted((r.source, r.n) for r in rows) == \
            [("a", "p1"), ("b", "p2")]
