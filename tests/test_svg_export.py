"""SVG export parity: pixel transform + layer/feature structure.

Transcribed from /root/reference/test/pixel-transform-test.js and
/root/reference/test/issue-247-test.js; element/attribute semantics from
src/svg/geojson-to-svg.js and src/svg/mapshaper-svg.js.
"""

import pytest

from mapshaper_spark import layers as L
from mapshaper_spark.sources import svg as SVG


class TestPixelTransform:
    # pixel-transform-test.js:26-31 'width + margin + invert_y'
    def test_width_margin_invert(self):
        tf = SVG.fit_transform(0, 0, 50, 50, width=800, margin=10)
        bxmin, bymax, kx, ky, w, h = tf
        assert (w, h) == (800, 800)
        px = lambda x: (x - bxmin) * kx
        py = lambda y: (bymax - y) * ky
        assert px(0) == pytest.approx(10)
        assert py(0) == pytest.approx(790)
        assert px(50) == pytest.approx(790)
        assert py(50) == pytest.approx(10)

    # pixel-transform-test.js:33-38 'svg_scale + margin + invert_y'
    def test_svg_scale_margin_invert(self):
        tf = SVG.fit_transform(20, 20, 520, 270, svg_scale=2, margin=10)
        bxmin, bymax, kx, ky, w, h = tf
        assert (w, h) == (270, 145)
        px = lambda x: (x - bxmin) * kx
        py = lambda y: (bymax - y) * ky
        assert px(20) == pytest.approx(10)
        assert py(20) == pytest.approx(135)
        assert px(520) == pytest.approx(260)
        assert py(270) == pytest.approx(10)

    # pixel-transform-test.js:40-52 parseMarginOption()
    def test_parse_margin_option(self):
        parse = SVG.parse_margin_option
        assert parse("") == [1, 1, 1, 1]
        assert parse() == [1, 1, 1, 1]
        assert parse(None) == [1, 1, 1, 1]
        assert parse("0") == [0, 0, 0, 0]
        assert parse("3, 1") == [3, 1, 3, 1]
        assert parse("3 1 2") == [3, 1, 2, 2]
        assert parse("0,12,9,0") == [0, 12, 9, 0]


class TestSvgDocument:
    def _squares(self, spark):
        return L.region_mosaic_rings_local(spark, 2, 1, (0.0, 0.0, 2.0, 1.0))

    def test_document_shell_and_paths(self, spark):
        df = self._squares(spark)
        doc = SVG.export_svg(df, L.bounds(df))
        assert doc.startswith('<?xml version="1.0"?>')
        # default width 800, margin 1 -> content 798px wide, height 399+2
        assert 'width="800" height="401" viewBox="0 0 800 401"' in doc
        assert 'stroke-linecap="round" stroke-linejoin="round"' in doc
        assert doc.count("<path d=") == 2
        # implicit-lineto form with a trailing Z per ring, like the reference
        assert ' Z"' in doc and " L " not in doc
        assert '<g id="layer1">' in doc

    def test_polyline_layer_defaults(self, spark):
        df = self._squares(spark)
        doc = SVG.export_svg(df, L.bounds(df), name="lines",
                             geom_type="polyline")
        # getEmptyLayerForSVG: line layers get fill=none stroke=black
        assert '<g id="lines" fill="none" stroke="black" stroke-width="1">' in doc
        assert " Z" not in doc  # polylines don't close

    def test_style_attributes_and_number_format(self, spark):
        import pyspark.sql.functions as F
        df = (self._squares(spark)
              .withColumn("fill", F.lit("#bb9"))
              .withColumn("opacity", F.lit(0.50))
              .withColumn("stroke", F.lit(None).cast("string")))
        doc = SVG.export_svg(df, L.bounds(df))
        # numbers JS-stringified (0.50 -> 0.5); null styles omitted
        assert 'fill="#bb9" opacity="0.5"' in doc
        assert "stroke=" not in doc.replace("stroke-line", "")

    # issue-247-test.js:22-55 exportLayerForSVG with id_prefix
    def test_id_prefix_on_layer_and_features(self, spark):
        df = spark.createDataFrame(
            [("A", [0.0, 1.0], [0.0, 1.0])],
            "FID string, xs array<double>, ys array<double>")
        doc = SVG.export_svg_document(
            [("dataset", df, "point", "xs", "ys")], L.bounds(df),
            id_prefix="points-")
        assert '<g id="points-dataset">' in doc
        assert '<g id="points-A">' in doc
        assert doc.count("<circle cx=") == 2
        # circle r omitted when no r field (importPoint: r only when set)
        assert " r=" not in doc

    def test_single_point_is_bare_circle_with_id(self, spark):
        df = spark.createDataFrame([("B", 3.0, 4.0)],
                                   "FID string, x double, y double")
        doc = SVG.export_svg_document([("pts", df, "point", "x", "y")],
                                       L.bounds(df))
        assert '<circle cx="' in doc
        assert 'id="B"' in doc
        assert "<g id=\"pts\">" in doc

    def test_point_r_and_fill(self, spark):
        import pyspark.sql.functions as F
        df = (spark.createDataFrame([(3.0, 4.0)], "x double, y double")
              .withColumn("r", F.lit(5))
              .withColumn("fill", F.lit("red")))
        doc = SVG.export_svg_document([("pts", df, "point", "x", "y")],
                                       L.bounds(df))
        assert ' r="5"' in doc and 'fill="red"' in doc

    def test_label_text_element(self, spark):
        df = spark.createDataFrame([(1.0, 2.0, "hello & <bye>")],
                                   ["x", "y", "label-text"])
        doc = SVG.export_svg_document([("lbl", df, "point", "x", "y")],
                                       L.bounds(df))
        # label layers get font defaults on the <g>
        assert 'font-family="sans-serif" font-size="12" text-anchor="middle"' in doc
        assert ">hello &amp; &lt;bye&gt;</text>" in doc

    def test_multiline_label_tspans(self, spark):
        df = spark.createDataFrame([(1.0, 2.0, "line1\nline2")],
                                   ["x", "y", "label-text"])
        doc = SVG.export_svg_document([("lbl", df, "point", "x", "y")],
                                       L.bounds(df))
        assert ">line1<tspan" in doc
        assert 'dy="1.1em">line2</tspan></text>' in doc

    def test_xml_escaping_in_ids(self, spark):
        df = spark.createDataFrame([('a"<b>', 1.0, 2.0)],
                                   "FID string, x double, y double")
        doc = SVG.export_svg_document([("pts", df, "point", "x", "y")],
                                       L.bounds(df))
        assert 'id="a&quot;&lt;b&gt;"' in doc
