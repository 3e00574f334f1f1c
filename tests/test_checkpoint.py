"""StageRunner resume semantics: skip complete stages, invalidate on input
drift, lineage/metrics tables populated, crash-safe one-job commits."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapshaper_spark.plans import checkpoint as CK
from mapshaper_spark.plans.checkpoint import Stage, StageRunner


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="ms_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


CALLS = []


def _stages(n=1000):
    def ingest(spark, deps):
        CALLS.append("ingest")
        return spark.range(n).withColumn("v", F.col("id") * 2)

    def enrich(spark, deps):
        CALLS.append("enrich")
        return deps["ingest"].withColumn("w", F.col("v") + 1)

    def agg(spark, deps):
        CALLS.append("agg")
        return deps["enrich"].agg(F.sum("w").alias("total"))

    return [Stage("ingest", ingest),
            Stage("enrich", enrich, inputs=("ingest",)),
            Stage("agg", agg, inputs=("enrich",))]


def test_full_run_then_resume_skips_everything(spark, root):
    CALLS.clear()
    r = StageRunner(spark, root)
    done = r.run(_stages())
    assert CALLS == ["ingest", "enrich", "agg"]
    assert done["agg"]["rows"] == 1
    total = r.store.read(done["agg"]).collect()[0].total
    assert total == sum(2 * i + 1 for i in range(1000))

    CALLS.clear()
    done2 = StageRunner(spark, root).run(_stages())
    assert CALLS == []  # everything resumed from snapshots
    assert done2["agg"]["snapshot_id"] == done["agg"]["snapshot_id"]


def test_force_invalidates_downstream(spark, root):
    CALLS.clear()
    r = StageRunner(spark, root)
    r.run(_stages())
    CALLS.clear()
    done = StageRunner(spark, root).run(_stages(), force=("enrich",))
    # enrich re-runs; agg's recorded input snapshot no longer matches -> re-runs
    assert CALLS == ["enrich", "agg"]
    assert done["agg"]["complete"]


def test_lineage_and_metrics_tables(spark, root):
    CALLS.clear()
    r = StageRunner(spark, root)
    r.run(_stages())
    lin = r.lineage()
    assert set(lin.columns) == {"partition_id", "rows", "stage", "snapshot_id"}
    per_stage = {row.stage: row.total for row in
                 lin.groupBy("stage").agg(F.sum("rows").alias("total")).collect()}
    assert per_stage["ingest"] == 1000
    assert per_stage["agg"] == 1
    met = r.metrics()
    assert met.count() == 3
    assert met.filter(F.col("wall_s") <= 0).count() == 0


def test_torn_manifest_is_skipped(spark, root):
    """A half-written manifest (a crash mid-write) is not a snapshot: resume
    uses the complete one beside it instead of failing the whole run."""
    CALLS.clear()
    r = StageRunner(spark, root)
    done = r.run(_stages())
    torn = os.path.join(root, "ingest", "sffffffffffff")
    os.makedirs(torn)
    with open(os.path.join(torn, "manifest.json"), "w") as f:
        f.write('{"stage": "stats", "rows": 20')
    CALLS.clear()
    r2 = StageRunner(spark, root)
    assert r2.store.latest_complete("ingest") == done["ingest"]
    assert r2.run(_stages())["agg"]["snapshot_id"] == done["agg"]["snapshot_id"]
    assert CALLS == []
    assert r2.metrics().count() == 3


def test_crash_before_manifest_commit_rebuilds_stage(spark, root, monkeypatch):
    """Data written, manifest commit fails: the orphan snapshot is invisible
    to resume, lineage and metrics, and the next run rebuilds the stage."""
    commit = CK._commit_json

    def crash_on_enrich(path, obj):
        if obj["stage"] == "enrich":
            raise OSError("crash between data write and manifest commit")
        commit(path, obj)

    CALLS.clear()
    monkeypatch.setattr(CK, "_commit_json", crash_on_enrich)
    with pytest.raises(OSError):
        StageRunner(spark, root).run(_stages())
    monkeypatch.undo()
    (orphan,) = os.listdir(os.path.join(root, "enrich"))
    assert os.listdir(os.path.join(root, "enrich", orphan)) == ["data"]

    CALLS.clear()
    r = StageRunner(spark, root)
    assert r.store.latest_complete("enrich") is None
    done = r.run(_stages())
    assert CALLS == ["enrich", "agg"]  # ingest resumed, enrich rebuilt
    assert done["enrich"]["snapshot_id"] != orphan
    assert r.store.latest_complete("enrich") == done["enrich"]
    for table in (r.lineage(), r.metrics()):
        ids = {row.snapshot_id for row in table.select("snapshot_id").collect()}
        assert orphan not in ids and done["enrich"]["snapshot_id"] in ids


def test_snapshot_commit_runs_only_the_write_job(spark, root):
    """The stage's parquet write is the only Spark job its commit runs: row
    counts and lineage come from the parquet footers, not from re-reads."""
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-one-job", "one non-shuffling stage")
    try:
        done = StageRunner(spark, root).run(
            [Stage("ingest", lambda spark, deps: spark.range(1000))])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done["ingest"]["rows"] == 1000
    assert len(sc.statusTracker().getJobIdsForGroup("ckpt-one-job")) == 1


def test_partitioned_stage_lineage_sums_to_rows(spark, root):
    """partition_by: each write task writes one file per key, and the
    lineage rows are per write task, summed over its files."""
    def keyed(spark, deps):
        return spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 5)

    r = StageRunner(spark, root)
    done = r.run([Stage("keyed", keyed, partition_by=("k",))])
    assert done["keyed"]["rows"] == 1000
    lin = {row.partition_id: row.rows for row in r.lineage().collect()}
    assert lin == {0: 250, 1: 250, 2: 250, 3: 250}


def test_zero_row_stage(spark, root):
    r = StageRunner(spark, root)
    done = r.run([Stage("empty", lambda spark, deps: spark.range(0))])
    assert done["empty"]["rows"] == 0
    assert r.lineage().agg(F.sum("rows")).collect()[0][0] in (0, None)
    assert r.metrics().collect()[0].rows == 0


def test_zero_row_partitioned_stage_feeds_a_dependent_stage(spark, root):
    """A zero-row partition_by snapshot has no files to infer a schema
    from: the dependent stage reads it with the schema in its manifest."""
    stages = [
        Stage("empty", lambda spark, deps: spark.range(0).select(
            (F.col("id") % 3).alias("k"), "id"), partition_by=("k",)),
        Stage("after", lambda spark, deps: deps["empty"].groupBy("k").count(),
              inputs=("empty",)),
    ]
    r = StageRunner(spark, root)
    done = r.run(stages)
    assert done["empty"]["rows"] == 0 and done["after"]["rows"] == 0
    # partition columns last, as in a snapshot with rows
    assert r.store.read(done["empty"]).columns == ["id", "k"]


def test_snapshot_read_keeps_written_types_and_runs_no_job(spark, root):
    """A partition column keeps the type it was written with (inference
    would read string keys "01", "02" back as integers), and reading a
    snapshot runs no schema-inference job."""
    def keyed(spark, deps):
        return spark.createDataFrame([(1, "01"), (2, "02")], "v int, k string")

    r = StageRunner(spark, root)
    done = r.run([Stage("keyed", keyed, partition_by=("k",))])
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-read", "snapshot read")
    try:
        back = r.store.read(done["keyed"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ckpt-read")) == 0
    assert back.dtypes == [("v", "int"), ("k", "string")]
    assert sorted(back.collect()) == [(1, "01"), (2, "02")]


def test_manifest_without_schema_reads_by_inference(spark, root):
    r = StageRunner(spark, root)
    done = r.run([Stage("ingest", lambda spark, deps: spark.range(3))])
    old = {k: v for k, v in done["ingest"].items() if k != "schema_json"}
    assert sorted(row.id for row in r.store.read(old).collect()) == [0, 1, 2]


def test_lineage_and_metrics_on_empty_root(spark, root):
    r = StageRunner(spark, root)
    lin, met = r.lineage(), r.metrics()
    assert lin.count() == 0 and met.count() == 0
    assert dict(lin.dtypes) == {"partition_id": "int", "rows": "bigint",
                                "stage": "string", "snapshot_id": "string"}
    assert dict(met.dtypes) == {"stage": "string", "snapshot_id": "string",
                                "rows": "bigint", "wall_s": "double",
                                "ts": "double"}


class TestShapefileWriters:
    """Write side of the shapefile boundary (dbf-export.js / shp export):
    round-trip through our readers, plus a real reference fixture."""

    def test_dbf_roundtrip(self):
        import datetime
        from mapshaper_spark.sources import shapefile as SH
        recs = [
            {"NAME": "alpha", "POP": 1200, "RATE": 1.25, "OK": True,
             "D0": datetime.date(2020, 2, 29)},
            {"NAME": "beta-longer-name", "POP": -7, "RATE": 0.5, "OK": False,
             "D0": None},
            {"NAME": "", "POP": None, "RATE": None, "OK": None,
             "D0": datetime.date(1999, 12, 31)},
        ]
        data = SH.write_dbf(recs)
        back = SH.read_dbf(data)
        assert [r["NAME"] for r in back] == ["alpha", "beta-longer-name", ""]
        assert [r["POP"] for r in back] == [1200, -7, None]
        assert [r["RATE"] for r in back] == [1.25, 0.5, None]
        assert [r["OK"] for r in back] == [True, False, None]
        assert back[0]["D0"] == datetime.date(2020, 2, 29)
        assert back[1]["D0"] is None

    def test_dbf_field_name_truncation_uniquified(self):
        from mapshaper_spark.sources import shapefile as SH
        recs = [{"a_very_long_field_1": 1, "a_very_long_field_2": 2}]
        data = SH.write_dbf(recs)
        back = SH.read_dbf(data)
        names = sorted(back[0].keys())
        assert len(names) == 2 and len(set(names)) == 2
        assert all(len(n) <= 10 for n in names)

    def test_shp_roundtrip_polygon(self):
        from mapshaper_spark.sources import shapefile as SH
        geoms = [
            {"type": SH.SHP_POLYGON,
             "parts": [[(0.0, 0.0), (0.0, 2.0), (2.0, 2.0), (2.0, 0.0), (0.0, 0.0)],
                       [(0.5, 0.5), (1.0, 0.5), (1.0, 1.0), (0.5, 1.0), (0.5, 0.5)]]},
            {"type": SH.SHP_POLYGON,
             "parts": [[(5.0, 5.0), (5.0, 6.0), (6.0, 6.0), (5.0, 5.0)]]},
        ]
        shp, shx = SH.write_shp(geoms)
        back = SH.read_shp(shp)
        assert back == geoms
        # shx: one 8-byte record per feature after the 100-byte header
        assert len(shx) == 100 + 8 * len(geoms)

    def test_shp_roundtrip_points(self):
        from mapshaper_spark.sources import shapefile as SH
        geoms = [{"type": SH.SHP_POINT, "points": [(1.5, -2.5)]},
                 {"type": SH.SHP_POINT, "points": [(0.0, 0.0)]}]
        shp, _ = SH.write_shp(geoms)
        assert SH.read_shp(shp) == geoms

    def test_reference_fixture_roundtrip(self):
        """two_states fixture: read reference-produced .shp/.dbf, write with
        our writers, re-read — geometry and attributes survive."""
        from mapshaper_spark.sources import shapefile as SH
        shp0 = open("/root/reference/test/test_data/two_states.shp", "rb").read()
        dbf0 = open("/root/reference/test/test_data/two_states.dbf", "rb").read()
        geoms = SH.read_shp(shp0)
        recs = SH.read_dbf(dbf0)
        shp1, _ = SH.write_shp(geoms)
        dbf1 = SH.write_dbf(recs)
        assert SH.read_shp(shp1) == geoms
        assert SH.read_dbf(dbf1) == recs

    def test_export_shapefile_dataframe(self, spark):
        from mapshaper_spark.sources import shapefile as SH
        df = spark.createDataFrame(
            [(1, "A", [[0.0, 0.0, 1.0, 1.0, 0.0]], [[0.0, 1.0, 1.0, 0.0, 0.0]]),
             (2, "B", [[3.0, 3.0, 4.0, 3.0]], [[3.0, 4.0, 4.0, 3.0]])],
            "fid int, name string, rings_x array<array<double>>, "
            "rings_y array<array<double>>")
        shp, shx, dbf = SH.export_shapefile(df)
        geoms = SH.read_shp(shp)
        recs = SH.read_dbf(dbf)
        assert len(geoms) == 2 and geoms[0]["type"] == SH.SHP_POLYGON
        assert [r["fid"] for r in recs] == [1, 2]
        assert [r["name"] for r in recs] == ["A", "B"]


class TestShapefileImportFid:
    """A dbf ``fid`` field is the feature key, so it must be distinct and
    non-null, like a GeoJSON ``fid`` property."""

    SQUARES = [{"type": 5, "parts": [[(x, 0.0), (x, 1.0), (x + 1.0, 1.0),
                                      (x + 1.0, 0.0), (x, 0.0)]]}
               for x in (0.0, 2.0)]

    @pytest.mark.parametrize("fids", [[7, 7], [7, None], ["a", ""]])
    def test_repeated_or_null_fid_raises(self, spark, fids):
        from mapshaper_spark.sources import shapefile as SH
        shp, _ = SH.write_shp(self.SQUARES)
        dbf = SH.write_dbf([{"fid": f, "name": n}
                            for f, n in zip(fids, "ab")])
        with pytest.raises(ValueError, match="fid"):
            SH.import_shapefile(spark, shp, dbf)

    def test_distinct_fids_are_kept(self, spark):
        from mapshaper_spark.sources import shapefile as SH
        shp, _ = SH.write_shp(self.SQUARES)
        dbf = SH.write_dbf([{"fid": 7, "name": "a"}, {"fid": 3, "name": "b"}])
        df = SH.import_shapefile(spark, shp, dbf)
        assert [(r.fid, r.name) for r in df.collect()] == [(7, "a"), (3, "b")]


class TestCellBucketing:
    """north_rule 'explicit range/hash partitioning on cell prefix': two
    tables written bucketed on the cell key join with ZERO Exchange."""

    def test_bucketed_join_is_exchange_free(self, spark, tmp_path):
        from mapshaper_spark.plans import bucketing as B
        from pyspark.sql import functions as F
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            imgs = spark.range(20000).select(
                F.col("id"), (F.col("id") % 1024).alias("cell"))
            tiles = spark.range(1024).select(
                F.col("id").alias("cell"), (F.col("id") % 24).alias("rid"))
            B.write_cell_bucketed(imgs, "t_b_imgs", 8,
                                  path=str(tmp_path / "imgs"))
            B.write_cell_bucketed(tiles, "t_b_tiles", 8,
                                  path=str(tmp_path / "tiles"))
            j = B.read_bucketed(spark, "t_b_imgs").join(
                B.read_bucketed(spark, "t_b_tiles"), "cell")
            assert j.count() == 20000
            assert not B.has_exchange(j)
            # the same join without bucketing shuffles
            assert B.has_exchange(imgs.join(tiles, "cell"))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS t_b_imgs")
            spark.sql("DROP TABLE IF EXISTS t_b_tiles")

    def test_cell_prefix_column(self, spark):
        from mapshaper_spark.plans.bucketing import cell_prefix_col
        from pyspark.sql import functions as F
        df = spark.range(8).select((F.col("id") * 16 + 3).alias("cell"))
        out = df.select(cell_prefix_col(F.col("cell"), 4).alias("p")).collect()
        assert [r.p for r in out] == list(range(8))


class TestShapefileZM:
    """Z/M record variants (shp-type.js:1-16; VERDICT r03 #6): z parsed and
    carried through import/export; m parsed-and-dropped."""

    def test_pointz_roundtrip(self):
        from mapshaper_spark.sources import shapefile as SH
        geoms = [{"type": SH.SHP_POINTZ, "points": [(1.0, 2.0)], "z": [3.5]},
                 {"type": SH.SHP_POINTZ, "points": [(4.0, 5.0)], "z": [-1.25]}]
        shp, _ = SH.write_shp(geoms)
        assert SH.read_shp(shp) == geoms

    def test_polygonz_roundtrip_multipart(self):
        from mapshaper_spark.sources import shapefile as SH
        geoms = [{"type": SH.SHP_POLYGONZ,
                  "parts": [[(0., 0.), (0., 1.), (1., 1.), (0., 0.)],
                            [(2., 2.), (3., 2.), (2., 3.), (2., 2.)]],
                  "parts_z": [[0., 1., 2., 0.], [5., 6., 7., 5.]]}]
        shp, _ = SH.write_shp(geoms)
        assert SH.read_shp(shp) == geoms

    def test_multipointz_roundtrip(self):
        from mapshaper_spark.sources import shapefile as SH
        geoms = [{"type": SH.SHP_MULTIPOINTZ,
                  "points": [(0., 0.), (1., 1.)], "z": [9.0, 10.0]}]
        shp, _ = SH.write_shp(geoms)
        assert SH.read_shp(shp) == geoms

    def test_polylinem_measures_dropped(self):
        import struct
        from mapshaper_spark.sources import shapefile as SH
        body = struct.pack("<i4dii", SH.SHP_POLYLINEM, 0., 0., 1., 1., 1, 2)
        body += struct.pack("<i", 0)
        body += struct.pack("<4d", 0., 0., 1., 1.)
        body += struct.pack("<2d", -1e39, -1e39) + struct.pack("<2d", 0., 0.)
        content = struct.pack(">ii", 1, len(body) // 2) + body
        h = bytearray(100)
        struct.pack_into(">i", h, 0, 9994)
        struct.pack_into(">i", h, 24, (100 + len(content)) // 2)
        struct.pack_into("<ii", h, 28, 1000, SH.SHP_POLYLINEM)
        out = SH.read_shp(bytes(h) + content)
        assert out == [{"type": SH.SHP_POLYLINEM,
                        "parts": [[(0., 0.), (1., 1.)]]}]

    def test_import_export_dataframe_z(self, spark):
        """PolygonZ through the Spark import -> export round trip keeps z
        per ring (the VERDICT 'round-trip through -o shp' criterion)."""
        from mapshaper_spark.sources import shapefile as SH
        geoms = [{"type": SH.SHP_POLYGONZ,
                  "parts": [[(0., 0.), (0., 2.), (2., 2.), (0., 0.)]],
                  "parts_z": [[1., 2., 3., 1.]]}]
        shp0, _ = SH.write_shp(geoms)
        df = SH.import_shapefile(spark, shp0)
        assert "rings_z" in df.columns
        shp1, _, _ = SH.export_shapefile(df.drop("fid"))
        assert SH.read_shp(shp1) == geoms


class TestDbfCodepages:
    """Language-driver codepage table + encoding cases transcribed from the
    reference's own dbf test suite (dbf-reader-test.js; VERDICT r03 #7)."""

    FIX = "/root/reference/test/test_data/dbf/"

    def _recs(self, path, enc=None):
        from mapshaper_spark.sources import shapefile as SH
        return SH.read_dbf(open(self.FIX + path, "rb").read(), encoding=enc)

    def test_user_specified_encodings(self):
        # dbf-reader-test.js '#importRecords() w/ user-specified encoding'
        assert self._recs("latin1.dbf", "latin-1")[0]["NAME"] == "Peçeña México"
        assert self._recs("gbk.dbf", "gbk")[0]["NAME"] == "简体国语"
        assert self._recs("big5.dbf", "big5")[0]["NAME"] == "繁體國語"
        assert self._recs("gb2312.dbf", "gb2312")[0]["NAME"] == "简体国语"
        recs = self._recs("shiftjis.dbf", "shift_jis")
        assert recs[0]["NAME"] == "ひたちなか市"
        assert recs[1]["NAME"] == "西蒲原郡弥彦村"
        recs = self._recs("eucjp.dbf", "euc_jp")
        assert recs[0]["NAME"] == "ひたちなか市"
        assert recs[1]["NAME"] == "西蒲原郡弥彦村"

    def test_ldid_byte_selects_codepage(self):
        # ldid/chinese.dbf carries a language-driver byte -> cp936
        assert self._recs("ldid/chinese.dbf")[0]["NAME"] == "简体"

    def test_utf8_autodetected(self):
        assert self._recs("utf8.dbf")[0]["NAME"] == "国语國語"

    def test_duplicate_fields_renamed_and_asterisks_null(self):
        # dbf-reader-test.js 'Duplicate fields' (both cases)
        rows = self._recs("duplicate_fields.dbf")
        assert rows[1] == {
            "SP_ID": "2", "geoid": "15003009703", "rate": 0.3079,
            "employed": 780, "unemployed": 123, "not_in_lab": 224,
            "error": 0.082941522262937, "rate_women": 0.29776,
            "employed_w": 783, "unemployed_1": 21, "not_in_lab_1": 311,
            "error_wome": 0.076490098765061}
        r0 = rows[0]
        assert r0["SP_ID"] == "1" and r0["geoid"] == "15003980600"
        assert r0["rate"] is None and r0["error"] is None
        assert r0["employed"] == 0

    def test_lookup_codepage_table(self):
        from mapshaper_spark.sources.shapefile import lookup_codepage
        assert lookup_codepage(0x03) == "cp1252"
        assert lookup_codepage(0x4D) == "cp936"
        assert lookup_codepage(0x13) == "cp932"
        assert lookup_codepage(0xC9) == "cp1251"
        assert lookup_codepage(0x00) is None

    def test_cpg_sidecar_encodings(self):
        # dbf-reader-test.js '#importRecords() with .cpg file' — all 7 cases
        from mapshaper_spark.sources.shapefile import normalize_encoding
        base = self.FIX + "cpg/"
        for f, expect in [("big5", "國語"), ("latin2", "čeština"),
                          ("win874", "ภาษาไทย"), ("win1251", "РУССКИЙ"),
                          ("koi8r", "русский"), ("shiftjis", "カタカナひらがな"),
                          ("euckr", "한국말")]:
            cpg = open(base + f + ".cpg").read().strip()
            recs = self._recs("cpg/" + f + ".dbf", normalize_encoding(cpg))
            assert recs[0]["NAME"] == expect, (f, recs[0]["NAME"])


class TestPrjSidecar:
    """.prj (ESRI WKT) -> proj4 parsing + CLI integration (shp-export.js:21
    pass-through; the dataset CRS feeds -proj as the source)."""

    def test_geogcs_and_projcs_parse(self):
        from mapshaper_spark.sources.prj import wkt_to_proj4
        w = open("/root/reference/test/test_data/two_states.prj").read()
        assert wkt_to_proj4(w) == "+proj=longlat +datum=WGS84"
        wm = open("/root/reference/test/test_data/two_states_mercator.prj").read()
        p4 = wkt_to_proj4(wm)
        assert p4.startswith("+proj=merc +a=6378137.0 +rf=298.257223563")

    def test_unsupported_projection_raises(self):
        import pytest
        from mapshaper_spark.sources.prj import wkt_to_proj4
        wkt = ('PROJCS["weird",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
               'SPHEROID["WGS_1984",6378137,298.257223563]],'
               'PRIMEM["Greenwich",0],UNIT["Degree",0.017453]],'
               'PROJECTION["Space_Oblique_Mercator"],UNIT["Meter",1]]')
        with pytest.raises(ValueError):
            wkt_to_proj4(wkt)

    def test_projcs_parameters_map(self):
        from mapshaper_spark.sources.prj import wkt_to_proj4
        wkt = ('PROJCS["lcc_test",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
               'SPHEROID["WGS_1984",6378137,298.257223563]],'
               'PRIMEM["Greenwich",0],UNIT["Degree",0.017453]],'
               'PROJECTION["Lambert_Conformal_Conic"],'
               'PARAMETER["central_meridian",-96],'
               'PARAMETER["latitude_of_origin",23],'
               'PARAMETER["standard_parallel_1",33],'
               'PARAMETER["standard_parallel_2",45],'
               'PARAMETER["false_easting",0],UNIT["Meter",1]]')
        p4 = wkt_to_proj4(wkt)
        assert "+proj=lcc" in p4 and "+lon_0=-96.0" in p4
        assert "+lat_1=33.0" in p4 and "+lat_2=45.0" in p4 and "+lat_0=23.0" in p4

    def test_cli_prj_import_and_passthrough(self, spark, tmp_path):
        """Import a .shp with its .prj, run an attribute op, export shp:
        the .prj rides through verbatim."""
        import shutil
        from mapshaper_spark.cli import run_commands
        for ext in (".shp", ".dbf", ".prj"):
            shutil.copy("/root/reference/test/test_data/two_states" + ext,
                        tmp_path / ("two_states" + ext))
        out = tmp_path / "out.shp"
        cat = run_commands(
            spark, f"-i {tmp_path}/two_states.shp -each 'X2 = 1' -o {out}")
        assert (tmp_path / "out.prj").exists()
        assert (tmp_path / "out.prj").read_text() == \
            open("/root/reference/test/test_data/two_states.prj").read().strip()
        assert cat.layer().crs  # proj4 recorded for the layer

    def test_cli_proj_uses_prj_as_source(self, spark, tmp_path):
        """A layer imported with a projected .prj inverse-projects through
        that CRS when -proj targets wgs84 (the reference projects from the
        dataset CRS)."""
        import shutil
        from mapshaper_spark.cli import run_commands
        from mapshaper_spark.sources import shapefile as SH
        import numpy as np
        from mapshaper_spark.geom.projections import get_projection
        # write a small projected point shapefile + mercator .prj
        merc = get_projection("+proj=merc +a=6378137.0 +rf=298.257223563")
        x, y = merc.fwd(np.array([-90.0]), np.array([40.0]))
        shp, shx = SH.write_shp([{"type": SH.SHP_POINT,
                                  "points": [(float(x[0]), float(y[0]))]}])
        (tmp_path / "pts.shp").write_bytes(shp)
        (tmp_path / "pts.shx").write_bytes(shx)
        (tmp_path / "pts.dbf").write_bytes(SH.write_dbf([{"fid": 1}]))
        shutil.copy("/root/reference/test/test_data/two_states_mercator.prj",
                    tmp_path / "pts.prj")
        out = tmp_path / "out.json"
        cat = run_commands(spark, f"-i {tmp_path}/pts.shp -proj wgs84 -o {out}")
        import json as _json
        geo = _json.loads(out.read_text())
        cc = geo["features"][0]["geometry"]["coordinates"]
        assert abs(cc[0] - (-90.0)) < 1e-6 and abs(cc[1] - 40.0) < 1e-6


class TestPrjNationalGrids:
    """Round-4 .prj tail: real-world national-grid WKT spellings resolve to
    the matching projection families and reproduce published constants."""

    def test_dutch_rd_double_stereographic(self):
        import numpy as np
        from mapshaper_spark.sources.prj import wkt_to_proj4
        from mapshaper_spark.geom.projections import get_projection
        rd = ('PROJCS["RD_New",GEOGCS["GCS_Amersfoort",DATUM["D_Amersfoort",'
              'SPHEROID["Bessel_1841",6377397.155,299.1528128]],'
              'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
              'PROJECTION["Double_Stereographic"],'
              'PARAMETER["False_Easting",155000.0],'
              'PARAMETER["False_Northing",463000.0],'
              'PARAMETER["Central_Meridian",5.38763888888889],'
              'PARAMETER["Scale_Factor",0.9999079],'
              'PARAMETER["Latitude_Of_Origin",52.15616055555555],'
              'UNIT["Meter",1.0]]')
        p4 = wkt_to_proj4(rd)
        assert p4.startswith("+proj=sterea")
        p = get_projection(p4)
        x, y = p.fwd(np.array([5.38763888888889]),
                     np.array([52.15616055555555]))
        assert abs(float(x[0]) - 155000.0) < 1e-6
        assert abs(float(y[0]) - 463000.0) < 1e-6

    def test_krovak_east_north(self):
        import numpy as np
        from mapshaper_spark.sources.prj import wkt_to_proj4
        from mapshaper_spark.geom.projections import get_projection
        kr = ('PROJCS["S-JTSK_Krovak_East_North",GEOGCS["GCS_S_JTSK",'
              'DATUM["D_S_JTSK",SPHEROID["Bessel_1841",6377397.155,'
              '299.1528128]],PRIMEM["Greenwich",0.0],'
              'UNIT["Degree",0.0174532925199433]],PROJECTION["Krovak"],'
              'PARAMETER["False_Easting",0.0],'
              'PARAMETER["False_Northing",0.0],'
              'PARAMETER["Pseudo_Standard_Parallel_1",78.5],'
              'PARAMETER["Scale_Factor",0.9999],'
              'PARAMETER["Azimuth",30.28813975277778],'
              'PARAMETER["Longitude_Of_Center",24.83333333333333],'
              'PARAMETER["Latitude_Of_Center",49.5],'
              'PARAMETER["X_Scale",-1.0],PARAMETER["Y_Scale",1.0],'
              'PARAMETER["XY_Plane_Rotation",90.0],UNIT["Meter",1.0]]')
        p = get_projection(wkt_to_proj4(kr))
        lat = 50 + 12 / 60 + 32.442 / 3600
        lon = 16 + 50 / 60 + 59.179 / 3600
        x, y = p.fwd(np.array([lon]), np.array([lat]))
        # EPSG worked example in East-North axes (both negative)
        assert abs(float(x[0]) - (-568991.00)) < 0.05
        assert abs(float(y[0]) - (-1050538.63)) < 0.05


class TestDbfWriterReferenceParity:
    """Transcribed from /root/reference/test/dbf-writer-test.js."""

    def test_numeric_field_info_table(self):
        from mapshaper_spark.sources.shapefile import _numeric_field_info

        def calc(arr):
            recs = [{"foo": v} for v in arr]
            return _numeric_field_info(recs, "foo")

        assert calc([0, -100.22, 0.2]) == (-100.22, 0.2, 2)
        assert calc([-0.000001, 100000000.999999]) == \
            (-0.000001, 100000000.999999, 6)
        assert calc([-73.9356]) == (-73.9356, 0, 4)
        inf = float("inf")
        assert calc([inf, -inf, 2, None, float("nan")]) == (0, 2, 0)
        assert calc([]) == (0, 0, 0)
        assert calc([2.324209002348e-6]) == (0, 2.324209002348e-6, 15)
        assert calc([100000.00000001]) == (0, 100000.00000001, 8)
        assert calc([0.0000001, 0.99999, 0.00002, 0.001]) == \
            (0, 0.99999, 7)

    def _rt(self, recs):
        from mapshaper_spark.sources import shapefile as SH
        return SH.read_dbf(SH.write_dbf(recs))

    def test_null_records_preserved(self):
        assert self._rt([{"foo": None}]) == [{"foo": None}]

    def test_empty_strings_preserved(self):
        assert self._rt([{"foo": ""}]) == [{"foo": ""}]

    def test_10_letter_names_preserved(self):
        assert self._rt([{"abcdefghij": "foo"}]) == [{"abcdefghij": "foo"}]

    def test_11_letter_names_truncated(self):
        assert self._rt([{"abcdefghijk": "foo"}]) == [{"abcdefghij": "foo"}]

    def test_truncation_conflicts_resolved(self):
        got = self._rt([{"abcdefghijk": "foo", "abcdefghij": "bar"}])
        assert got == [{"abcdefgh_1": "foo", "abcdefghij": "bar"}]
        got2 = self._rt([{"abcdefghij": "bar", "abcdefghijk": "foo"}])
        assert got2 == [{"abcdefgh_1": "foo", "abcdefghij": "bar"}]

    def test_truncation_conflicts_resolved_3(self):
        got = self._rt([{"abcdefghijk": "a", "abcdefghijkl": "b",
                         "abcdefghijklm": "c", "abcdefgh_2": "d"}])
        assert got == [{"abcdefghij": "a", "abcdefgh_1": "b",
                        "abcdefgh_3": "c", "abcdefgh_2": "d"}]

    def test_numbers_and_ascii_roundtrip(self):
        recs = [
            {"a": -1200, "b": 0.3, "c": "Mexico City"},
            {"a": 0, "b": 0, "c": "Jerusalem"},
            {"a": 20000, "b": -0.00000000001, "c": ""},
        ]
        got = self._rt(recs)
        assert [(r["a"], r["b"], r["c"]) for r in got] == \
            [(-1200, 0.3, "Mexico City"), (0, 0, "Jerusalem"),
             (20000, -0.00000000001, "")]
