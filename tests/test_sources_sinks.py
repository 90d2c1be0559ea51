"""Source adapters (S1-S5 parsing parity) and export sinks (K2/K5/K7/K3)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from eodatadown_spark.sources import index_adapters as A
from eodatadown_spark import sinks


def test_landsat_index_adapter(spark):
    raw = spark.createDataFrame(
        [
            ("LC1", "LC08_P1", "LANDSAT_8", "OLI_TIRS", "2019-06-01",
             "2019-06-01T10:11:12.123456Z", "01", "T1", "L1TP",
             "12", "34", "15.5", "52.0", "50.0", "2.0", "0.0", "123456", "gs://x/1"),
            ("LC2", "LC08_P2", "LANDSAT_7", "ETM", "2019-07-01",
             "2019-07-01T10:11:12.123456Z", "01", "RT", "L1TP",
             "12", "35", "90.0", "52.0", "50.0", "2.0", "0.0", "9", "gs://x/2"),
        ],
        "scene_id string, product_id string, spacecraft_id string, sensor_id string,"
        "date_acquired string, sensing_time string, collection_number string,"
        "collection_category string, data_type string, wrs_path string, wrs_row string,"
        "cloud_cover string, north_lat string, south_lat string, east_lon string,"
        "west_lon string, total_size string, base_url string",
    )
    out = A.landsat_index_scenes(
        raw, wrs_tiles=[(12, 34)], cloud_thres=50.0, spacecraft=["LANDSAT_8"],
        collection_cats=["T1"], months=[6],
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["scene_id"] == "LC1"
    assert r["date_acquired"] == dt.date(2019, 6, 1)
    assert r["sensing_time"] == dt.datetime(2019, 6, 1, 10, 11, 12, 123456)
    assert r["wrs_path"] == 12 and r["cloud_cover"] == 15.5


def test_sentinel2_platform_derivation(spark):
    raw = spark.createDataFrame(
        [
            ("G1", "P1", "GS2A_20190601", "30UVG", "2019-06-01T00:00:00",
             "PASSED", "2019-06-02T00:00:00", "33.3", "52.0", "50.0", "2.0", "0.0",
             "100", "gs://s2/1"),
            ("G2", "P2", "GS2B_20190601", "30UVG", "2019-06-01T00:00:00",
             "PASSED", "2019-06-02T00:00:00", "notanumber", "52.0", "50.0", "2.0", "0.0",
             "100", "gs://s2/2"),
        ],
        "granule_id string, product_id string, datatake_identifier string,"
        "mgrs_tile string, sensing_time string, geometric_quality_flag string,"
        "generation_time string, cloud_cover string, north_lat string, south_lat string,"
        "east_lon string, west_lon string, total_size string, base_url string",
    )
    rows = {r["granule_id"]: r for r in A.sentinel2_index_scenes(raw).collect()}
    assert rows["G1"]["platform_id"] == "Sentinel2A"
    assert rows["G2"]["platform_id"] == "Sentinel2B"
    assert rows["G2"]["cloud_cover"] is None  # C9 safe-cast on bad numeric


def test_asf_adapter_wkt_and_na(spark):
    raw = spark.createDataFrame(
        [
            ("SC1", "PN1", "PF1", "100", "10", "0", "ASCENDING", "GN", "GT",
             "NA", "RIGHT", "SA", "VV", "2019-06-02T01:02:03",
             "desc", "GRD_HD", "GRD", "GRD", "2019-06-01T01:02:03", "C-SAR",
             "2019-06-01T01:02:03.000001", "2019-06-01T01:02:33",
             "POLYGON((-1.5 50.0, 2.5 50.0, 2.5 52.0, -1.5 52.0, -1.5 50.0))",
             "https://x/1.zip", "1.zip", "abcd", "123.5"),
        ],
        "sceneId string, productName string, product_file_id string,"
        "absoluteOrbit string, relativeOrbit string, doppler string,"
        "flightDirection string, granuleName string, granuleType string,"
        "incidenceAngle string, lookDirection string, platform string,"
        "polarization string, processingDate string, processingDescription string,"
        "processingLevel string, processingType string, processingTypeDisplay string,"
        "sceneDate string, sensor string, startTime string, stopTime string,"
        "stringFootprint string, downloadUrl string, fileName string, md5sum string,"
        "sizeMB string",
    )
    r = A.asf_search_scenes(raw).first()
    assert r["incidence_angle"] is None  # 'NA' → null (C9)
    assert (r["west_lon"], r["east_lon"], r["south_lat"], r["north_lat"]) == (-1.5, 2.5, 50.0, 52.0)
    assert r["begin_position"] == dt.datetime(2019, 6, 1, 1, 2, 3, 1)
    assert r["total_size"] == int(123.5 * 1024 * 1024)


def test_gedi_finder_filename_date(spark):
    raw = spark.createDataFrame(
        [("https://e4ftl01.cr.usgs.gov/GEDI/GEDI01_B.001/GEDI01_B_2019108185228_O01971_T03337_02_003_01.h5",)],
        "url string",
    )
    r = A.gedi_finder_granules(raw, "GEDI01_B", "001").first()
    assert r["file_name"].startswith("GEDI01_B_2019108")
    assert r["date_acquired"] == dt.date(2019, 4, 18)  # day 108 of 2019
    assert r["time_acquired"] == dt.datetime(2019, 4, 18, 18, 52, 28)


def test_cmr_adapter_boxes_polygons_invalid(spark):
    rows = [
        {"producer_granule_id": "P1", "id": "G1", "title": "T1",
         "time_start": "2019-06-01T00:00:00", "time_end": "2019-06-01T01:00:00",
         "updated": "2019-06-02T00:00:00", "original_format": "HDF5",
         "online_access_flag": "true", "granule_size": "10.5",
         "boxes": ["50.0 -1.5 52.0 2.5"], "polygons": None},
        {"producer_granule_id": "P2", "id": "G2", "title": "T2",
         "time_start": "2019-06-01T00:00:00", "time_end": "2019-06-01T01:00:00",
         "updated": "2019-06-02T00:00:00", "original_format": "HDF5",
         "online_access_flag": "true", "granule_size": "10.5",
         "boxes": None, "polygons": ["50.0 -1.0 51.0 2.0 52.0 1.0 50.0 -1.0"]},
        {"producer_granule_id": "P3", "id": "G3", "title": "tiny-no-geom",
         "time_start": "2019-06-01T00:00:00", "time_end": "2019-06-01T01:00:00",
         "updated": "2019-06-02T00:00:00", "original_format": "HDF5",
         "online_access_flag": "false", "granule_size": "0.5",
         "boxes": None, "polygons": None},
    ]
    raw = spark.createDataFrame(
        rows,
        "producer_granule_id string, id string, title string, time_start string,"
        "time_end string, updated string, original_format string,"
        "online_access_flag string, granule_size string,"
        "boxes array<string>, polygons array<string>",
    )
    out = {r["granule_id"]: r for r in A.cmr_granules(raw).collect()}
    assert set(out) == {"G1", "G2"}  # G3 dropped: no geometry, size<=4
    g1 = out["G1"]  # boxes are "S W N E"
    assert (g1["south_lat"], g1["west_lon"], g1["north_lat"], g1["east_lon"]) == (50.0, -1.5, 52.0, 2.5)
    g2 = out["G2"]  # polygons are "lat lon lat lon ..."
    assert (g2["south_lat"], g2["north_lat"]) == (50.0, 52.0)
    assert (g2["west_lon"], g2["east_lon"]) == (-1.0, 2.0)


def test_geojson_export(landsat_scenes, tmp_path):
    out = str(tmp_path / "scenes.geojson")
    n = sinks.export_geojson(landsat_scenes, out)
    assert n == 7
    with open(out, encoding="utf-8") as fh:
        fc = json.load(fh)
    assert fc["type"] == "FeatureCollection"
    f0 = next(f for f in fc["features"] if f["properties"]["pid"] == "0")
    ring = f0["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1]  # closed ring
    assert f0["properties"]["scene_id"] == "S1"


def test_vector_layer_fallback_writes_geojson(landsat_scenes, tmp_path):
    """Without osgeo the OGR sink degrades to GeoJSON at a sidecar path
    (never GeoJSON bytes inside a mislabeled .gpkg) and reports the driver
    that actually ran; features are identical to export_geojson."""
    try:
        import osgeo  # noqa: F401

        import pytest

        pytest.skip("osgeo installed; the live OGR test covers this")
    except ImportError:
        pass
    out = str(tmp_path / "scenes.gpkg")
    res = sinks.export_vector_layer(landsat_scenes, out, add_lyr=True)
    assert res["driver"] == "GeoJSON-fallback"
    assert res["path"] == out + ".geojson" and res["features"] == 7
    with open(res["path"], encoding="utf-8") as fh:
        fc = json.load(fh)
    assert len(fc["features"]) == 7


def test_vector_layer_ogr_roundtrip(landsat_scenes, tmp_path):
    """Live OGR path (auto-skips without osgeo): create, then layer-append
    with add_lyr=True — the reference's add_lyr convention — and read the
    features back through OGR."""
    import pytest

    pytest.importorskip("osgeo")
    from osgeo import ogr

    out = str(tmp_path / "scenes.gpkg")
    res = sinks.export_vector_layer(landsat_scenes, out, layer_name="l8")
    assert res["driver"] == "GPKG" and res["features"] == 7
    # append a second layer into the SAME file
    res2 = sinks.export_vector_layer(
        landsat_scenes, out, layer_name="extra", add_lyr=True
    )
    assert res2["features"] == 7
    ds = ogr.Open(out)
    assert {ds.GetLayer(i).GetName() for i in range(ds.GetLayerCount())} == {
        "l8", "extra",
    }
    lyr = ds.GetLayerByName("l8")
    assert lyr.GetFeatureCount() == 7
    f = lyr.GetNextFeature()
    assert f.GetGeometryRef().GetGeometryName() == "POLYGON"


def test_command_list_split(landsat_scenes, tmp_path):
    paths = sinks.write_command_lists(
        landsat_scenes, "run.py --pid {pid}", str(tmp_path / "cmds.sh"), n_splits=3
    )
    assert len(paths) == 3
    lines = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            lines += [line for line in fh.read().splitlines() if line]
    assert len(lines) == 7 and "run.py --pid 6" in lines


def test_datacube_docs_band_map(spark, landsat_scenes):
    docs = {r["pid"]: json.loads(r["dataset_doc"])
            for r in sinks.datacube_dataset_docs(landsat_scenes).collect()}
    assert set(docs) == {0, 1, 6}  # ard & valid only
    assert "coastal_aerosol" in docs[0]["bands"]  # LANDSAT_8 7-band map


def test_usage_log_append(spark, tmp_path):
    from eodatadown_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path))
    sinks.append_usage_log(cat, "LandsatGOOG", "checked for scenes",
                           {"found_new_scns": True})
    sinks.append_usage_log(cat, "LandsatGOOG", "downloaded", {"downloaded_new_scns": True})
    df = cat.read("usage_log")
    assert df.count() == 2
    assert df.where(F.col("found_new_scns") == True).count() == 1  # noqa: E712


def test_usage_log_append_keeps_committed_version(spark, tmp_path):
    """A later audit row commits a new version: the first version still
    reads back as it was committed, with its one row."""
    from eodatadown_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path))
    sinks.append_usage_log(cat, "LandsatGOOG", "first")
    sinks.append_usage_log(cat, "LandsatGOOG", "second")
    assert cat.read_version("usage_log", 0).count() == 1
    assert cat.read("usage_log").count() == 2


def test_events_ts_type_canary(spark):
    """Canary: the driver's nanos-parquet events.ts must read as
    TIMESTAMP_NTZ on this Spark build, and the NTZ→LTZ→double cast chain the
    engine relies on (sessionize & friends) must resolve.  A Spark-version
    bump that changes either fails here instead of in the driver."""
    from eodatadown_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    # resolves + executes (would raise AnalysisException on a direct cast)
    row = ev.select(F.col("ts").cast("timestamp").cast("double").alias("e")).first()
    assert row["e"] is not None


class TestJAXASARTiles:
    """Sixth sensor adapter: the reference's one-off JAXA SAR tile tracker
    (sep_utils/CreateLclJAXAFileLst.py) — schema-declared catalog, per-year
    file-list export in PID order with pre-seeded empty years, gzip-JSON
    roundtrip, year/tile filters."""

    @staticmethod
    def _fixture_rows():
        # (tile_name, parent_tile, year, file_name, server_file_path)
        def r(tile, parent, year):
            fn = f"{tile}_{str(year)[2:]}_MOS.tar.gz"
            return (tile, parent, year,
                    fn, f"/data/jaxa/{year}/{parent}/{fn}")
        return [
            r("N10E010", "N10E010", 1996),
            r("N10E011", "N10E010", 1996),
            r("N10E010", "N10E010", 2007),
            r("N11E012", "N11E012", 2007),
            r("N12E013", "N12E013", 2017),
        ]

    def _sensor(self, spark, tmp_path):
        from eodatadown_spark.catalog import ParquetCatalog
        from eodatadown_spark.sensor import get_sensor_obj

        cat = ParquetCatalog(spark, str(tmp_path))
        sensor = get_sensor_obj("JAXASARTiles", cat)
        sensor.init_sensor_db()
        incoming = spark.createDataFrame(
            self._fixture_rows(),
            "tile_name string, parent_tile string, year int, "
            "file_name string, server_file_path string",
        ).withColumn(
            "start_date",
            F.to_timestamp(F.concat(F.col("year").cast("string"),
                                    F.lit("-01-01"))),
        ).withColumn("instrument_name", F.lit("PALSAR"))
        assert sensor.check_new_scns(incoming) == 5
        return sensor

    def test_year_file_lists_parity(self, spark, tmp_path):
        """Parity with the reference script's body: for each avail year a
        pre-seeded list, filled with Server_File_Path in PID (insertion)
        order — empty years PRESENT as empty lists (ref :48-53)."""
        sensor = self._sensor(spark, tmp_path)
        got = sensor.year_file_lists()
        tiles = {
            (r["year"], r["pid"]): r["server_file_path"]
            for r in sensor.scenes().collect()
        }
        want = {}
        for cyear in sensor.AVAIL_YEARS:          # ref avail_years loop
            want[cyear] = [
                tiles[(y, p)] for (y, p) in sorted(tiles) if y == cyear
            ]
        assert got == want
        assert got[2008] == [] and len(got[1996]) == 2  # empty year kept

    def test_gzip_roundtrip_and_filters(self, spark, tmp_path):
        sensor = self._sensor(spark, tmp_path)
        out = str(tmp_path / "JAXASARMosaicFiles.json.gz")
        sensor.export_year_file_lists(out)
        import gzip, json

        with gzip.open(out, "rt") as fh:
            payload = json.load(fh)
        assert sorted(payload) == sorted(
            str(y) for y in sensor.AVAIL_YEARS
        )
        assert payload["1996"] == sensor.year_file_lists()[1996]

        # inverse ingest into a fresh catalog reproduces the lists
        from eodatadown_spark.catalog import ParquetCatalog
        from eodatadown_spark.sensor import get_sensor_obj

        cat2 = ParquetCatalog(spark, str(tmp_path / "cat2"))
        s2 = get_sensor_obj("JAXASARTiles", cat2)
        s2.init_sensor_db()
        assert s2.import_file_lists(out) == 5
        assert s2.year_file_lists() == sensor.year_file_lists()

        # F4 filters over the tile catalog
        assert sensor.tiles_for(years=[1996]).count() == 2
        assert sensor.tiles_for(parent_tiles=["N10E010"]).count() == 3
        assert sensor.tiles_for(
            years=[2007], tile_names=["N11E012"]
        ).count() == 1

    def test_watermark_ingest_skips_old_years(self, spark, tmp_path):
        """Standard T1 watermark semantics apply to the tile tracker: tiles
        at or below the max ingested start_date (2017) are skipped, a
        newer release year ingests."""
        sensor = self._sensor(spark, tmp_path)
        more = spark.createDataFrame(
            [("N09E009", "N09E009", 2018, "N09E009_18_MOS.tar.gz",
              "/data/jaxa/2018/N09E009/N09E009_18_MOS.tar.gz"),
             ("N10E012", "N10E012", 1996, "N10E012_96_MOS.tar.gz",
              "/data/jaxa/1996/N10E012/N10E012_96_MOS.tar.gz")],
            "tile_name string, parent_tile string, year int, "
            "file_name string, server_file_path string",
        ).withColumn(
            "start_date",
            F.to_timestamp(F.concat(F.col("year").cast("string"),
                                    F.lit("-01-01"))),
        ).withColumn("instrument_name", F.lit("PALSAR"))
        assert sensor.check_new_scns(more) == 1     # 1996 behind watermark
        assert sensor.tiles_for(years=[2018]).count() == 1
        # check_from_start bypasses the watermark (the reference's full
        # re-scan mode) and the upsert anti-join still dedups exactly
        assert sensor.check_new_scns(more, check_from_start=True) == 1
        assert sensor.tiles_for(years=[1996]).count() == 3
