"""Sensor-object facade: the reference's per-sensor API surface end to end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eodatadown_spark.catalog import ParquetCatalog
from eodatadown_spark.sensor import LandsatGoogSensor, Sentinel1ASFSensor, get_sensor_obj


@pytest.fixture()
def sensor(spark, tmp_path):
    s = LandsatGoogSensor(ParquetCatalog(spark, str(tmp_path)))
    s.init_sensor_db()
    return s


def _index(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [
            {
                "scene_id": sid,
                "product_id": f"LC08_L1TP_001001_{acq.replace('-', '')}_{proc}_01_T1",
                "spacecraft_id": "LANDSAT_8",
                "sensor_id": "OLI_TIRS",
                "date_acquired": dt.date.fromisoformat(acq),
                "sensing_time": dt.datetime.fromisoformat(acq + "T10:00:00"),
                "collection_number": "01",
                "collection_category": "T1",
                "data_type": "L1TP",
                "wrs_path": 1, "wrs_row": 1, "cloud_cover": cloud,
                "north_lat": 52.0, "south_lat": 50.0, "east_lon": 2.0, "west_lon": 0.0,
                "total_size": 1000, "remote_url": f"gs://b/{sid}",
            }
            for sid, acq, proc, cloud in rows
        ]
    )


def test_sensor_lifecycle(spark, sensor):
    n = sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0)])
    )
    assert n == 2

    # incremental: stale rows below watermark skipped, new added, dup resolved
    n = sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190601", 10.0),   # below wm
                       ("C", "2019-03-15", "20190320", 20.0)])
    )
    assert n == 1
    assert sensor.query_scn_records_date_count("2019-12-31", "2019-01-01").first()["n_scenes"] == 3

    assert [r["pid"] for r in sensor.get_scnlist_download().collect()] == [0, 1, 2]

    updated = sensor.run_stage(
        sensor.get_scnlist_download(),
        lambda s: {"pid": s["pid"], "downloaded": True, "download_path": f"/dl/{s['pid']}"},
        "pid long, downloaded boolean, download_path string",
    )
    assert updated == 3
    assert sensor.get_scnlist_download().count() == 0
    assert [r["pid"] for r in sensor.get_scnlist_con2ard().collect()] == [0, 1, 2]

    info = sensor.get_sensor_summary_info()
    assert info["n_scenes"] == 3 and info["n_downloaded"] == 3
    assert info["size_stats"]["median"] == 1000

    rec = sensor.get_scn_record(0)
    assert rec["scene_id"] == "A"
    with pytest.raises(ValueError, match="pid=99"):
        sensor.get_scn_record(99)


def test_sensor_date_bbox_count(spark, sensor):
    # F7+A3 named count facade (ref eodatadownlandsatgoogsensor.py:2070-2103)
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0)])
    )
    # fixture scenes span lon 0..2, lat 50..52; bbox (w,e,s,n) in ref order
    hit = sensor.query_scn_records_date_bbox_count(
        "2019-12-31", "2019-01-01", (1.0, 3.0, 51.0, 53.0)
    ).first()["n_scenes"]
    miss = sensor.query_scn_records_date_bbox_count(
        "2019-12-31", "2019-01-01", (10.0, 12.0, 51.0, 53.0)
    ).first()["n_scenes"]
    assert (hit, miss) == (2, 0)
    # matches count()-on-the-query composition
    assert hit == sensor.query_scn_records_date_bbox(
        "2019-12-31", "2019-01-01", (1.0, 3.0, 51.0, 53.0)
    ).count()


def test_sensor_bbox_only_query(spark, sensor):
    """F7 bbox-ONLY facade (abstract surface eodatadownsensor.py:410 —
    every reference impl raises, engine binds the strict-overlap
    predicate): reference argument order (lat_north, lat_south, lon_east,
    lon_west), no date window, invalid rows excluded, count twin agrees."""
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0),
                       ("C", "2020-07-01", "20200710", 5.0)])
    )
    # fixture scenes span lon 0..2, lat 50..52
    hit = sensor.query_scn_records_bbox(53.0, 51.0, 3.0, 1.0)
    assert hit.count() == 3  # all three, regardless of date
    # DESC by date: newest first
    assert [r["scene_id"] for r in hit.collect()] == ["C", "B", "A"]
    assert sensor.query_scn_records_bbox(53.0, 51.0, 12.0, 10.0).count() == 0
    # strict inequality: a bbox only TOUCHING the scene edge misses
    assert sensor.query_scn_records_bbox(50.0, 48.0, 3.0, 1.0).count() == 0
    assert sensor.query_scn_records_bbox_count(53.0, 51.0, 3.0, 1.0).first()[
        "n_scenes"
    ] == 3
    # pagination through the facade kwarg path
    page = sensor.query_scn_records_bbox(53.0, 51.0, 3.0, 1.0, start_rec=1, n_recs=1)
    assert [r["scene_id"] for r in page.collect()] == ["B"]


def test_sensor_point_probes_and_unq_names(spark, sensor):
    """has_scn_* / is_scn_invalid / get_scn_unq_name / get_scnlist_all
    (ref eodatadownlandsatgoogsensor.py:734-1915 point-lookup family)."""
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0)])
    )
    assert [r["pid"] for r in sensor.get_scnlist_all().collect()] == [0, 1]
    assert sensor.has_scn_download(0) is False
    assert sensor.is_scn_invalid(0) is False
    assert sensor.has_scn_con2ard(0) is False
    assert sensor.has_scn_datacube(0) is False
    assert sensor.has_scn_quicklook(0) is False   # NULL extended_info
    assert sensor.has_scn_tilecache(0) is False
    sensor.run_stage(
        sensor.get_scnlist_download().where(F.col("pid") == 0),
        lambda s: {"pid": s["pid"], "downloaded": True,
                   "download_path": "/dl/0"},
        "pid long, downloaded boolean, download_path string",
    )
    assert sensor.has_scn_download(0) is True
    assert sensor.has_scn_download(1) is False
    # extended_info key probes flip when the JSON gains the key
    sensor.run_stage(
        sensor.scenes().where(F.col("pid") == 0).select("pid"),
        lambda s: {"pid": s["pid"],
                   "extended_info": '{"quicklook": {"path": "/q/0"}}'},
        "pid long, extended_info string",
    )
    assert sensor.has_scn_quicklook(0) is True
    assert sensor.has_scn_tilecache(0) is False
    # unique names: '{product_id}_{pid}', record form query-free
    rec = sensor.get_scn_record(0)
    assert sensor.get_scn_unq_name(0) == f"{rec['product_id']}_0"
    assert sensor.get_scn_unq_name_record(rec) == sensor.get_scn_unq_name(0)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="pid=99"):
        sensor.is_scn_invalid(99)


def test_sensor_has_scn_usr_analysis(spark, sensor, plugin_results_df):
    """ref :1648-1680: no plugin rows -> False; all configured plugins
    completed -> True; a configured plugin without a completed row ->
    False."""
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0)])
    )
    sensor.catalog.write(plugin_results_df, sensor.plugin_table, partition=False)
    # fixture: pid 0 has PlgA completed; pid 1 has PlgA NOT completed
    assert sensor.has_scn_usr_analysis(0, ["PlgA"]) is True
    assert sensor.has_scn_usr_analysis(0, ["PlgA", "PlgB"]) is False
    assert sensor.has_scn_usr_analysis(1, ["PlgA"]) is False


def test_obsdates_need_processing_and_overview_paths(spark, sensor):
    from eodatadown_spark import reports
    from eodatadown_spark.functions.paths import update_overview_file_paths

    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0)])
    )
    obs, _bridge = sensor.build_obs_date_records("LandsatGOOG")
    todo = reports.get_lst_obsdates_need_processing(obs).collect()
    assert [str(r["obs_date"]) for r in todo] == ["2019-01-05", "2019-02-10"]
    assert reports.get_lst_obsdates_need_processing(obs, sensor="Nope").count() == 0
    # driver-side overview path rewrite (ref eodatadownsensor.py:838-851)
    lst = ["/old/a.png", "/other/b.png"]
    assert update_overview_file_paths(lst, None) == lst
    assert update_overview_file_paths(None, {"/old": "/new"}) is None
    assert update_overview_file_paths(lst, {"/old": "/new"}) == [
        "/new/a.png", "/other/b.png"]


def test_sensor_dwnlds_archived(spark, sensor):
    """Anti-join archival (abstract surface eodatadownsensor.py:425):
    downloaded scenes whose path is absent from the present-paths relation
    flip archived=True; already-archived and not-downloaded rows
    untouched; optional prefix rewrite applies first."""
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 60.0),
                       ("C", "2019-03-15", "20190320", 5.0)])
    )
    sensor.run_stage(
        sensor.get_scnlist_download().where(F.col("pid") < 2),
        lambda s: {"pid": s["pid"], "downloaded": True,
                   "download_path": f"/dl/{s['pid']}"},
        "pid long, downloaded boolean, download_path string",
    )
    # only /dl/0 still exists → pid 1 archives, pid 0 stays, pid 2 (never
    # downloaded) untouched
    present = spark.createDataFrame([("/dl/0",)], "path string")
    assert sensor.dwnlds_archived(present) == 1
    assert {r["pid"]: r["archived"] for r in sensor.scenes().collect()} == {
        0: False, 1: True, 2: False}
    # idempotent: a second pass archives nothing new
    assert sensor.dwnlds_archived(present) == 0
    # prefix rewrite: move /dl → /mnt/dl; with the rewritten paths present
    # nothing further archives and the stored paths reflect the rewrite
    present2 = spark.createDataFrame([("/mnt/dl/0",)], "path string")
    assert sensor.dwnlds_archived(present2, "/dl", "/mnt/dl") == 0
    assert sensor.get_scn_record(0)["download_path"] == "/mnt/dl/0"


def test_sensor_check_from_start_dedups(spark, sensor):
    sensor.check_new_scns(_index(spark, [("A", "2019-01-05", "20190110", 10.0)]))
    # same scene reprocessed with a NEWER product: check_from_start bypasses
    # the watermark; J4 keeps the newer product row
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190601", 10.0)]), check_from_start=True
    )
    rows = sensor.scenes().collect()
    assert len(rows) == 1 and "20190601" in rows[0]["product_id"]


def test_check_new_scns_commits_declared_types(spark, sensor):
    """An index frame's own column types (a long wrs_path) are cast to the
    declared schema before the ingest commits, so the stored version's
    types are those of schemas.LANDSAT_SCENES."""
    from eodatadown_spark import schemas

    idx = _index(spark, [("A", "2019-01-05", "20190110", 10.0)])
    assert idx.schema["wrs_path"].dataType.simpleString() == "bigint"
    sensor.check_new_scns(idx)
    stored = spark.read.parquet(
        sensor.catalog.data_path("landsat_scenes")
    ).drop("p_year")
    assert stored.dtypes == [
        (f.name, f.dataType.simpleString()) for f in schemas.LANDSAT_SCENES.fields
    ]


def test_sensor_dispatch_and_unknown(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    s1 = get_sensor_obj("Sentinel1ASF", cat)
    assert isinstance(s1, Sentinel1ASFSensor)
    with pytest.raises(ValueError, match="unknown sensor"):
        get_sensor_obj("nope", cat)


def test_sentinel1_watermark_col(spark, tmp_path):
    import datetime as dt

    s1 = get_sensor_obj("Sentinel1ASF", ParquetCatalog(spark, str(tmp_path)))
    s1.init_sensor_db()
    base = spark.createDataFrame(
        [{"scene_id": "S1A", "product_file_id": "PF1",
          "begin_position": dt.datetime(2019, 6, 1, 1, 2, 3),
          "acquisition_date": dt.datetime(2019, 6, 1)}]
    )
    assert s1.check_new_scns(base) == 1
    # idempotent on the unique product_file_id key
    assert s1.check_new_scns(base, check_from_start=True) == 0


def test_sensor_plugins_roundtrip(spark, sensor):
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 20.0)])
    )
    # make both scenes ARD so they're schedulable for analysis
    sensor.run_stage(sensor.get_scnlist_download(),
                     lambda s: {"pid": s["pid"], "downloaded": True},
                     "pid long, downloaded boolean")
    sensor.run_stage(sensor.get_scnlist_con2ard(),
                     lambda s: {"pid": s["pid"], "ardproduct": True},
                     "pid long, ardproduct boolean")

    assert sorted(r["pid"] for r in sensor.get_scnlist_usr_analysis(["PlgA"]).collect()) == [0, 1]
    added = sensor.run_usr_analysis({"PlgA": lambda s: (True, {"pid": s["pid"]}, False)})
    assert added == 2
    assert sensor.get_scnlist_usr_analysis(["PlgA"]).count() == 0  # drained
    res = sensor.get_scn_usr_analysis_results(0).collect()
    assert len(res) == 1 and res[0]["success"] is True
    # second run with an extra plugin only runs the missing one
    added = sensor.run_usr_analysis({
        "PlgA": lambda s: (True, {}, False),
        "PlgB": lambda s: (False, {}, False),
    })
    assert added == 2  # PlgB for both scenes
    assert sensor.get_scn_obs_date(0) == __import__("datetime").date(2019, 1, 5)
    assert sensor.get_scn_obs_date(999) is None


def test_check_new_scns_keeps_concurrent_commit(spark, sensor, monkeypatch):
    """A scene-table commit that lands while check_new_scns builds its
    upsert survives: the upsert re-derives on top of the winner instead of
    flipping a table built from the stale scenes over it."""
    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 20.0)])
    )
    cat = sensor.catalog
    rival = spark.createDataFrame([(0, 99.0)], "pid long, cloud_cover double")

    orig = ParquetCatalog._write_version
    fired = {"done": False}

    def hooked(self, df, table, partition=True, *args, **kw):
        if table == "landsat_scenes" and not fired["done"]:
            fired["done"] = True
            # another process patches pid 0 inside our build window
            ParquetCatalog(spark, cat.root).merge_updates("landsat_scenes", rival)
        return orig(self, df, table, partition, *args, **kw)

    monkeypatch.setattr(ParquetCatalog, "_write_version", hooked)
    added = sensor.check_new_scns(
        _index(spark, [("C", "2019-03-15", "20190320", 30.0)])
    )
    assert fired["done"] and added == 1
    rows = {r["pid"]: r for r in cat.read_clean("landsat_scenes").collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["cloud_cover"] == 99.0
    assert rows[2]["scene_id"] == "C"


def test_run_usr_analysis_keeps_concurrent_plugin_commit(spark, sensor, monkeypatch):
    """A plugin_results commit that lands while run_usr_analysis builds its
    union survives: the union re-derives on top of the winner instead of
    flipping a stale copy over it."""
    from eodatadown_spark import schemas

    sensor.check_new_scns(
        _index(spark, [("A", "2019-01-05", "20190110", 10.0),
                       ("B", "2019-02-10", "20190215", 20.0)])
    )
    sensor.run_stage(sensor.get_scnlist_download(),
                     lambda s: {"pid": s["pid"], "downloaded": True,
                                "ardproduct": True},
                     "pid long, downloaded boolean, ardproduct boolean")
    cat = sensor.catalog
    cat.write(spark.createDataFrame([], schema=schemas.PLUGIN_RESULTS),
              "plugin_results", partition=False)
    rival = spark.createDataFrame(
        [{"scene_pid": 99, "plugin_name": "Rival", "completed": True,
          "success": True, "outputs": False, "start_time": None,
          "end_time": None, "extended_info": None}],
        schema=schemas.PLUGIN_RESULTS,
    )

    orig = ParquetCatalog._write_version
    fired = {"done": False}

    def hooked(self, df, table, partition=True, *args, **kw):
        if table == "plugin_results" and not fired["done"]:
            fired["done"] = True
            # another process commits a plugin row inside our build window
            other = ParquetCatalog(spark, cat.root)
            other.write(other.read_clean("plugin_results").unionByName(rival),
                        "plugin_results", partition=False)
        return orig(self, df, table, partition, *args, **kw)

    monkeypatch.setattr(ParquetCatalog, "_write_version", hooked)
    added = sensor.run_usr_analysis({"PlgA": lambda s: (True, {}, False)})
    assert fired["done"] and added == 2
    got = {(r["scene_pid"], r["plugin_name"])
           for r in cat.read_clean("plugin_results").collect()}
    assert got == {(99, "Rival"), (0, "PlgA"), (1, "PlgA")}
