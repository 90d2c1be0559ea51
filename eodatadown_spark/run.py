"""System orchestration: the eodatadownrun entry points over sensor objects.

Maps the reference's top-level flows (SURVEY §3):

- find_new_downloads  (eodatadownrun.py:45-68): per sensor, incremental
  ingest + optional ROI trim + usage-log row.
- process_scenes_all_steps (:768-787): walk every stage's to-do list with a
  pluggable task runner per stage; ONE batched state merge per stage.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame

from eodatadown_spark import sinks
from eodatadown_spark.config import SystemMain
from eodatadown_spark.sensor import SensorBase

# stage name → (todo getter, update-row DDL, default mock runner)
def _download_runner(s: dict) -> dict:
    return {"pid": s["pid"], "downloaded": True,
            "download_path": f"/downloads/{s['pid']}"}


def _ard_runner(s: dict) -> dict:
    return {"pid": s["pid"], "ardproduct": True,
            "ardproduct_path": f"/ard/{s['pid']}"}


def _dc_runner(s: dict) -> dict:
    return {"pid": s["pid"], "dcloaded": True}


STAGES: dict[str, tuple[str, str, Callable[[dict], dict]]] = {
    "download": ("get_scnlist_download",
                 "pid long, downloaded boolean, download_path string",
                 _download_runner),
    "con2ard": ("get_scnlist_con2ard",
                "pid long, ardproduct boolean, ardproduct_path string",
                _ard_runner),
    "datacube": ("get_scnlist_datacube", "pid long, dcloaded boolean", _dc_runner),
}


def find_new_downloads(
    system: SystemMain,
    index_feeds: Mapping[str, DataFrame],
    check_from_start: bool = False,
) -> dict[str, int]:
    """Per-sensor incremental ingest from the supplied normalized index
    DataFrames (transport is injectable — fixtures locally, HTTP fetchers in
    deployment), then ROI trim when configured."""
    added: dict[str, int] = {}
    roi = system.get_roi_df()
    for name, sensor in zip(system.config.sensors, system.get_sensor_objs()):
        feed = (
            index_feeds.get(name)
            or index_feeds.get(type(sensor).__name__)
            or index_feeds.get(sensor.table)
        )
        if feed is None:
            print(f"find_new_downloads: no index feed for sensor {name!r}; skipping")
            continue
        if not sensor.catalog.exists(sensor.table):
            sensor.init_sensor_db()
        n = sensor.check_new_scns(feed, check_from_start=check_from_start)
        if roi is not None:
            sensor.rm_scns_intersect(roi)
        added[name] = n
        sinks.append_usage_log(
            system.catalog, name, "checked for new scenes",
            {"found_new_scns": True, "new_scns_avail": n > 0},
        )
    return added


def process_scenes_all_steps(
    system: SystemMain,
    runners: Mapping[str, Callable[[dict], dict]] | None = None,
) -> dict[str, dict[str, int]]:
    """Advance every sensor through download → ARD → datacube with one
    batched merge per stage (the reference walks scene-by-scene in a
    multiprocessing pool; eodatadownrun.py:699-845)."""
    runners = dict(runners or {})
    results: dict[str, dict[str, int]] = {}
    for name, sensor in zip(system.config.sensors, system.get_sensor_objs()):
        if not sensor.catalog.exists(sensor.table):
            continue
        per_stage: dict[str, int] = {}
        for stage, (getter, ddl, default_runner) in STAGES.items():
            todo = getattr(sensor, getter)()
            per_stage[stage] = sensor.run_stage(
                todo, runners.get(stage, default_runner), ddl
            )
        results[name] = per_stage
        sinks.append_usage_log(
            system.catalog, name, "processed scene stages",
            {"downloaded_new_scns": per_stage.get("download", 0) > 0,
             "convert_new_scns_ard": per_stage.get("con2ard", 0) > 0,
             "ingest_new_scns_to_dc": per_stage.get("datacube", 0) > 0},
        )
    return results
