"""The catalog benchmark's workloads: ``scene_query`` and ``daily_cycle``.

Both run one client in a closed loop (the next operation starts when the
previous one returns) against a Landsat catalog seeded at set-up;
``daily_cycle`` also folds a document batch into a stored near-duplicate
index each cycle.  Only public engine entry points are called.  Every
output is checked outside the timed window; a failed check counts as a
failed operation.
"""

from __future__ import annotations

import collections
import contextlib
import datetime as dt
import json
import math
import os
import shutil
import statistics
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from eodatadown_spark import ingest, pipeline, queries, reports, run, schemas, sinks
from eodatadown_spark.catalog import ParquetCatalog
from eodatadown_spark.config import SystemMain, sign_config
from eodatadown_spark.operators import dedup, similarity
from eodatadown_spark.sensor import SensorBase, get_sensor_obj
from eodatadown_spark.sources.index_adapters import landsat_index_scenes

from perfbench import inputs
from perfbench.tracer import Tracer

TABLE = "landsat_scenes"
SENSOR = "LandsatGOOG"
SIZES = {
    "full": {"scenes": 24_000, "delta": 400, "docs": 4_000, "batch": 200, "vectors": 2_000},
    "smoke": {"scenes": 1_500, "delta": 40, "docs": 300, "batch": 30, "vectors": 200},
}
SETUP_REPEATS = 3
WARM_UP_ROUNDS = 2
PAGE = 50
JACCARD = 0.5  # near-duplicate threshold, as in q150_incremental_clusters
TOPK, TOPK_QUERIES = 5, 8

# -- set-up ---------------------------------------------------------------


def processed_rows(base: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The base index as catalog rows of scenes that already went through
    download, ARD and datacube load; 5% are flagged invalid (the share
    FIXTURES.md gives the scene fixtures)."""
    rng = np.random.default_rng([seed, 5])
    n = len(base)
    pid = np.arange(n, dtype=np.int64)
    done = pd.Timestamp("2000-01-01")
    hour = pd.Timedelta(hours=1)
    out = pd.DataFrame({
        "pid": pid,
        "date_acquired": pd.to_datetime(base["date_acquired"]).dt.date,
        "sensing_time": pd.to_datetime(base["sensing_time"].str.rstrip("Z")),
        "wrs_path": base["wrs_path"].astype("int32"),
        "wrs_row": base["wrs_row"].astype("int32"),
        "total_size": base["total_size"].astype("int64"),
        "remote_url": base["base_url"],
        "query_date": done,
        "download_start_date": done,
        "download_end_date": done + hour,
        "downloaded": True,
        "download_path": [f"/downloads/{p}" for p in pid],
        "archived": False,
        "ardproduct_start_date": done + hour,
        "ardproduct_end_date": done + 2 * hour,
        "ardproduct": True,
        "ardproduct_path": [f"/ard/{p}" for p in pid],
        "dcloaded_start_date": done + 2 * hour,
        "dcloaded_end_date": done + 3 * hour,
        "dcloaded": True,
        "invalid": rng.random(n) < 0.05,
        "extended_info": None,
        "reg_check": False,
    })
    for col in ("cloud_cover", "north_lat", "south_lat", "east_lon", "west_lon"):
        out[col] = base[col].astype("float64")
    for col in ("scene_id", "product_id", "spacecraft_id", "sensor_id",
                "collection_number", "collection_category", "data_type"):
        out[col] = base[col]
    return out[[f.name for f in schemas.LANDSAT_SCENES.fields]]


def seed_catalogs(spark, work: str, rows: pd.DataFrame, more=None) -> tuple[ParquetCatalog, float]:
    """Set up ``SETUP_REPEATS`` times: write the seeded catalog into a
    fresh root through ``ParquetCatalog.write``, then run ``more`` (the
    rest of a workload's set-up) if given; keep the last catalog.
    Returns it and the median set-up time."""
    times, cat = [], None
    for k in range(SETUP_REPEATS):
        if cat is not None:
            shutil.rmtree(cat.root)
        t0 = time.perf_counter()
        cat = ParquetCatalog(spark, os.path.join(work, f"catalog{k}"))
        cat.write(spark.createDataFrame(rows, schema=schemas.LANDSAT_SCENES), TABLE)
        if more is not None:
            more()
        times.append(time.perf_counter() - t0)
    return cat, statistics.median(times)


def tree_files(root: str) -> dict[int, tuple[str, int]]:
    """inode -> (path, size) of every file under ``root``; hard links
    collapse to one entry."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            out.setdefault(st.st_ino, (path, st.st_size))
    return out


def catalog_bytes(root: str) -> int:
    return sum(size for _path, size in tree_files(root).values())


# -- tracing targets ------------------------------------------------------

QUERY_FUNCS = [
    "query_scn_records_date", "query_scn_records_date_bbox",
    "query_scn_records_date_keyset", "query_scn_records_date_bbox_count",
    "get_scn_record", "get_scns_for_date", "find_unique_scn_dates",
    "get_scnlist_download", "get_scnlist_con2ard", "get_scnlist_datacube",
]
TARGETS = [
    (run, "find_new_downloads", "run.find_new_downloads"),
    (run, "process_scenes_all_steps", "run.process_scenes_all_steps"),
    (SensorBase, "check_new_scns", "sensor.check_new_scns"),
    (SensorBase, "run_stage", "sensor.run_stage"),
    (ingest, "upsert_new_scenes", "ingest.upsert_new_scenes"),
    (ingest, "assign_pids", "ingest.assign_pids"),
    (ingest, "resolve_duplicate_scenes", "ingest.resolve_duplicate_scenes"),
    (ParquetCatalog, "read", "catalog.read"),
    (ParquetCatalog, "write", "catalog.write"),
    (ParquetCatalog, "merge_updates", "catalog.merge_updates"),
    (pipeline, "run_scene_tasks", "pipeline.run_scene_tasks"),
    *[(queries, f, f"queries.{f}") for f in QUERY_FUNCS],
    (reports, "sensor_summary_counts", "reports.sensor_summary_counts"),
    (reports, "column_stats", "reports.column_stats"),
    (reports, "build_obs_date_records", "reports.build_obs_date_records"),
    (reports, "get_obs_scns", "reports.get_obs_scns"),
    (sinks, "export_geojson", "sinks.export_geojson"),
    (sinks, "append_usage_log", "sinks.append_usage_log"),
    (dedup, "jaccard_prefix_probe_parts", "operators.dedup.jaccard_prefix_probe_parts"),
    (dedup, "update_clusters", "operators.dedup.update_clusters"),
    (similarity, "cosine_topk", "operators.similarity.cosine_topk"),
]
_STAGE_OF_DDL = {ddl: stage for stage, (_getter, ddl, _fn) in run.STAGES.items()}


def _stage_label(args, kwargs) -> str:
    ddl = kwargs.get("update_schema", args[3] if len(args) > 3 else "")
    return _STAGE_OF_DDL.get(ddl, "other")


def make_tracer(spark) -> Tracer:
    return Tracer(spark, TARGETS, labels={"sensor.run_stage": _stage_label})


MIX = [
    "date_page", "bbox_cloud_page", "bbox_cloud_deep_page", "keyset_page",
    "bbox_count", "record_by_pid", "scenes_for_date", "unique_dates",
    "sensor_summary", "obs_dates", "geojson_page",
]
QUERY_OPS = MIX[:8]  # the ops the queries module serves


# per-layer metrics one workload computes from its own records; the other
# workload reports them as 0
WORKLOAD_LAYERS = {
    "ingest.rows_incoming": (0.0, "count"),
    "ingest.added_frac": (0.0, "ratio"),
    "catalog.bytes_written_per_op": (0.0, "B"),
    "catalog.files_written_per_op": (0.0, "count"),
    "catalog.rows_written_per_row_changed": (0.0, "ratio"),
    "pipeline.task_calls_per_scene": (0.0, "ratio"),
    "queries.rows_scanned_per_row_returned": (0.0, "ratio"),
    "queries.files_read_per_op": (0.0, "count"),
    "operators.dedup.sql_actions_per_batch": (0.0, "count"),
    "operators.dedup.jobs_per_batch": (0.0, "count"),
    "operators.dedup.new_pairs_per_batch": (0.0, "count"),
}


def per_layer(tr: Tracer, traced: list[int], extra: dict) -> dict:
    """Every per-layer metric, 0 where this workload does not reach the
    layer.  Times are per traced op unless named p50; a p50 is taken over
    the calls of a function, each its plan building plus the execution of
    the DataFrame it returned."""
    ops = [tr.ops[i] for i in traced]

    def mean(key: str) -> float:
        return sum(o[key] for o in ops) / len(ops) if ops else 0.0

    def busy(layer: str) -> float:
        return tr.per_op(layer, traced)

    def self_s(layer: str) -> float:
        return tr.per_op(layer, traced, self_time=True)

    def p50_ms(layer: str) -> float:
        durs = tr.inclusive(layer)
        return 1000.0 * statistics.median(durs) if durs else 0.0

    m = {
        "spark.jobs_per_op": (mean("jobs"), "count"),
        "spark.sql_actions_per_op": (mean("sql_actions"), "count"),
        "spark.tasks_per_op": (mean("tasks"), "count"),
        "spark.shuffle_write_bytes_per_op": (mean("shuffle_write_bytes"), "B"),
        "spark.spill_bytes_per_op": (mean("spill_bytes"), "B"),
        "spark.gc_s_per_op": (mean("gc_s"), "s"),
    }
    for layer in ("run.find_new_downloads", "run.process_scenes_all_steps",
                  "sensor.check_new_scns", "sensor.run_stage"):
        m[f"{layer}.busy_s"] = (busy(layer), "s")
        m[f"{layer}.self_s"] = (self_s(layer), "s")
    for stage in run.STAGES:
        m[f"sensor.run_stage.{stage}.busy_s"] = (busy(f"sensor.run_stage.{stage}"), "s")
    m["ingest.assign_pids.busy_s"] = (busy("ingest.assign_pids"), "s")
    for layer in ("catalog.read", "catalog.write", "catalog.merge_updates"):
        m[f"{layer}.busy_s"] = (busy(layer), "s")
    m["pipeline.fanout_self_s"] = (
        busy("sensor.run_stage") - busy("catalog.merge_updates"), "s")
    for name in QUERY_OPS:
        durs = [o["latency"] for o in ops if o["name"] == name]
        m[f"queries.{name}.p50_ms"] = (
            1000.0 * statistics.median(durs) if durs else 0.0, "ms")
    for layer in ("reports.sensor_summary_counts", "reports.column_stats",
                  "reports.build_obs_date_records", "sinks.export_geojson"):
        m[f"{layer}.p50_ms"] = (p50_ms(layer), "ms")
    m["sinks.append_usage_log.busy_s"] = (busy("sinks.append_usage_log"), "s")
    for layer in ("operators.dedup.jaccard_prefix_probe_parts", "operators.dedup.update_clusters"):
        m[f"{layer}.busy_s"] = (busy(layer), "s")
    m["operators.similarity.cosine_topk.p50_ms"] = (p50_ms("operators.similarity.cosine_topk"), "ms")
    wanted = set(traced)
    m["trace.spans_per_op"] = (
        sum(1 for s in tr.spans if s.op in wanted) / len(traced) if traced else 0.0, "count")
    # the tracer's own time in the ops over the ops' time without it; and
    # the traced op p50, to set against op_p50_ms of an untraced run of
    # the same seed, which does the same work
    own = sum(o["tracer_s"] for o in ops)
    m["trace.overhead_frac"] = (own / max(sum(o["latency"] for o in ops) - own, 1e-9), "ratio")
    m["trace.op_p50_ms"] = (1000.0 * statistics.median(o["latency"] for o in ops) if ops else 0.0, "ms")
    m.update(WORKLOAD_LAYERS)
    m.update(extra)
    return m


# -- scene_query ----------------------------------------------------------


def _window(rng, lo: int, hi: int) -> tuple[str, str]:
    """(most recent, oldest) inclusive bounds of a 1995–1999 window."""
    days = int(rng.integers(lo, hi))
    old = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 5 * 365 - days)))
    return str(old + dt.timedelta(days=days)), str(old)


def _bbox(rng, width: float, height: float) -> tuple[float, float, float, float]:
    w = round(float(rng.uniform(-180.0, 180.0 - width)), 3)
    s = round(float(rng.uniform(-60.0, 70.0 - height)), 3)
    return (w, w + width, s, s + height)


def draw_params(rng, name: str, n_scenes: int) -> dict:
    if name == "date_page":
        start, end = _window(rng, 60, 240)
        return {"start": start, "end": end}
    if name in ("bbox_cloud_page", "bbox_count", "geojson_page"):
        start, end = _window(rng, 120, 480)
        return {"start": start, "end": end,
                "bbox": _bbox(rng, float(rng.uniform(20, 60)), float(rng.uniform(20, 40))),
                "cloud": round(float(rng.uniform(20, 80)), 1)}
    if name == "bbox_cloud_deep_page":
        start, end = _window(rng, 600, 900)
        return {"start": start, "end": end, "bbox": _bbox(rng, 60.0, 50.0),
                "cloud": round(float(rng.uniform(50, 90)), 1),
                "offset": int(rng.integers(200, 500))}
    if name == "keyset_page":
        start, end = _window(rng, 180, 360)
        after = dt.date.fromisoformat(end) + dt.timedelta(days=int(rng.integers(0, 90)))
        return {"start": start, "end": end,
                "after": (str(after), int(rng.integers(0, n_scenes)))}
    if name == "record_by_pid":
        return {"pid": int(rng.integers(0, n_scenes))}
    if name == "scenes_for_date":
        return {"date": _window(rng, 0, 1)[1]}
    if name == "obs_dates":
        start, end = _window(rng, 60, 120)
        return {"before": start, "after": end}
    return {}


def _page(rows) -> list[tuple]:
    return [(r["pid"], r["scene_id"], str(r["date_acquired"]), r["cloud_cover"]) for r in rows]


def run_op(sensor, name: str, p: dict, out_dir: str):
    """One query of the mix through the sensor facade; returns a value the
    oracle can compare (or, for the GeoJSON export, the file written)."""
    if name == "date_page":
        return _page(sensor.query_scn_records_date(p["start"], p["end"], n_recs=PAGE).collect())
    if name in ("bbox_cloud_page", "bbox_cloud_deep_page"):
        return _page(sensor.query_scn_records_date_bbox(
            p["start"], p["end"], p["bbox"], cloud_thres=p["cloud"],
            start_rec=p.get("offset", 0), n_recs=PAGE).collect())
    if name == "keyset_page":
        return _page(sensor.query_scn_records_date_keyset(
            p["start"], p["end"], after=p["after"], n_recs=PAGE).collect())
    if name == "bbox_count":
        return sensor.query_scn_records_date_bbox_count(
            p["start"], p["end"], p["bbox"], cloud_thres=p["cloud"]).first()["n_scenes"]
    if name == "record_by_pid":
        return _page([sensor.get_scn_record(p["pid"])])
    if name == "scenes_for_date":
        return _page(sensor.get_scns_for_date(p["date"]).collect())
    if name == "unique_dates":
        return [str(r["obs_date"]) for r in sensor.find_unique_scn_dates().collect()]
    if name == "sensor_summary":
        return sensor.get_sensor_summary_info()
    if name == "obs_dates":
        obs, _bridge = sensor.build_obs_date_records()
        rows = reports.get_obs_scns(obs, start_date=p["before"], end_date=p["after"]).collect()
        return [(str(r["obs_date"]), r["platform_id"]) for r in rows]
    if name == "geojson_page":
        path = os.path.join(out_dir, "page.geojson")
        sinks.export_geojson(sensor.query_scn_records_date_bbox(
            p["start"], p["end"], p["bbox"], cloud_thres=p["cloud"], n_recs=PAGE), path)
        return path
    raise ValueError(name)


def settle(name: str, result):
    """Outside the timer: read back what an op wrote."""
    if name != "geojson_page":
        return result
    with open(result, encoding="utf-8") as fh:
        feats = json.load(fh)["features"]
    return [int(f["properties"]["pid"]) for f in feats]


class Oracle:
    """DuckDB over the Parquet files of one catalog version."""

    _PAGE = "SELECT pid, scene_id, CAST(date_acquired AS VARCHAR), cloud_cover FROM s"
    _DATE = "date_acquired <= CAST(? AS DATE) AND date_acquired >= CAST(? AS DATE) AND NOT invalid"
    _BBOX = " AND cloud_cover <= ? AND east_lon > ? AND ? > west_lon AND north_lat > ? AND ? > south_lat"

    def __init__(self, data_path: str):
        self.con = duckdb.connect()
        files = os.path.join(data_path, "**", "*.parquet").replace("'", "''")
        self.con.execute(
            f"CREATE VIEW s AS SELECT * FROM read_parquet('{files}', hive_partitioning = true)")

    def _rows(self, sql: str, args: list) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, args).fetchall()]

    def expect(self, name: str, p: dict):
        date = [p.get("start"), p.get("end")]
        if name == "date_page":
            return self._rows(f"{self._PAGE} WHERE {self._DATE} ORDER BY date_acquired DESC, pid LIMIT {PAGE}", date)
        if name in ("bbox_cloud_page", "bbox_cloud_deep_page", "geojson_page"):
            w, e, s, n = p["bbox"]
            rows = self._rows(
                f"{self._PAGE} WHERE {self._DATE}{self._BBOX} ORDER BY date_acquired DESC, pid "
                f"LIMIT {PAGE} OFFSET {p.get('offset', 0)}",
                date + [p["cloud"], w, e, s, n])
            return [r[0] for r in rows] if name == "geojson_page" else rows
        if name == "keyset_page":
            d, pid = p["after"]
            return self._rows(
                f"{self._PAGE} WHERE {self._DATE} AND (date_acquired > CAST(? AS DATE) OR "
                f"(date_acquired = CAST(? AS DATE) AND pid > ?)) ORDER BY date_acquired, pid LIMIT {PAGE}",
                date + [d, d, pid])
        if name == "bbox_count":
            w, e, s, n = p["bbox"]
            return self.con.execute(
                f"SELECT count(*) FROM s WHERE {self._DATE}{self._BBOX}",
                date + [p["cloud"], w, e, s, n]).fetchone()[0]
        if name == "record_by_pid":
            return self._rows(f"{self._PAGE} WHERE pid = ?", [p["pid"]])
        if name == "scenes_for_date":
            return self._rows(f"{self._PAGE} WHERE date_acquired = CAST(? AS DATE) AND NOT invalid ORDER BY pid", [p["date"]])
        if name == "unique_dates":
            return [r[0] for r in self._rows(
                "SELECT DISTINCT CAST(date_acquired AS VARCHAR) d FROM s WHERE NOT invalid ORDER BY d DESC", [])]
        if name == "obs_dates":
            return self._rows(
                "SELECT DISTINCT CAST(date_acquired AS VARCHAR) d, spacecraft_id FROM s WHERE NOT invalid "
                "AND date_acquired < CAST(? AS DATE) AND date_acquired > CAST(? AS DATE) ORDER BY d",
                [p["before"], p["after"]])
        if name == "sensor_summary":
            c = self.con.execute(
                "SELECT count(*), count(*) FILTER (NOT invalid), count(*) FILTER (invalid), "
                "count(*) FILTER (downloaded), count(*) FILTER (ardproduct), "
                "count(*) FILTER (dcloaded), count(*) FILTER (archived), "
                "count(total_size), sum(total_size), avg(total_size), min(total_size), "
                "max(total_size), stddev_samp(total_size), "
                "quantile_cont(total_size, [0.25, 0.5, 0.75]) FROM s").fetchone()
            keys = ["n_scenes", "n_valid", "n_invalid", "n_downloaded", "n_ard",
                    "n_dcloaded", "n_archived"]
            stats = ["n", "total", "mean", "min", "max", "stdev"]
            out = dict(zip(keys, c[:7]))
            out["size_stats"] = {
                **{k: round(float(v), 4) for k, v in zip(stats, c[7:13])},
                **dict(zip(["q1", "median", "q3"], [round(float(v), 4) for v in c[13]])),
            }
            return out
        raise ValueError(name)


def same(got, want) -> bool:
    """Equality, with float leaves compared to 1e-9 relative."""
    if isinstance(got, dict) and isinstance(want, dict):
        return got.keys() == want.keys() and all(same(got[k], want[k]) for k in got)
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same(a, b) for a, b in zip(got, want))
    if isinstance(got, float) or isinstance(want, float):
        return got is not None and want is not None and math.isclose(
            float(got), float(want), rel_tol=1e-9, abs_tol=1e-6)
    return got == want


def scene_query(spark, work: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    n_scenes = SIZES[size]["scenes"]
    t_begin = time.perf_counter()
    rows = processed_rows(inputs.base_index(seed, n_scenes), seed)
    cat, setup_s = seed_catalogs(spark, work, rows)
    t_setup = time.perf_counter()
    sensor = get_sensor_obj(SENSOR, cat)
    rng = np.random.default_rng([seed, 6])
    samples = []  # (name, params, latency, result, traced); latency None = warm-up
    # untimed warm-up rounds: the first round takes about twice as long as
    # a warm one while the JIT compiles the query paths, the second about
    # a quarter longer; a third would not fit the run budget
    for name in MIX * WARM_UP_ROUNDS:
        p = draw_params(rng, name, n_scenes)
        samples.append((name, p, None, settle(name, run_op(sensor, name, p, work)), False))

    tr = make_tracer(spark) if trace else None
    t_warm = time.perf_counter()
    traced = []
    measured_s = 0.0
    if trace:
        tr.install()
    try:
        # whole rounds of the mix until their summed time reaches ``seconds``
        while measured_s == 0.0 or measured_s < seconds:
            for name in MIX:
                p = draw_params(rng, name, n_scenes)
                if trace:
                    tr.op_begin(name)
                t0 = time.perf_counter()
                with tr.span("op") if trace else contextlib.nullcontext():
                    result = run_op(sensor, name, p, work)
                latency = time.perf_counter() - t0
                if trace:
                    traced.append(tr.op_end(latency))
                samples.append((name, p, latency, settle(name, result), trace))
                measured_s += latency
    finally:
        if trace:
            tr.remove()

    t_measured = time.perf_counter()
    oracle = Oracle(cat.data_path(TABLE))
    failed = returned = 0
    for name, p, _lat, got, is_traced in samples:
        if not same(got, oracle.expect(name, p)):
            failed += 1
            print(f"check failed: {name} {p}", flush=True)
        if is_traced and name in QUERY_OPS:
            returned += len(got) if isinstance(got, list) else 1

    lat = [s[2] for s in samples if s[2] is not None]
    result = {
        "attempted": len(samples),
        "failed": failed,
        "e2e": {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (1000.0 * statistics.median(lat), "ms"),
            "items_per_s": (len(lat) / sum(lat), "1/s"),
            "catalog_bytes_per_scene": (catalog_bytes(cat.root) / n_scenes, "B"),
        },
        "summary": {
            "queries": len(lat), **_percentiles(lat),
            "lat_ms": [round(1000 * x) for x in lat],
            "phases_s": _phases(t_begin, t_setup, t_warm, t_measured, time.perf_counter()),
        },
    }
    if trace:
        q_ops = [i for i in traced if tr.ops[i]["name"] in QUERY_OPS]
        scanned = sum(tr.ops[i]["rows_scanned"] for i in q_ops)
        extra = {
            "queries.rows_scanned_per_row_returned": (scanned / max(returned, 1), "ratio"),
            "queries.files_read_per_op": (
                sum(tr.ops[i]["files_read"] for i in q_ops) / max(len(q_ops), 1), "count"),
        }
        result["layers"] = per_layer(tr, traced, extra)
        tr.dump(os.path.join(work, "..", f"trace-scene_query-{seed}.json"))
    return result


def _phases(*marks: float) -> dict:
    names = ("setup", "warm_up", "measure", "check")  # daily_cycle checks inline
    return {n: round(b - a, 2) for n, a, b in zip(names, marks, marks[1:])}


def _percentiles(lat: list[float]) -> dict:
    """p50, and p90 only when at least ten samples lie beyond it."""
    out = {"p50_ms": 1000.0 * statistics.median(lat)}
    if len(lat) >= 100:
        out["p90_ms"] = 1000.0 * statistics.quantiles(lat, n=10)[-1]
    return out


# -- daily_cycle ----------------------------------------------------------


def counting_runners(sc):
    """Stage runners that record their calls in accumulators."""
    calls = {stage: sc.accumulator(0) for stage in run.STAGES}

    def download(s, n=calls["download"]):
        n.add(1)
        return {"pid": s["pid"], "downloaded": True, "download_path": f"/downloads/{s['pid']}"}

    def con2ard(s, n=calls["con2ard"]):
        n.add(1)
        return {"pid": s["pid"], "ardproduct": True, "ardproduct_path": f"/ard/{s['pid']}"}

    def datacube(s, n=calls["datacube"]):
        n.add(1)
        return {"pid": s["pid"], "dcloaded": True}

    return {"download": download, "con2ard": con2ard, "datacube": datacube}, calls


def check_cycle(sensor, before: dict, expected: dict, added: int, stages: dict,
                calls: dict) -> list[str]:
    """The cycle's invariants; returns the ones that failed."""
    from pyspark.sql import functions as F

    cur = sensor.scenes()
    st = cur.agg(F.count("*").alias("n"), F.countDistinct("pid").alias("pids"),
                 F.countDistinct("scene_id").alias("ids"), F.max("pid").alias("mx")).first()
    new = cur.where(F.col("pid") > before["max_pid"]).select(
        "scene_id", "product_id", "downloaded", "ardproduct", "dcloaded").collect()
    bad = []
    if added != len(expected) or st["n"] != before["n"] + len(expected):
        bad.append(f"row count {before['n']} + {added} -> {st['n']}, want +{len(expected)}")
    if st["pids"] != st["n"] or st["ids"] != st["n"]:
        bad.append("pid or scene_id not unique")
    if {r["scene_id"]: r["product_id"] for r in new} != expected:
        bad.append("added scenes or kept products differ from the delta")
    if not all(r["downloaded"] and r["ardproduct"] and r["dcloaded"] for r in new):
        bad.append("an added scene did not reach every stage")
    for stage, acc in calls.items():
        if acc.value != len(expected) or stages.get(stage) != len(expected):
            bad.append(f"{stage}: {acc.value} runner calls, {stages.get(stage)} updates")
    before.update(n=st["n"], max_pid=st["mx"])
    return bad


def _system(spark, root: str) -> SystemMain:
    """A signed ``SystemMain`` config over the catalog at ``root``."""
    cfg = root + ".json"
    with open(cfg, "w", encoding="utf-8") as fh:
        json.dump({"catalog_path": root, "sensors": [SENSOR]}, fh)
    sign_config(cfg)
    return SystemMain(spark).parse_config(cfg)


class Corpus:
    """The stored exact-Jaccard near-duplicate index of a document corpus
    (prefix rows, frozen shingle order, fingerprints) and its cluster
    assignment, kept as pinned DataFrames and advanced one batch at a
    time the way ``q150_incremental_clusters`` does."""

    def __init__(self, spark, docs: pd.DataFrame, vectors: pd.DataFrame):
        self.spark = spark
        self.texts = dict(zip(docs["doc_id"], docs["text"]))
        df = spark.createDataFrame(docs)
        prefix, freq, self.fps = dedup.jaccard_prefix_index(df, threshold=JACCARD)
        self.freq = freq.localCheckpoint()
        self.prefix = prefix.localCheckpoint()
        pairs = dedup.jaccard_prefix_self_pairs(self.prefix, self.fps, threshold=JACCARD)
        self.assign = dedup.neardup_clusters(df, pairs=pairs, threshold=JACCARD).localCheckpoint()
        self.vectors_pd = vectors
        self.vectors = spark.createDataFrame(vectors).localCheckpoint()

    def fold(self, batch: DataFrame) -> DataFrame:
        """Probe the stored index with a batch, fold the batch's pairs into
        the assignment and append its prefix rows and fingerprints; returns
        the batch's pairs."""
        pairs, new_fps, new_prefix = dedup.jaccard_prefix_probe_parts(
            batch, self.prefix, self.freq, self.fps, threshold=JACCARD)
        self.assign = dedup.update_clusters(
            self.assign, pairs, new_docs=batch.select("doc_id")).localCheckpoint()
        self.prefix = self.prefix.unionByName(
            new_prefix.select(*self.prefix.columns)).localCheckpoint()
        self.fps = self.fps.unionByName(new_fps.select(*self.fps.columns)).localCheckpoint()
        return pairs

    def topk(self, query_ids: list[int]) -> list[tuple]:
        q = self.vectors.where(self.vectors["vec_id"].isin(query_ids)).select(
            self.vectors["vec_id"].alias("query_id"), "embedding")
        rows = similarity.cosine_topk(self.vectors, q, k=TOPK).collect()
        return sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in rows)

    def expect_topk(self, query_ids: list[int]) -> list[tuple]:
        """numpy cosine top-k, self-matches excluded, ties by lower id."""
        vec = np.stack(self.vectors_pd["embedding"].to_numpy()).astype(np.float64)
        ids = self.vectors_pd["vec_id"].to_numpy()
        unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
        out = []
        for q in query_ids:
            sims = unit @ unit[int(np.flatnonzero(ids == q)[0])]
            order = sorted((-c, int(i)) for c, i in zip(sims, ids) if i != q)[:TOPK]
            out += [(q, rank, i, round(-c, 4)) for rank, (c, i) in enumerate(order, 1)]
        return sorted(out)

    def check(self) -> list[str]:
        """The incremental assignment against a full recompute over every
        document folded so far (exact 3-word-shingle Jaccard pairs, then
        connected components labelled by their least doc id)."""
        want = full_clusters(self.texts)
        got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
               for r in self.assign.collect()}
        if got != {d: (c, d == c) for d, c in want.items()}:
            wrong = sum(got.get(d) != (c, d == c) for d, c in want.items())
            return [f"cluster assignment differs from a full recompute for {wrong} docs"]
        return []


def same_topk(got: list[tuple], want: list[tuple]) -> bool:
    """Same (query, rank, neighbour) rows; similarities, which the engine
    rounds to 4 places, within 1e-4."""
    return [g[:3] for g in got] == [w[:3] for w in want] and all(
        abs(g[3] - w[3]) <= 1e-4 for g, w in zip(got, want))


def full_clusters(texts: dict[int, str]) -> dict[int, int]:
    """doc id -> least doc id of its near-duplicate component, recomputed
    from scratch: pairs with Jaccard >= JACCARD over distinct lower-cased
    word 3-shingles, counted through an inverted index."""
    shingles = {}
    for d, t in texts.items():
        w = t.strip().lower().split()
        shingles[d] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} or {" ".join(w)}
    postings = collections.defaultdict(list)
    for d in sorted(shingles):
        for sh in shingles[d]:
            postings[sh].append(d)
    shared = collections.Counter()
    for ds in postings.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                shared[a, b] += 1
    parent = {d: d for d in texts}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), n in shared.items():
        if n / (len(shingles[a]) + len(shingles[b]) - n) >= JACCARD:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {d: root(d) for d in texts}


def _cycle(spark, system: SystemMain, corpus: Corpus, delta: pd.DataFrame,
           batch: pd.DataFrame, query_ids: list[int], tr: Tracer | None) -> dict:
    """One cycle: ingest and process the month's index delta, roll up the
    obs dates, fold the month's document batch into the corpus index and
    run one top-k query; returns its counts, outputs and wall seconds."""
    feed = landsat_index_scenes(spark.createDataFrame(delta))
    docs = spark.createDataFrame(batch)
    runners, calls = counting_runners(spark.sparkContext)
    sensor = system.get_sensor_objs()[0]
    t0 = time.perf_counter()
    with tr.span("op") if tr else contextlib.nullcontext():
        added = run.find_new_downloads(system, {SENSOR: feed})[SENSOR]
        stages = run.process_scenes_all_steps(system, runners)[SENSOR]
        obs, _bridge = sensor.build_obs_date_records()
        obs.count()
        t_fold = time.perf_counter()
        with tr.section("fold") if tr else contextlib.nullcontext():
            pairs = corpus.fold(docs)
        topk = corpus.topk(query_ids)
    t1 = time.perf_counter()
    corpus.texts.update(zip(batch["doc_id"], batch["text"]))
    return {"added": added, "stages": stages, "calls": calls, "pairs": pairs,
            "topk": topk, "wall": t1 - t0, "fold_wall": t1 - t_fold}


def daily_cycle(spark, work: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    sz = SIZES[size]
    n_scenes, n_new = sz["scenes"], sz["delta"]
    t_begin = time.perf_counter()
    base = inputs.base_index(seed, n_scenes)
    docs = inputs.base_documents(seed, sz["docs"])
    vectors = inputs.embeddings(seed, sz["vectors"])
    corpora = []
    cat, setup_s = seed_catalogs(
        spark, work, processed_rows(base, seed),
        lambda: corpora.append(Corpus(spark, docs, vectors)))
    corpus = corpora[-1]  # the last set-up's, like the catalog
    system = _system(spark, cat.root)
    sensor = system.get_sensor_objs()[0]
    before = {"n": n_scenes, "max_pid": n_scenes - 1}
    rng = np.random.default_rng([seed, 8])

    def month_inputs(month: int):
        delta, expected = inputs.month_delta(seed, month, n_new, base)
        batch = inputs.batch_documents(seed, month, sz["batch"], docs)
        query_ids = sorted(int(x) for x in rng.choice(sz["vectors"], TOPK_QUERIES, replace=False))
        return delta, expected, batch, query_ids

    def check(month: int, out: dict, expected: dict, query_ids: list[int]) -> bool:
        bad = check_cycle(sensor, before, expected, out["added"], out["stages"], out["calls"])
        if not same_topk(out["topk"], corpus.expect_topk(query_ids)):
            bad.append("cosine top-k differs from numpy")
        for msg in bad:
            print(f"check failed: month {month}: {msg}", flush=True)
        return bool(bad)

    # no untimed warm-up cycle: one would cost as much as the timed one,
    # and the run budget holds only one.  The set-ups' first, cold repeat
    # has compiled the catalog-write and dedup paths already.
    t_setup = time.perf_counter()
    failed = 0

    tr = make_tracer(spark) if trace else None
    cycles, traced = [], []
    incoming = added_total = calls_total = new_pairs = 0
    written_rows = written_bytes = written_files = 0
    month = 0
    # whole cycles until their summed wall time reaches ``seconds``
    while not cycles or sum(c["wall"] for c in cycles) < seconds:
        delta, expected, batch, query_ids = month_inputs(month)
        files0 = tree_files(cat.root) if trace else {}
        if trace:
            tr.install()
            tr.op_begin("cycle")
        try:
            out = _cycle(spark, system, corpus, delta, batch, query_ids, tr)
        finally:
            if trace:
                tr.remove()
        if trace:
            traced.append(tr.op_end(out["wall"]))
            incoming += len(delta)
            added_total += out["added"]
            calls_total += sum(acc.value for acc in out["calls"].values())
            new_pairs += out["pairs"].count()
            new_files = {i: v for i, v in tree_files(cat.root).items() if i not in files0}
            written_files += len(new_files)
            written_bytes += sum(size for _p, size in new_files.values())
            written_rows += sum(pq.read_metadata(p).num_rows
                                for p, _s in new_files.values() if p.endswith(".parquet"))
        failed += check(month, out, expected, query_ids)
        cycles.append(out)
        month += 1
    bad = corpus.check()
    for msg in bad:
        print(f"check failed: corpus: {msg}", flush=True)
    failed += bool(bad)

    walls = [c["wall"] for c in cycles]
    result = {
        "attempted": len(cycles) + 1,  # the corpus is checked too
        "failed": failed,
        "e2e": {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (1000.0 * statistics.median(walls), "ms"),
            "items_per_s": (sum(c["added"] for c in cycles) / sum(walls), "1/s"),
            "catalog_bytes_per_scene": (catalog_bytes(cat.root) / before["n"], "B"),
        },
        "summary": {
            "cycles": len(walls), "cycle_s": [round(w, 3) for w in walls],
            "fold_s": [round(c["fold_wall"], 3) for c in cycles],
            "docs": len(corpus.texts),
            "phases_s": _phases(t_begin, t_setup, t_setup, time.perf_counter()),
        },
    }
    if trace:
        n_traced = max(len(traced), 1)
        changed = added_total * (1 + len(run.STAGES))
        folds = [sec for i in traced for sec in tr.ops[i].get("sections", [])]
        extra = {
            "ingest.rows_incoming": (incoming / n_traced, "count"),
            "ingest.added_frac": (added_total / max(incoming, 1), "ratio"),
            "catalog.bytes_written_per_op": (written_bytes / n_traced, "B"),
            "catalog.files_written_per_op": (written_files / n_traced, "count"),
            "catalog.rows_written_per_row_changed": (written_rows / max(changed, 1), "ratio"),
            "pipeline.task_calls_per_scene": (
                calls_total / max(added_total * len(run.STAGES), 1), "ratio"),
            "operators.dedup.sql_actions_per_batch": (
                sum(f["sql_actions"] for f in folds) / max(len(folds), 1), "count"),
            "operators.dedup.jobs_per_batch": (
                sum(f["jobs"] for f in folds) / max(len(folds), 1), "count"),
            "operators.dedup.new_pairs_per_batch": (new_pairs / n_traced, "count"),
        }
        result["layers"] = per_layer(tr, traced, extra)
        tr.dump(os.path.join(work, "..", f"trace-daily_cycle-{seed}.json"))
    return result


WORKLOADS = {"scene_query": scene_query, "daily_cycle": daily_cycle}
