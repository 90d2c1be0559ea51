"""Sensor facade: the reference's per-sensor object API over the engine.

`EODataDownSensor` (eodatadownsensor.py:179-469) defines the abstract
surface every sensor implements; users drive the system through sensor
objects.  This facade binds that surface to a ParquetCatalog + the
functional modules, so reference call-sites translate 1:1:

    sensor = LandsatGoogSensor(catalog)
    sensor.check_new_scns(index_df)
    sensor.get_scnlist_download()
    sensor.query_scn_records_date_bbox(start, end, bbox)
    sensor.get_sensor_summary_info()

State-changing calls persist a new catalog version atomically; queries are
lazy DataFrames.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodatadown_spark import ingest, pipeline, queries as Q, reports, schemas
from eodatadown_spark.catalog import ParquetCatalog


class SensorBase:
    """Common sensor behavior; subclasses pin table name, keys, columns."""

    table: str
    sensor_id: str = "Sensor"  # reference SensorID (the SENSORS dict key)
    ingest_keys: Sequence[str]
    watermark_col: str
    date_col: str = "date_acquired"
    platform_col: str = "spacecraft_id"
    unq_name_col: str = "product_id"  # get_scn_unq_name prefix column
    dedup_key: str | None = None  # scene_id for Landsat (J4); None = no dedup
    watermark_partition_col: str | None = None  # per-product watermark (ICESAT2)

    def __init__(self, catalog: ParquetCatalog):
        self.catalog = catalog
        self.spark = catalog.spark

    # -- catalog access ---------------------------------------------------
    def init_sensor_db(self) -> None:
        """init_sensor_db (drop_all/create_all semantics,
        ref eodatadownlandsatgoogsensor.py:456-471)."""
        empty = self.spark.createDataFrame([], schema=schemas.ALL_SCHEMAS[self.table])
        self.catalog.write(empty, self.table)

    def scenes(self) -> DataFrame:
        return self.catalog.read_clean(self.table)

    # -- ingest (check_new_scns; SURVEY §3.1) ------------------------------
    def check_new_scns(
        self, normalized_index: DataFrame, check_from_start: bool = False
    ) -> int:
        """Watermark-filtered idempotent ingest + keep-latest dedup; returns
        the number of newly added scenes.

        The upserted table derives from the stored scenes, so it commits
        through :meth:`ParquetCatalog.replace_derived`: a concurrent commit
        makes the build re-run on top of it (fresh stats, pids, watermark
        and dedup) instead of flipping a table that drops it."""
        incoming = self._complete_state_block(normalized_index)
        before = 0

        def build(cur: DataFrame) -> DataFrame:
            nonlocal before
            catalog = cur.drop("p_year", "p_month")
            # one fused aggregate replaces three sequential full-catalog
            # actions (watermark .first(), before .count(), next_pid
            # .first()) — same values, one scan
            stats = catalog.agg(
                F.count("*").alias("__n"),
                F.max("pid").alias("__mx"),
                F.max(F.col(self.watermark_col)).alias("__wm"),
            ).first()
            before = stats["__n"]
            base_pid = 0 if stats["__mx"] is None else int(stats["__mx"]) + 1
            new = incoming
            if not check_from_start:
                if self.watermark_partition_col:
                    new = ingest.filter_above_partitioned_watermark(
                        catalog, new, self.watermark_col,
                        self.watermark_partition_col,
                    )
                else:
                    new = ingest.filter_above_watermark(
                        new, self.watermark_col, stats["__wm"]
                    )
            merged = ingest.upsert_new_scenes(
                catalog, new, keys=self.ingest_keys, base_pid=base_pid
            )
            if self.dedup_key:
                merged = ingest.resolve_duplicate_scenes(merged, key=self.dedup_key)
            return merged

        self.catalog.replace_derived(self.table, build)
        return self.scenes().count() - before

    def _complete_state_block(self, df: DataFrame) -> DataFrame:
        schema = schemas.ALL_SCHEMAS[self.table]
        out = df
        if "pid" not in out.columns:
            out = out.withColumn("pid", F.lit(None).cast("long"))
        for field in schema.fields:
            if field.name in out.columns:
                continue
            if field.dataType.simpleString() == "boolean":
                default = F.lit(False)
            elif field.name in ("download_path", "ardproduct_path"):
                default = F.lit("")
            elif field.name == "query_date":
                default = F.current_timestamp()
            else:
                default = F.lit(None).cast(field.dataType)
            out = out.withColumn(field.name, default)
        # cast to the declared types: an index frame's own types (a long
        # wrs_path) would otherwise be what the committed version stores
        return out.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    def dwnlds_archived(
        self,
        present_paths: DataFrame,
        replace_path: str | None = None,
        new_path: str | None = None,
    ) -> int:
        """Mark downloads that are NO LONGER at their download_path as
        archived (abstract surface eodatadownsensor.py:425; every
        reference impl raises — eodatadownlandsatgoogsensor.py:2515-2525
        — so the engine realizes the documented semantics declaratively):
        ``present_paths`` is a one-column (``path``) relation of download
        paths that still exist (e.g. from a distributed listing of the
        download root); downloaded scenes whose path is absent from it
        flip ``archived=True`` via an anti-join — no per-scene filesystem
        stats on the driver.  ``replace_path``/``new_path`` optionally
        rewrite download_path prefixes first (unverified at the new
        location, mirroring the reference's documented contract).
        Returns the number of newly archived scenes.

        Commits are POINT updates through ``catalog.merge_updates`` (the
        OCC M2 path — base-checked flip, rebuild-on-conflict), never a
        full-table replace: a concurrent stage merge of other scenes
        serializes with neither update lost, and only the touched
        partitions rewrite."""
        catalog = self.scenes()
        if replace_path is not None and new_path is not None:
            from eodatadown_spark.functions.paths import rewrite_path_prefixes

            rewritten = (
                catalog.where(F.col("download_path").startswith(replace_path))
                .select(
                    "pid",
                    rewrite_path_prefixes(
                        "download_path", {replace_path: new_path}
                    ).alias("download_path"),
                )
            )
            if rewritten.take(1):
                self.catalog.merge_updates(self.table, rewritten)
                catalog = self.scenes()
        gone = (
            catalog.where(
                (F.col("downloaded") == F.lit(True))
                & (F.col("archived") == F.lit(False))
            )
            .join(
                present_paths.select(F.col("path").alias("download_path")),
                "download_path",
                "left_anti",
            )
            .select("pid", F.lit(True).alias("archived"))
        )
        n = gone.count()
        if n:
            self.catalog.merge_updates(self.table, gone)
        return n

    def rm_scns_intersect(self, roi: DataFrame) -> int:
        """J3: delete scenes not intersecting the ROI; returns rows removed.

        The trim derives from the stored scenes, so it commits through the
        base-checked flip: a concurrent commit makes it re-trim on top of
        the winner instead of flipping a stale frame over it."""
        before = self.scenes().count()
        self.catalog.replace_derived(
            self.table,
            lambda cur: ingest.filter_scenes_roi(cur, roi, keep_intersecting=True),
        )
        return before - self.scenes().count()

    # -- queries (lazy) ----------------------------------------------------
    def query_scn_records_date(self, start, end, **kw) -> DataFrame:
        return Q.query_scn_records_date(self.scenes(), start, end, self.date_col, **kw)

    def query_scn_records_date_keyset(self, start, end, **kw) -> DataFrame:
        """Seek-method pagination twin (scale-safe at any result size);
        see queries.paginate_keyset."""
        return Q.query_scn_records_date_keyset(
            self.scenes(), start, end, self.date_col, **kw
        )

    def query_scn_records_date_count(self, start, end, **kw) -> DataFrame:
        return Q.query_scn_records_date_count(self.scenes(), start, end, self.date_col, **kw)

    def query_scn_records_date_bbox(self, start, end, bbox, **kw) -> DataFrame:
        return Q.query_scn_records_date_bbox(self.scenes(), start, end, bbox, self.date_col, **kw)

    def query_scn_records_date_bbox_count(self, start, end, bbox, **kw) -> DataFrame:
        return Q.query_scn_records_date_bbox_count(
            self.scenes(), start, end, bbox, self.date_col, **kw
        )

    def query_scn_records_bbox(
        self, lat_north, lat_south, lon_east, lon_west, **kw
    ) -> DataFrame:
        """Abstract-surface bbox-only query (eodatadownsensor.py:410);
        argument order mirrors the reference signature."""
        return Q.query_scn_records_bbox(
            self.scenes(), lat_north, lat_south, lon_east, lon_west,
            self.date_col, **kw
        )

    def query_scn_records_bbox_count(
        self, lat_north, lat_south, lon_east, lon_west, **kw
    ) -> DataFrame:
        return Q.query_scn_records_bbox_count(
            self.scenes(), lat_north, lat_south, lon_east, lon_west, **kw
        )

    def find_unique_platforms(self) -> DataFrame:
        return Q.find_unique_platforms(self.scenes(), self.platform_col)

    def find_unique_scn_dates(self, **kw) -> DataFrame:
        return Q.find_unique_scn_dates(self.scenes(), self.date_col, **kw)

    def get_scns_for_date(self, date_of_interest, **kw) -> DataFrame:
        return Q.get_scns_for_date(
            self.scenes(), date_of_interest, self.date_col,
            platform_col=self.platform_col, **kw
        )

    def get_scn_pids_for_date(self, date_of_interest, **kw) -> DataFrame:
        """PID projection (abstract surface eodatadownsensor.py:399)."""
        return Q.get_scn_pids_for_date(
            self.scenes(), date_of_interest, self.date_col,
            platform_col=self.platform_col, **kw
        )

    def get_scn_record(self, pid: int):
        """F10 `.one()` semantics: exactly one row or ValueError."""
        rows = Q.get_scn_record(self.scenes(), pid).collect()
        if len(rows) != 1:
            raise ValueError(f"expected exactly one scene for pid={pid}, got {len(rows)}")
        return rows[0]

    def get_scnlist_all(self) -> DataFrame:
        """Every scene PID ordered by acquisition date
        (ref eodatadownlandsatgoogsensor.py:734-752; the engine adds the
        pid tiebreak the stage lists use for determinism)."""
        return self.scenes().orderBy(self.date_col, "pid").select("pid")

    # -- per-scene state probes (has_scn_* family, ref :777-1660) ----------
    def has_scn_download(self, pid: int) -> bool:
        return bool(self.get_scn_record(pid)["downloaded"])

    def has_scn_con2ard(self, pid: int) -> bool:
        return bool(self.get_scn_record(pid)["ardproduct"])

    def has_scn_datacube(self, pid: int) -> bool:
        return bool(self.get_scn_record(pid)["dcloaded"])

    def _has_extended_info_key(self, pid: int, key: str) -> bool:
        """F9 point form: key-existence in the scene's extended_info JSON
        (ref has_scn_quicklook/:1318-1339 — NULL json → False)."""
        row = (
            self.scenes()
            .where(F.col("pid") == F.lit(pid))
            .select(
                F.get_json_object(F.col("extended_info"), f"$.{key}")
                .isNotNull()
                .alias("has")
            )
            .first()
        )
        if row is None:
            raise ValueError(f"expected exactly one scene for pid={pid}, got 0")
        return bool(row["has"])

    def has_scn_quicklook(self, pid: int) -> bool:
        return self._has_extended_info_key(pid, "quicklook")

    def has_scn_tilecache(self, pid: int) -> bool:
        return self._has_extended_info_key(pid, "tilecache")

    def has_scn_usr_analysis(self, pid: int, plugins: Sequence[str]) -> bool:
        """True iff EVERY configured plugin has a Completed result row for
        the scene (ref :1648-1680: no rows at all → False; any configured
        plugin without a completed row → False)."""
        self.get_scn_record(pid)  # .one_or_none() missing-scene semantics
        if not plugins:
            return True
        done = {
            r["plugin_name"]
            for r in self.plugin_results()
            .where((F.col("scene_pid") == F.lit(pid)) & F.col("completed"))
            .select("plugin_name")
            .distinct()
            .collect()
        }
        return all(p in done for p in plugins)

    def is_scn_invalid(self, pid: int) -> bool:
        """ref :1864-1883 (.one_or_none() → raise on missing)."""
        return bool(self.get_scn_record(pid)["invalid"])

    def get_scn_unq_name(self, pid: int) -> str:
        """'{name_col}_{pid}' (ref :1885-1904; Sentinel-1 uses
        product_file_id, :1606-1625 — per-sensor `unq_name_col`)."""
        return self.get_scn_unq_name_record(self.get_scn_record(pid))

    def get_scn_unq_name_record(self, scn_record) -> str:
        """ref :1906-1915 — pure record form, no query."""
        return f"{scn_record[self.unq_name_col]}_{scn_record['pid']}"

    def get_scnlist_download(self) -> DataFrame:
        return Q.get_scnlist_download(self.scenes(), self.date_col)

    def get_scnlist_con2ard(self) -> DataFrame:
        return Q.get_scnlist_con2ard(self.scenes(), self.date_col)

    def get_scnlist_datacube(self) -> DataFrame:
        return Q.get_scnlist_datacube(self.scenes(), self.date_col)

    def get_scnlist_quicklook(self) -> DataFrame:
        return Q.get_scnlist_quicklook(self.scenes(), self.date_col)

    def get_scnlist_tilecache(self) -> DataFrame:
        return Q.get_scnlist_tilecache(self.scenes(), self.date_col)

    # -- stage execution (P2 + M2) ----------------------------------------
    def run_stage(
        self,
        todo: DataFrame,
        task_fn: Callable[[dict], dict],
        update_schema: str,
    ) -> int:
        """Fan out `task_fn` over the to-do scenes' (pid, remote_url), apply
        ONE batched state merge, persist; returns scenes updated."""
        catalog = self.scenes()
        cols = [c for c in ("pid", "remote_url") if c in catalog.columns]
        scoped = catalog.join(todo.select("pid"), "pid", "left_semi").select(*cols)
        updates = pipeline.run_scene_tasks(scoped, task_fn, update_schema).persist()
        try:
            # count() materializes the fan-out ONCE; the merge below reuses
            # the cached rows — side-effecting tasks must not run twice
            n = updates.count()
            # partition-selective merge: only p_year partitions containing
            # updated pids are rewritten, the rest are hard-linked
            self.catalog.merge_updates(self.table, updates)
        finally:
            updates.unpersist()
        return n

    # -- user-analysis plugins (P1/J2) -------------------------------------
    @property
    def plugin_table(self) -> str:
        return "plugin_results"

    def plugin_results(self) -> DataFrame:
        if self.catalog.exists(self.plugin_table):
            return self.catalog.read_clean(self.plugin_table)
        return self.spark.createDataFrame([], schema=schemas.PLUGIN_RESULTS)

    def get_scnlist_usr_analysis(self, plugins: Sequence[str]) -> DataFrame:
        return Q.get_scnlist_usr_analysis(self.scenes(), self.plugin_results(), plugins)

    def run_usr_analysis(self, plugins: dict) -> int:
        """Run configured plugin callables over scheduled scenes; append the
        result rows to plugin_results in one batch.  Returns rows added."""
        from eodatadown_spark.plugins import run_plugins

        new_rows = run_plugins(self.scenes(), self.plugin_results(), plugins).persist()
        try:
            n = new_rows.count()  # materialize plugin execution once
            if not self.catalog.exists(self.plugin_table):
                # first-ever creation is single-writer, like init_sensor_db
                self.catalog.write(
                    self.plugin_results(), self.plugin_table, partition=False
                )
            # the union derives from the stored rows, so it commits through
            # the base-checked flip: a concurrent plugin_results commit makes
            # this rebuild on top of it instead of flipping a stale union
            self.catalog.replace_derived(
                self.plugin_table,
                lambda cur: cur.unionByName(new_rows),
                partition=False,
            )
        finally:
            new_rows.unpersist()
        return n

    def get_scn_usr_analysis_results(self, pid: int) -> DataFrame:
        """Per-scene plugin-result rows (ref get_usr_analysis_results)."""
        return self.plugin_results().where(F.col("scene_pid") == F.lit(pid))

    def get_scn_obs_date(self, pid: int) -> dt.date | None:
        """Observation date of one scene (ref get_scn_obs_date)."""
        row = (
            self.scenes()
            .where(F.col("pid") == F.lit(pid))
            .select(F.to_date(F.col(self.date_col)).alias("d"))
            .first()
        )
        return None if row is None else row["d"]

    # -- reporting ---------------------------------------------------------
    def get_sensor_summary_info(self) -> dict:
        counts = reports.sensor_summary_counts(self.scenes()).first().asDict()
        sizes = reports.column_stats(self.scenes(), "total_size").first().asDict()
        return {**counts, "size_stats": sizes}

    def build_obs_date_records(
        self, sensor_id: str | None = None
    ) -> tuple[DataFrame, DataFrame]:
        return reports.build_obs_date_records(
            self.scenes(),
            self.sensor_id if sensor_id is None else sensor_id,
            self.platform_col,
            self.date_col,
        )

    # -- obs-date overview lifecycle (ref eodatadownsensor.py:560-697) -----
    def obs_dates(self) -> DataFrame:
        if self.catalog.exists("obs_dates"):
            return self.catalog.read_clean("obs_dates")
        return self.spark.createDataFrame([], schema=schemas.OBS_DATES)

    def obs_date_scns(self) -> DataFrame:
        if self.catalog.exists("obs_date_scns"):
            return self.catalog.read_clean("obs_date_scns")
        return self.spark.createDataFrame([], schema=schemas.OBS_DATE_SCNS)

    def ensure_obs_date_tables(self) -> None:
        """Build + persist the obs-date rollup and bridge if absent (ref
        build_obs_dates, eodatadownsensor.py:560-603; the reference
        populates EDDObsDates/EDDObsDatesScns before any visual pass)."""
        if not self.catalog.exists("obs_dates"):
            obs, bridge = self.build_obs_date_records()
            self.catalog.write(obs, "obs_dates", partition=False)
            self.catalog.write(bridge, "obs_date_scns", partition=False)

    def get_lst_obsdates_need_processing(self, sensor: str | None = None) -> DataFrame:
        return reports.get_lst_obsdates_need_processing(self.obs_dates(), sensor)

    def process_obsdata(
        self,
        platform_id: str,
        obs_date: dt.date,
        visual_fn: Callable[[list, dict], bool] | None = None,
        img_sizes: Sequence[int] = (250, 500, 1000),
        base_dir: str = "overview_imgs",
    ) -> bool:
        """The composed per-obsdate overview pass (ref eodatadownsensor.py
        :642-697 ``process_obsdata``): look up ONE (sensor, platform,
        obs_date) row, gather its scene pids from the bridge, run the
        injectable multi-scene visual task, then commit the outcome
        through the OCC catalog — ``overview_created=True`` + the
        ``{size_px: img_path}`` overviews JSON on success, ``invalid=True``
        on failure.  Returns True iff the overview was produced.

        ``visual_fn(scene_pids, out_imgs_dict) -> bool`` is the external
        raster kernel (``create_multi_scn_visual`` / rsgislib in the
        reference — outside engine scope per SURVEY §0); the default fake
        succeeds deterministically so the orchestration is testable
        without the geospatial stack, exactly like ``quicklook_stage``.

        Scale shape: the obs-date row probe and the per-obsdate pid list
        are limit-/key-bounded driver reads (one observation date's
        scenes); the state commit is ``replace_derived`` on the obs-date
        rollup — a table with one row per (sensor, platform, day), small
        by construction, with OCC retry so concurrent obsdate workers
        never lose each other's marks."""
        import json as _json
        import os.path as _osp

        from eodatadown_spark.sinks import bounded_collect

        key = (
            (F.col("sensor_id") == self.sensor_id)
            & (F.col("platform_id") == platform_id)
            & (F.col("obs_date") == F.lit(obs_date))
        )
        if self.obs_dates().where(key).limit(1).first() is None:
            return False  # unknown obsdate → no-op, reference one_or_none path
        pids = [
            r["scene_pid"]
            for r in bounded_collect(
                self.obs_date_scns().where(key).select("scene_pid"),
                "process_obsdata scene pids",
            )
        ]
        basename = "{}_{}_{}".format(
            obs_date.strftime("%Y%m%d"), self.sensor_id, platform_id
        )
        out_imgs = {
            str(s): _osp.join(base_dir, basename, f"{basename}_{s}px.tif")
            for s in img_sizes
        }
        fn = visual_fn or (lambda scn_pids, imgs: True)
        success = bool(fn(pids, out_imgs))

        spark = self.spark

        def _commit(current: DataFrame) -> DataFrame:
            if success:
                updates = spark.createDataFrame(
                    [(self.sensor_id, platform_id, obs_date, _json.dumps(out_imgs))],
                    "sensor_id string, platform_id string, obs_date date, "
                    "overviews string",
                )
                return reports.update_obs_date_overviews(current, updates)
            return current.withColumn(
                "invalid", F.when(key, F.lit(True)).otherwise(F.col("invalid"))
            ).withColumn(
                "overview_created",
                F.when(key, F.lit(False)).otherwise(F.col("overview_created")),
            )

        self.catalog.replace_derived("obs_dates", _commit, partition=False)
        return success

    def create_obsdate_visual(
        self,
        visual_fn: Callable[[list, dict], bool] | None = None,
        img_sizes: Sequence[int] = (250, 500, 1000),
        base_dir: str = "overview_imgs",
    ) -> int:
        """Walk every obsdate still needing an overview and process each
        (ref eodatadownsensor.py:605-618 ``create_obsdate_visual``: worklist
        → ``process_obsdata`` loop).  Returns the number of obsdates whose
        overview succeeded.  The worklist is one filtered scan of the
        per-day rollup (bounded: rows = sensor-days, not scenes); each
        iteration's task fan-out and OCC commit are per-obsdate, so a
        failed date marks itself invalid and the loop continues."""
        from eodatadown_spark.sinks import bounded_collect

        self.ensure_obs_date_tables()
        todo = bounded_collect(
            self.get_lst_obsdates_need_processing(self.sensor_id),
            "create_obsdate_visual worklist",
        )
        n_ok = 0
        for row in todo:
            if self.process_obsdata(
                row["platform_id"], row["obs_date"], visual_fn, img_sizes, base_dir
            ):
                n_ok += 1
        return n_ok


class LandsatGoogSensor(SensorBase):
    table = "landsat_scenes"
    sensor_id = "LandsatGOOG"
    ingest_keys = tuple(schemas.INGEST_KEYS["landsat_scenes"])
    watermark_col = "date_acquired"
    dedup_key = "scene_id"


class Sentinel2GoogSensor(SensorBase):
    table = "sentinel2_scenes"
    sensor_id = "Sentinel2GOOG"
    ingest_keys = tuple(schemas.INGEST_KEYS["sentinel2_scenes"])
    watermark_col = "sensing_time"
    date_col = "sensing_time"
    platform_col = "platform_id"
    dedup_key = None


class Sentinel1ASFSensor(SensorBase):
    table = "sentinel1_scenes"
    sensor_id = "Sentinel1ASF"
    ingest_keys = tuple(schemas.INGEST_KEYS["sentinel1_scenes"])
    watermark_col = "begin_position"
    date_col = "acquisition_date"
    platform_col = "platform"
    unq_name_col = "product_file_id"  # ref eodatadownsentinel1asf.py:1622
    dedup_key = None

    def check_new_scns_remote(
        self,
        transport,
        polygons: Sequence[str],
        start_date: dt.datetime,
        check_from_start: bool = False,
        end: dt.datetime | None = None,
    ) -> int:
        """End-to-end ``check_new_scns`` over a transport: the query window
        starts at the catalog watermark (config start date on an empty
        table / ``check_from_start``), one request per ROI polygon, in-run
        product_file_id dedup, then the normal watermark-filtered upsert
        (ref eodatadownsentinel1asf.py:392-520)."""
        from eodatadown_spark.sources import index_adapters as A
        from eodatadown_spark.sources import transport as T

        wm = None if check_from_start else ingest.watermark(self.scenes(), self.watermark_col)
        q_start = wm or start_date
        end = end or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        raw = T.asf_scenes_df(
            self.spark,
            transport,
            polygons=list(polygons),
            start=q_start.isoformat() + "UTC",
            end=end.isoformat() + "UTC",
        )
        return self.check_new_scns(A.asf_search_scenes(raw), check_from_start)


class GEDISensor(SensorBase):
    table = "gedi_granules"
    ingest_keys = tuple(schemas.INGEST_KEYS["gedi_granules"])
    watermark_col = "date_acquired"
    platform_col = "product"
    dedup_key = None

    def check_new_scns_remote(
        self,
        transport,
        products: Sequence[dict],
        bboxes: Sequence[str],
        check_from_start: bool = False,
    ) -> int:
        """gedifinder per-(product, bbox) request cycle → per-product
        normalization → one upsert (ref eodatadownGEDIsensor.py:357-437;
        the %Y%j filename-date watermark filter is check_new_scns')."""
        from eodatadown_spark.sources import index_adapters as A
        from eodatadown_spark.sources import transport as T

        frames = []
        for prod in products:
            raw = T.gedi_urls_df(self.spark, transport, products=[prod], bboxes=list(bboxes))
            frames.append(A.gedi_finder_granules(raw, prod["product"], prod["version"]))
        if not frames:
            return 0  # empty product config = no-op ingest
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        return self.check_new_scns(merged, check_from_start)


class ICESAT2Sensor(SensorBase):
    table = "icesat2_granules"
    ingest_keys = tuple(schemas.INGEST_KEYS["icesat2_granules"])
    watermark_col = "start_time"
    date_col = "start_time"
    platform_col = "product"
    dedup_key = None
    # the reference tracks one watermark per product (ATL03/ATL08...),
    # eodatadownICESAT2sensor.py:535-545
    watermark_partition_col = "product"

    def check_new_scns_remote(
        self,
        transport,
        products: Sequence[dict],
        geo_bounds: Sequence[str],
        start_date: dt.datetime,
        check_from_start: bool = False,
        end: dt.datetime | None = None,
        page_size: int = 100,
    ) -> int:
        """CMR paged request cycle per (product, bbox): the temporal window
        starts at that PRODUCT's watermark (ref
        eodatadownICESAT2sensor.py:535-545), pages accumulate until an empty
        page, and the union of all products flows through the per-product
        watermark-filtered upsert."""
        from eodatadown_spark.sources import index_adapters as A
        from eodatadown_spark.sources import transport as T

        end = end or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        end_str = end.strftime("%Y-%m-%dT23:59:59Z")
        scenes = self.scenes()
        frames = []
        for prod in products:
            q_date = start_date
            if not check_from_start:
                row = (
                    scenes.where(F.col("product") == prod["product"])
                    .agg(F.max(self.watermark_col).alias("wm"))
                    .first()
                )
                if row is not None and row["wm"] is not None:
                    q_date = row["wm"]
            temporal = q_date.strftime("%Y-%m-%dT00:00:00Z") + "," + end_str
            for bbox in geo_bounds:
                raw = T.cmr_granules_df(
                    self.spark,
                    transport,
                    short_name=prod["product"],
                    version=prod["version"],
                    temporal=temporal,
                    bounding_box=bbox,
                    page_size=page_size,
                )
                frames.append(
                    A.cmr_granules(raw)
                    .withColumn("product", F.lit(prod["product"]))
                    .withColumn("version", F.lit(prod["version"]))
                )
        if not frames:
            return 0  # empty product/ROI config = no-op ingest
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        return self.check_new_scns(merged, check_from_start)


class JAXASARTileSensor(SensorBase):
    """JAXA SAR annual-mosaic tile tracker — the reference keeps this as a
    one-off script with its own declarative_base OUTSIDE the sensor
    framework (sep_utils/CreateLclJAXAFileLst.py); here it is a sixth
    first-class sensor built entirely from existing primitives
    (schema-declared catalog, watermark ingest, gzip-JSON S9 codec,
    date/tile filters)."""

    table = "jaxa_sar_tiles"
    ingest_keys = tuple(schemas.INGEST_KEYS["jaxa_sar_tiles"])
    watermark_col = "start_date"
    date_col = "start_date"
    platform_col = "instrument_name"
    dedup_key = None

    # the reference's hard-coded mosaic release years (ref :45)
    AVAIL_YEARS = (1996, 2007, 2008, 2009, 2010, 2015, 2016, 2017)

    def tiles_for(
        self,
        years: Sequence[int] | None = None,
        tile_names: Sequence[str] | None = None,
        parent_tiles: Sequence[str] | None = None,
    ) -> DataFrame:
        """Year / tile IN-list filters (F4 over the tile catalog)."""
        df = self.scenes()
        if years is not None:
            df = df.where(F.col("year").isin(list(years)))
        if tile_names is not None:
            df = df.where(F.col("tile_name").isin(list(tile_names)))
        if parent_tiles is not None:
            df = df.where(F.col("parent_tile").isin(list(parent_tiles)))
        return df

    def year_file_lists(
        self, years: Sequence[int] | None = None
    ) -> dict[int, list[str]]:
        """{year: [server_file_path, ...]} — the JAXASARMosaicFiles export
        body (ref :45-53).  Years with no tiles map to [] exactly as the
        reference pre-seeds empty lists; per-year order is PID order (the
        reference's query-iteration order), made deterministic with one
        sort_array over (pid, path) structs — a single per-year aggregate,
        no driver-side loop over years."""
        years = list(self.AVAIL_YEARS if years is None else years)
        rows = (
            self.scenes()
            .where(F.col("year").isin(years))
            .groupBy("year")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("pid", "server_file_path"))
                ).alias("recs")
            )
            .select(
                "year",
                F.transform("recs", lambda r: r["server_file_path"]).alias(
                    "files"
                ),
            )
            .collect()
        )
        got = {int(r["year"]): list(r["files"]) for r in rows}
        return {y: got.get(y, []) for y in years}

    def export_year_file_lists(
        self, path: str, years: Sequence[int] | None = None
    ) -> None:
        """Gzip-JSON export of the per-year file lists (ref :57-61 writes
        JAXASARMosaicFiles.json.gz via json.dumps + gzip)."""
        from eodatadown_spark.functions.codecs import write_gzip_json

        write_gzip_json(
            {str(y): fl for y, fl in self.year_file_lists(years).items()}, path
        )

    def import_file_lists(self, path: str) -> int:
        """Inverse ingest: a gzip-JSON {year: [server_file_path, ...]}
        document (the export shape) becomes tile rows — file_name is the
        path basename, tile_name its leading ``_`` token — and flows
        through the standard watermark-ingest path.  start_date is pinned
        to Jan 1 of the mosaic year (the tracker is year-granular), which
        also feeds the catalog's p_year partitioning."""
        import gzip as _gzip
        import json as _json

        with _gzip.open(path, "rt", encoding="utf-8") as fh:
            payload = _json.load(fh)
        rows = []
        for year, files in payload.items():
            for p in files:
                base = p.rsplit("/", 1)[-1]
                rows.append((base.split("_")[0], int(year), base, p))
        incoming = self.spark.createDataFrame(
            rows, "tile_name string, year int, file_name string, "
                  "server_file_path string"
        ).withColumn(
            "start_date",
            F.to_timestamp(F.concat(F.col("year").cast("string"), F.lit("-01-01"))),
        ).withColumn("instrument_name", F.lit("PALSAR"))
        return self.check_new_scns(incoming, check_from_start=True)


SENSORS: dict[str, type[SensorBase]] = {
    "LandsatGOOG": LandsatGoogSensor,
    "Sentinel2GOOG": Sentinel2GoogSensor,
    "Sentinel1ASF": Sentinel1ASFSensor,
    "GEDI": GEDISensor,
    "ICESAT2": ICESAT2Sensor,
    "JAXASARTiles": JAXASARTileSensor,
}


def get_sensor_obj(name: str, catalog: ParquetCatalog) -> SensorBase:
    """Name-dispatch sensor construction (ref eodatadownsystemmain.py:157-186)."""
    if name not in SENSORS:
        raise ValueError(f"unknown sensor: {name!r}; known: {sorted(SENSORS)}")
    return SENSORS[name](catalog)
