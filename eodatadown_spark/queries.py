"""The sensor query surface as pure DataFrame transformations.

Re-expresses the reference's abstract-sensor query API
(eodatadownsensor.py:179-469; canonical impls
eodatadownlandsatgoogsensor.py:1917-2348) as composable functions over a
scene-catalog DataFrame.  All functions are lazy — they return DataFrames;
callers decide when to act.

Semantic quirks preserved bit-for-bit (SURVEY.md §7.4):

- date-range filters are INCLUSIVE (`<= start`, `>= end`) with "start" being
  the most-recent bound (eodatadownlandsatgoogsensor.py:1947-1966);
- bbox overlap uses STRICT inequalities (`:2070-2103`);
- `get_obs_scns` date bounds are EXCLUSIVE `<`/`>` (eodatadownsensor.py:720-721);
- pagination is an OFFSET/LIMIT slice applied after `ORDER BY date DESC`
  (`:2143`), reproduced with a row_number window.
"""

from __future__ import annotations

import datetime as dt
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# predicate builders (F1-F12)
# ---------------------------------------------------------------------------

def date_range_pred(
    date_col: str, start: dt.date | str, end: dt.date | str
) -> Column:
    """F1: inclusive date-range — `start` is the most recent bound
    (ref eodatadownlandsatgoogsensor.py:1947-1949)."""
    return (F.col(date_col) <= F.lit(start)) & (F.col(date_col) >= F.lit(end))


def bbox_intersect_pred(
    bbox: tuple[float, float, float, float],
    north: str = "north_lat",
    south: str = "south_lat",
    east: str = "east_lon",
    west: str = "west_lon",
) -> Column:
    """F7: strict-inequality rectangle intersection.

    ``bbox`` is (west, east, south, north), matching the reference's
    lat/long bbox argument order semantics (eodatadownlandsatgoogsensor.py
    :2070-2103: `east_lon > W AND E > west_lon AND north_lat > S AND
    N > south_lat`).
    """
    w, e, s, n = bbox
    return (
        (F.col(east) > F.lit(w))
        & (F.lit(e) > F.col(west))
        & (F.col(north) > F.lit(s))
        & (F.lit(n) > F.col(south))
    )


def valid_pred(valid: bool = True) -> Column:
    """F8: invalid flag filter."""
    return F.col("invalid") == F.lit(not valid)


def cloud_pred(cloud_thres: float) -> Column:
    """F3: cloud-cover threshold (inclusive, catalog-side semantics)."""
    return F.col("cloud_cover") <= F.lit(cloud_thres)


def month_pred(date_col: str, months: Sequence[int]) -> Column:
    """F6: month-of-interest."""
    return F.month(F.col(date_col)).isin(list(months))


def json_key_missing_pred(json_col: str, key: str) -> Column:
    """F9: ExtendedInfo IS NULL OR key absent
    (ref eodatadownlandsatgoogsensor.py:1304-1310)."""
    return F.col(json_col).isNull() | F.get_json_object(
        F.col(json_col), f"$.{key}"
    ).isNull()


# ---------------------------------------------------------------------------
# scene queries (the public API surface)
# ---------------------------------------------------------------------------

def _paginate(
    df: DataFrame,
    order_cols: list[Column],
    start_rec: int = 0,
    n_recs: int = 0,
) -> DataFrame:
    """W2/O5: OFFSET/LIMIT slice after a total order.

    A row_number window over a global order is a single-partition sort at the
    window stage; acceptable because paginated reads are, by construction,
    small result sets already reduced by filters.  (`limit` alone covers the
    OFFSET=0 case without the window.)  For pagination over UNREDUCED result
    sets use :func:`paginate_keyset` — the seek-method twin with no global
    window at any page depth.
    """
    if n_recs <= 0:
        return df.orderBy(*order_cols)
    if start_rec <= 0:
        return df.orderBy(*order_cols).limit(n_recs)
    w = Window.orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn").between(start_rec + 1, start_rec + n_recs))
        .drop("__rn")
    )


def paginate_keyset(
    df: DataFrame,
    order_cols: Sequence[str],
    after: Sequence | DataFrame | None = None,
    n_recs: int = 0,
    descending: bool = False,
) -> DataFrame:
    """W2/O5 seek-method twin of :func:`_paginate`: instead of numbering
    every row under a global window (a single-partition sort whose cost
    grows with the FULL result set), a keyset page is ``WHERE (k1, k2, …)
    > cursor ORDER BY k1, k2, … LIMIT n`` — the cursor predicate pushes
    into the scan and the limit plans as TakeOrderedAndProject (per-
    partition top-n, then one n-row merge on the driver), so page depth
    never costs more than page size.  This is the form that survives a
    100 TB catalog; ``_paginate`` stays as the reference-parity
    OFFSET/LIMIT default for small filtered reads.

    ``order_cols`` must be a TOTAL order (append a unique id column —
    the reference's tie-break convention).  ``after`` is the last row of
    the previous page: either a tuple of literals, or a ONE-ROW DataFrame
    carrying the order columns (broadcast-joined, so a cursor derived
    from data composes without a driver round-trip).  ``descending``
    flips both the comparisons and the sort (cursor = the MINIMUM of the
    previous page)."""
    cols = [F.col(c) for c in order_cols]
    cur_names = [f"__cur_{c}" for c in order_cols]
    out = df
    if after is not None:
        if isinstance(after, DataFrame):
            cur = after.limit(1).select(
                *[F.col(c).alias(a) for c, a in zip(order_cols, cur_names)]
            )
            out = out.crossJoin(F.broadcast(cur))
            avals = [F.col(a) for a in cur_names]
        else:
            avals = [F.lit(v) for v in after]
        pred = F.lit(False)
        for i in range(len(cols)):
            step = cols[i] < avals[i] if descending else cols[i] > avals[i]
            for j in range(i):
                step = step & (cols[j] == avals[j])
            pred = pred | step
        out = out.where(pred)
        if isinstance(after, DataFrame):
            out = out.drop(*cur_names)
    out = out.orderBy(*[c.desc() if descending else c.asc() for c in cols])
    return out.limit(n_recs) if n_recs > 0 else out


def query_scn_records_date_keyset(
    scenes: DataFrame,
    start_date: dt.date | str,
    end_date: dt.date | str,
    date_col: str = "date_acquired",
    valid: bool = True,
    cloud_thres: float | None = None,
    after: Sequence | DataFrame | None = None,
    n_recs: int = 0,
    descending: bool = False,
) -> DataFrame:
    """Keyset twin of :func:`query_scn_records_date`: same filters, pages
    ordered by ``(date_col, pid)`` and addressed by cursor instead of
    OFFSET."""
    pred = date_range_pred(date_col, start_date, end_date)
    if valid:
        pred = pred & valid_pred(True)
    if cloud_thres is not None:
        pred = pred & cloud_pred(cloud_thres)
    return paginate_keyset(
        scenes.where(pred), [date_col, "pid"], after, n_recs, descending
    )


def query_scn_records_date(
    scenes: DataFrame,
    start_date: dt.date | str,
    end_date: dt.date | str,
    date_col: str = "date_acquired",
    valid: bool = True,
    cloud_thres: float | None = None,
    start_rec: int = 0,
    n_recs: int = 0,
) -> DataFrame:
    """Date-filtered scene query with optional pagination
    (ref eodatadownlandsatgoogsensor.py:1989-2040)."""
    pred = date_range_pred(date_col, start_date, end_date)
    if valid:
        pred = pred & valid_pred(True)
    if cloud_thres is not None:
        pred = pred & cloud_pred(cloud_thres)
    out = scenes.where(pred)
    order = [F.col(date_col).desc(), F.col("pid").asc()]
    return _paginate(out, order, start_rec, n_recs)


def query_scn_records_date_count(
    scenes: DataFrame, start_date, end_date, date_col: str = "date_acquired",
    valid: bool = True, cloud_thres: float | None = None,
) -> DataFrame:
    """A3 count variant — one row, `n_scenes` column."""
    pred = date_range_pred(date_col, start_date, end_date)
    if valid:
        pred = pred & valid_pred(True)
    if cloud_thres is not None:
        pred = pred & cloud_pred(cloud_thres)
    return scenes.where(pred).agg(F.count("*").alias("n_scenes"))


def query_scn_records_date_bbox(
    scenes: DataFrame,
    start_date,
    end_date,
    bbox: tuple[float, float, float, float],
    date_col: str = "date_acquired",
    valid: bool = True,
    cloud_thres: float | None = None,
    start_rec: int = 0,
    n_recs: int = 0,
) -> DataFrame:
    """F1+F7(+F3,F8) with pagination — the flagship reference query
    (eodatadownlandsatgoogsensor.py:2046-2221)."""
    df = query_scn_records_date(
        scenes, start_date, end_date, date_col, valid, cloud_thres
    )
    out = df.where(bbox_intersect_pred(bbox))
    order = [F.col(date_col).desc(), F.col("pid").asc()]
    return _paginate(out, order, start_rec, n_recs)


def query_scn_records_bbox(
    scenes: DataFrame,
    lat_north: float,
    lat_south: float,
    lon_east: float,
    lon_west: float,
    date_col: str = "date_acquired",
    valid: bool = True,
    start_rec: int = 0,
    n_recs: int = 0,
) -> DataFrame:
    """F7-only: bbox query with NO date window (abstract surface
    eodatadownsensor.py:410; the reference declares it on every sensor
    but never implements it — eodatadownlandsatgoogsensor.py:2482 raises
    — so this engine gives it the same strict-overlap semantics as the
    date+bbox composite at :2046-2103, the reference's only concrete
    bbox predicate).  Argument order matches the abstract signature
    (lat_north, lat_south, lon_east, lon_west); internally mapped to the
    (W, E, S, N) tuple ``bbox_intersect_pred`` takes."""
    pred = bbox_intersect_pred((lon_west, lon_east, lat_south, lat_north))
    if valid:
        pred = pred & valid_pred(True)
    out = scenes.where(pred)
    order = [F.col(date_col).desc(), F.col("pid").asc()]
    return _paginate(out, order, start_rec, n_recs)


def query_scn_records_bbox_count(
    scenes: DataFrame,
    lat_north: float,
    lat_south: float,
    lon_east: float,
    lon_west: float,
    valid: bool = True,
) -> DataFrame:
    """A3 twin of :func:`query_scn_records_bbox` — one row, `n_scenes`."""
    pred = bbox_intersect_pred((lon_west, lon_east, lat_south, lat_north))
    if valid:
        pred = pred & valid_pred(True)
    return scenes.where(pred).agg(F.count("*").alias("n_scenes"))


def query_scn_records_date_bbox_count(
    scenes: DataFrame,
    start_date,
    end_date,
    bbox: tuple[float, float, float, float],
    date_col: str = "date_acquired",
    valid: bool = True,
    cloud_thres: float | None = None,
) -> DataFrame:
    """F7+A3: named count of the date+bbox query — one row, `n_scenes`
    (ref eodatadownlandsatgoogsensor.py:2070-2103 has a count API per
    sensor rather than count()-on-query)."""
    df = query_scn_records_date(
        scenes, start_date, end_date, date_col, valid, cloud_thres
    )
    return df.where(bbox_intersect_pred(bbox)).agg(F.count("*").alias("n_scenes"))


def find_unique_platforms(scenes: DataFrame, platform_col: str = "spacecraft_id") -> DataFrame:
    """A5 (ref :1917-1927)."""
    return scenes.select(platform_col).distinct()


def find_unique_scn_dates(
    scenes: DataFrame,
    date_col: str = "date_acquired",
    valid: bool = True,
    order_desc: bool = True,
) -> DataFrame:
    """A6: distinct observation dates, ordered (ref :2223-2298)."""
    df = scenes
    if valid:
        df = df.where(valid_pred(True))
    out = df.select(F.to_date(F.col(date_col)).alias("obs_date")).distinct()
    return out.orderBy(F.col("obs_date").desc() if order_desc else F.col("obs_date").asc())


def get_scns_for_date(
    scenes: DataFrame,
    date_of_interest: dt.date | str,
    date_col: str = "date_acquired",
    valid: bool = True,
    ard_prod: bool = False,
    platform: str | None = None,
    platform_col: str = "spacecraft_id",
) -> DataFrame:
    """F12: exact-date scene select with the reference's full filter set
    (eodatadownlandsatgoogsensor.py:2300-2348 — cast-to-date equality,
    optional Invalid==False / ARDProduct==True / Spacecraft_ID==platform).
    ``ard_prod`` defaults False here (the reference defaults True) so
    callers on catalogs without the ardproduct state flag keep working;
    the sensor facade exposes the parameter with the reference default
    reachable."""
    pred = F.to_date(F.col(date_col)) == F.lit(date_of_interest)
    if valid:
        pred = pred & valid_pred(True)
    if ard_prod:
        pred = pred & (F.col("ardproduct") == F.lit(True))
    if platform is not None:
        pred = pred & (F.col(platform_col) == F.lit(platform))
    return scenes.where(pred).orderBy("pid")


def get_scn_pids_for_date(
    scenes: DataFrame,
    date_of_interest: dt.date | str,
    date_col: str = "date_acquired",
    valid: bool = True,
    ard_prod: bool = False,
    platform: str | None = None,
    platform_col: str = "spacecraft_id",
) -> DataFrame:
    """PID projection of :func:`get_scns_for_date` (abstract surface
    eodatadownsensor.py:399; impl :2350-2364 — the reference loops the
    scene objects collecting .PID, this stays a lazy one-column frame)."""
    return get_scns_for_date(
        scenes, date_of_interest, date_col, valid, ard_prod, platform,
        platform_col,
    ).select("pid")


def get_scn_record(scenes: DataFrame, pid: int) -> DataFrame:
    """F10: key-equality lookup (ref :788, .one() semantics left to caller)."""
    return scenes.where(F.col("pid") == F.lit(pid))


# ---------------------------------------------------------------------------
# stage to-do lists (state machine reads; F8/F9/J2)
# ---------------------------------------------------------------------------

def _ordered_pids(df: DataFrame, date_col: str) -> DataFrame:
    """Stage lists order by the sensor's date column then pid; sensors
    without the default `date_acquired` (S1/S2/ICESAT2) pass their own."""
    order = [date_col, "pid"] if date_col in df.columns else ["pid"]
    return df.orderBy(*order).select("pid")


def download_pred() -> Column:
    """Stage predicate behind :func:`get_scnlist_download` — exposed so
    :func:`~eodatadown_spark.pipeline.scenes_need_processing` can OR the
    stage predicates over ONE catalog scan instead of unioning four."""
    return (F.col("downloaded") == F.lit(False)) & valid_pred(True)


def con2ard_pred() -> Column:
    """Stage predicate behind :func:`get_scnlist_con2ard`."""
    return (
        (F.col("downloaded") == F.lit(True))
        & (F.col("ardproduct") == F.lit(False))
        & valid_pred(True)
    )


def quicklook_pred() -> Column:
    """Stage predicate behind :func:`get_scnlist_quicklook`."""
    return (
        (F.col("ardproduct") == F.lit(True))
        & valid_pred(True)
        & json_key_missing_pred("extended_info", "quicklook")
    )


def tilecache_pred() -> Column:
    """Stage predicate behind :func:`get_scnlist_tilecache`."""
    return (
        (F.col("ardproduct") == F.lit(True))
        & valid_pred(True)
        & json_key_missing_pred("extended_info", "tilecache")
    )


def get_scnlist_download(scenes: DataFrame, date_col: str = "date_acquired") -> DataFrame:
    """Scenes to download (ref :754-775): not downloaded, not invalid,
    ordered by acquisition date."""
    return _ordered_pids(scenes.where(download_pred()), date_col)


def get_scnlist_con2ard(scenes: DataFrame, date_col: str = "date_acquired") -> DataFrame:
    """Downloaded but not yet ARD (ref :939-963)."""
    return _ordered_pids(scenes.where(con2ard_pred()), date_col)


def get_scnlist_datacube(scenes: DataFrame, date_col: str = "date_acquired") -> DataFrame:
    """ARD done, not DC-loaded (ref :1202-1203)."""
    return _ordered_pids(
        scenes.where(
            (F.col("ardproduct") == F.lit(True))
            & (F.col("dcloaded") == F.lit(False))
            & valid_pred(True)
        ),
        date_col,
    )


def get_scnlist_quicklook(scenes: DataFrame, date_col: str = "date_acquired") -> DataFrame:
    """ARD done and ExtendedInfo lacks 'quicklook' (F9; ref :1291-1316)."""
    return _ordered_pids(scenes.where(quicklook_pred()), date_col)


def get_scnlist_tilecache(scenes: DataFrame, date_col: str = "date_acquired") -> DataFrame:
    """ARD done and ExtendedInfo lacks 'tilecache' (F9; ref :1424-1449)."""
    return _ordered_pids(scenes.where(tilecache_pred()), date_col)


def get_scnlist_usr_analysis(
    scenes: DataFrame, plugin_results: DataFrame, plugins: Sequence[str]
) -> DataFrame:
    """J2: scenes where ANY configured plugin lacks a Completed row
    (ref :1611-1646) — set-based replacement for the reference's N+1 loop.

    scenes × plugins (small broadcast cross) LEFT ANTI completed results.
    """
    plugin_df = scenes.sparkSession.createDataFrame(
        [(p,) for p in plugins], "plugin_name string"
    )
    candidates = (
        scenes.where((F.col("ardproduct") == F.lit(True)) & valid_pred(True))
        .select("pid")
        .crossJoin(F.broadcast(plugin_df))
    )
    completed = plugin_results.where(F.col("completed") == F.lit(True)).select(
        F.col("scene_pid").alias("pid"), "plugin_name"
    )
    return (
        candidates.join(completed, ["pid", "plugin_name"], "left_anti")
        .select("pid")
        .distinct()
        .orderBy("pid")
    )
