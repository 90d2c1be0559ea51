"""Export sinks (K1-K7).

Formats needing external tooling (OGR/GPKG, weasyprint PDF, datacube CLI)
are modeled to their data boundary: the engine computes the exact rows /
features / commands as DataFrames, and the final format conversion is an
injectable writer (real OGR/PDF libs aren't in this image).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodatadown_spark.functions.codecs import path_uuid5
from eodatadown_spark.functions.geo import bbox_wkt, split_antimeridian_bboxes

# Driver-side materialization cap for the report/export sinks (GeoJSON,
# PDF/HTML date reports, command lists): these collect by design — the
# outputs are report-sized by construction — but a mistaken full-catalog
# export would OOM the driver, so the collect is bounded (VERDICT r8).
DRIVER_COLLECT_CAP = int(os.environ.get("EODD_DRIVER_COLLECT_CAP", "100000"))


def bounded_collect(df: DataFrame, what: str, cap: int | None = None) -> list:
    """Collect ``df`` to the driver, raising if it exceeds ``cap`` rows
    (default :data:`DRIVER_COLLECT_CAP`).  The probe is ``limit(cap+1)``,
    so at most cap+1 rows ever reach the driver — no count job, no
    unbounded materialization before the check."""
    cap = DRIVER_COLLECT_CAP if cap is None else cap
    probe = df.limit(cap + 1).collect()
    if len(probe) > cap:
        raise ValueError(
            f"{what}: result exceeds the driver-side sink cap of {cap} rows. "
            "These sinks render report-sized outputs on the driver; export "
            "large tables distributed instead (catalog.export_json JSONL or "
            "df.write), or pass/raise the cap (EODD_DRIVER_COLLECT_CAP) "
            "explicitly."
        )
    return probe

# the attribute fields the reference writes per feature, incl. all four
# bbox corners (eodatadownlandsatgoogsensor.py:2688-2845)
_GIS_ATTRS = [
    "pid", "scene_id", "product_id", "spacecraft_id", "sensor_id",
    "date_acquired", "collection_number", "collection_category",
    "cloud_cover", "total_size", "downloaded", "ardproduct", "dcloaded",
    "invalid", "north_lat", "south_lat", "east_lon", "west_lon",
]


def scene_features(scenes: DataFrame) -> DataFrame:
    """K2: one polygon feature per scene — bbox → WKT with antimeridian
    split (each split box becomes its own feature row, matching the
    reference's multi-polygon emit)."""
    boxes = split_antimeridian_bboxes(
        F.col("west_lon"), F.col("east_lon"), F.col("south_lat"), F.col("north_lat")
    )
    attrs = [c for c in _GIS_ATTRS if c in scenes.columns]
    return scenes.select(*attrs, F.explode(boxes).alias("__b")).select(
        *attrs,
        bbox_wkt(
            F.col("__b.west_lon"), F.col("__b.east_lon"),
            F.col("__b.south_lat"), F.col("__b.north_lat"),
        ).alias("wkt"),
    )


def export_geojson(scenes: DataFrame, out_file: str) -> int:
    """K2 (GeoJSON flavor): write a FeatureCollection.  Scene exports are
    small result sets (already filtered); the collect is the same driver-side
    materialization the reference's OGR loop does — bounded by
    :func:`bounded_collect` so a mistaken full-catalog export fails loudly
    instead of OOMing the driver."""
    feats = []
    for r in bounded_collect(scene_features(scenes), "export_geojson"):
        d = r.asDict()
        wkt = d.pop("wkt")
        # bbox ring from the WKT we just built
        nums = [
            [float(a) for a in pt.split()]
            for pt in wkt[len("POLYGON(("):-2].split(", ")
        ]
        feats.append(
            {
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [nums]},
                "properties": {k: (str(v) if v is not None else None) for k, v in d.items()},
            }
        )
    with open(out_file, "w", encoding="utf-8") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    return len(feats)


def export_vector_layer(
    scenes: DataFrame,
    out_file: str,
    layer_name: str = "scenes",
    driver_name: str = "GPKG",
    add_lyr: bool = False,
) -> dict:
    """K2 (native OGR flavor): write scene outline features to a GDAL
    vector layer — GPKG by default — with the reference's exact file/layer
    semantics (create_gdal_gis_lyr,
    eodatadownlandsatgoogsensor.py:2688-2845):

    - file exists and ``add_lyr=True`` → open for update; the named layer
      is created if missing, extended if present (multi-sensor files);
    - file exists and ``add_lyr=False`` → delete + recreate;
    - one polygon feature per antimeridian-cut bbox, attribute fields from
      the scene columns.

    osgeo/GDAL is an optional dependency: when it isn't importable the
    SAME features go out as GeoJSON to ``<out_file>.geojson`` (a sidecar
    extension, never GeoJSON bytes inside a mislabeled .gpkg) — the
    returned dict says which driver actually ran.
    """
    try:
        from osgeo import gdal, ogr, osr
    except ImportError:
        alt = out_file if out_file.endswith(".geojson") else out_file + ".geojson"
        n = export_geojson(scenes, alt)
        return {"driver": "GeoJSON-fallback", "path": alt, "features": n}

    gdal.UseExceptions()
    feats = scene_features(scenes)
    rows = bounded_collect(feats, "export_vector_layer")  # filtered result sets (ref parity)
    attr_cols = [c for c in feats.columns if c != "wkt"]
    srs = osr.SpatialReference()
    srs.ImportFromEPSG(4326)
    driver = ogr.GetDriverByName(driver_name)
    if os.path.exists(out_file) and add_lyr:
        ds = gdal.OpenEx(out_file, gdal.OF_UPDATE)
    else:
        if os.path.exists(out_file):
            driver.DeleteDataSource(out_file)
        ds = driver.CreateDataSource(out_file)
    lyr = ds.GetLayerByName(layer_name)
    if lyr is None:
        lyr = ds.CreateLayer(layer_name, srs=srs, geom_type=ogr.wkbPolygon)
        type_map = {
            "bigint": ogr.OFTInteger64, "int": ogr.OFTInteger,
            "double": ogr.OFTReal, "float": ogr.OFTReal,
            "boolean": ogr.OFTInteger,
        }
        for name, dtype in feats.dtypes:
            if name == "wkt":
                continue
            fd = ogr.FieldDefn(name, type_map.get(dtype, ogr.OFTString))
            if fd.GetType() == ogr.OFTString:
                fd.SetWidth(256)
            if lyr.CreateField(fd) != 0:
                raise RuntimeError(f"could not create field {name!r}")
    defn = lyr.GetLayerDefn()
    for r in rows:
        d = r.asDict()
        feat = ogr.Feature(defn)
        for c in attr_cols:
            v = d[c]
            if v is not None:
                feat.SetField(c, v if isinstance(v, (int, float, bool)) else str(v))
        feat.SetGeometry(ogr.CreateGeometryFromWkt(d["wkt"]))
        lyr.CreateFeature(feat)
        feat = None
    lyr = None
    ds = None
    return {"driver": driver_name, "path": out_file, "features": len(rows)}


def write_split_lines(lines: list[str], out_base: str, n_splits: int = 1) -> list[str]:
    """Write text lines to one file, or round-robin across N split files
    (the reference's --split convention); single definition shared by every
    command-list sink so the trailing-newline/empty-file behavior can't
    drift."""
    if n_splits <= 1:
        with open(out_base, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + ("\n" if lines else ""))
        return [out_base]
    root, ext = os.path.splitext(out_base)
    paths = []
    for i in range(n_splits):
        chunk = lines[i::n_splits]
        p = f"{root}_{i + 1}{ext}"
        with open(p, "w", encoding="utf-8") as fh:
            fh.write("\n".join(chunk) + ("\n" if chunk else ""))
        paths.append(p)
    return paths


def write_command_lists(
    scenes: DataFrame, cmd_template: str, out_base: str, n_splits: int = 1
) -> list[str]:
    """K7: shell-command text files for HPC schedulers, optionally split into
    N round-robin files (ref bin/eoddgenscncmds.py:46-136 --split)."""
    from eodatadown_spark.reports import scene_command_lines

    cmds = [
        r["cmd"]
        for r in bounded_collect(
            scene_command_lines(scenes, cmd_template), "write_command_lists"
        )
    ]
    return write_split_lines(cmds, out_base, n_splits)


def datacube_dataset_docs(scenes: DataFrame) -> DataFrame:
    """K3: the ODC dataset document per ARD scene as a JSON column (the
    reference renders YAML then shells `datacube dataset add`,
    eodatadownlandsatgoogsensor.py:1184-1289; band map differs for LS8).

    Returns (pid, dataset_doc) — the subprocess step is a task-runner
    concern (pipeline.run_scene_tasks).
    """
    ls8_bands = ["coastal_aerosol", "blue", "green", "red", "nir", "swir1", "swir2"]
    other_bands = ["blue", "green", "red", "nir", "swir1", "swir2"]
    bands = F.when(
        F.col("spacecraft_id") == "LANDSAT_8",
        F.array(*[F.lit(b) for b in ls8_bands]),
    ).otherwise(F.array(*[F.lit(b) for b in other_bands]))
    doc = F.to_json(
        F.struct(
            path_uuid5(F.col("ardproduct_path")).alias("id"),  # C11 exact uuid5
            F.col("product_id").alias("label"),
            F.col("spacecraft_id").alias("platform"),
            F.col("sensor_id").alias("instrument"),
            F.col("date_acquired").alias("datetime"),
            F.col("ardproduct_path").alias("base_path"),
            bands.alias("bands"),
            F.struct(
                F.col("west_lon").alias("left"), F.col("east_lon").alias("right"),
                F.col("south_lat").alias("bottom"), F.col("north_lat").alias("top"),
            ).alias("extent"),
        )
    )
    return scenes.where(
        (F.col("ardproduct") == True) & (F.col("invalid") == False)  # noqa: E712
    ).select("pid", doc.alias("dataset_doc"))


def append_usage_log(
    catalog, sensor: str, description: str, flags: dict[str, bool] | None = None
) -> None:
    """K5: append one audit row (ref eodatadownusagedb.py:86-114).  The
    first row creates the table; later rows commit a new version through
    :meth:`ParquetCatalog.append`, so a committed version never changes."""
    import datetime as dt

    from eodatadown_spark import schemas

    spark = catalog.spark
    row = {f.name: None for f in schemas.USAGE_LOG.fields}
    row.update(
        {
            "id": None,
            "sensor": sensor,
            "update": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            "description": description,
        }
    )
    for k, v in (flags or {}).items():
        row[k] = v
    df = spark.createDataFrame([row], schema=schemas.USAGE_LOG)
    if catalog.exists("usage_log"):
        catalog.append("usage_log", df)
    else:
        catalog.write(df, "usage_log", partition=False)
