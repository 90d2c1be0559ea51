"""Processing state machine: stage to-do union, batched state transitions.

The reference walks Downloaded → ARDProduct → DCLoaded per scene inside a
multiprocessing pool, committing one UPDATE per scene
(eodatadownrun.py:699-845).  Spark-first, the same semantics are:

- the to-do list is a union of state-filtered DataFrames (U1);
- the heavy per-scene work is a partitioned task fan-out (P2) whose task
  runner is injectable (external ARCSI/GAMMA/GDAL binaries are subprocess
  calls on executors, mocked in tests);
- state commits are ONE batched merge per stage (M2), not per-scene writes.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterable, Sequence

import pandas as pd  # module-level so pandas_udf type hints resolve under
                     # postponed annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodatadown_spark import queries as Q


def scenes_need_processing(
    scenes: DataFrame,
    plugin_results: DataFrame | None = None,
    plugins: Sequence[str] = (),
    calc_quicklook: bool = True,
    calc_tilecache: bool = True,
) -> DataFrame:
    """U1: distinct union of per-stage to-do lists → `pid` DataFrame.

    Replicates the *resulting* union of eodatadownrun.py:809-845 (the
    reference swaps the quicklook/tilecache calls under opposite guards —
    SURVEY §7.4.4 — the union is guard-respecting regardless of order).
    """
    parts: list[DataFrame] = []
    if plugins and plugin_results is not None:
        parts.append(
            Q.get_scnlist_usr_analysis(scenes, plugin_results, plugins)
        )
    # the four filter stages OR into ONE catalog scan (r13, guide §2.4):
    # the distinct pid set is identical to unioning the per-stage lists
    # (each list is a filter over the same scenes), but the plan drops
    # three full scans and the stage lists' global sorts, which the
    # union+distinct discarded anyway
    conds = []
    if calc_quicklook:
        conds.append(Q.quicklook_pred())
    if calc_tilecache:
        conds.append(Q.tilecache_pred())
    conds.append(Q.con2ard_pred())
    conds.append(Q.download_pred())
    parts.append(
        scenes.where(reduce(lambda a, b: a | b, conds)).select("pid")
    )
    return reduce(DataFrame.union, parts).distinct()


def merge_date_ordered(per_sensor: dict[str, DataFrame]) -> DataFrame:
    """J6: multi-sensor task merge ordered by observation datetime.

    The reference keys a dict by datetime so scenes with identical
    timestamps collide last-wins (eodatadownrun.py:963-969); replicated with
    a row_number over (obs_ts) keeping the last sensor in iteration order.
    Input frames must have columns (pid, obs_ts); output adds `sensor`.
    """
    from pyspark.sql import Window

    tagged = [
        df.select("pid", "obs_ts", F.lit(name).alias("sensor"), F.lit(i).alias("__ord"))
        for i, (name, df) in enumerate(per_sensor.items())
    ]
    allscn = reduce(DataFrame.union, tagged)
    w = Window.partitionBy("obs_ts").orderBy(F.col("__ord").desc(), F.col("pid").desc())
    return (
        allscn.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__ord")
        .orderBy("obs_ts")
    )


# ---------------------------------------------------------------------------
# batched mutations (M1-M6) — read-modify-write against ParquetCatalog
# ---------------------------------------------------------------------------

def apply_updates(catalog: DataFrame, updates: DataFrame, key: str = "pid") -> DataFrame:
    """M2: point updates of state columns, batched.

    `updates` carries `key` plus any subset of catalog columns; matched rows
    take the update value when non-null (coalesce), unmatched rows pass
    through.  One left join — no per-row commits.
    """
    upd_cols = [c for c in updates.columns if c != key]
    renamed = updates.select(
        F.col(key), *[F.col(c).alias(f"__u_{c}") for c in upd_cols]
    )
    # no broadcast hint: a stage's update set can approach catalog size, and
    # AQE already broadcasts small sides at runtime
    out = catalog.join(renamed, key, "left")
    for c in upd_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return out.drop(*[f"__u_{c}" for c in upd_cols])


def merge_extended_info(catalog: DataFrame, updates: DataFrame, key: str = "pid") -> DataFrame:
    """M3: JSONB merge-update — patch keys merged into the existing JSON doc
    at the top level (ref flag_modified pattern,
    eodatadownlandsatgoogsensor.py:1401-1408).

    `updates` has (key, extended_info_patch: JSON string).  The merge is a
    vectorized pandas UDF doing a real top-level dict update: a JVM-side
    `from_json(map<string,string>)` round-trip would rewrite NESTED object
    values into escaped strings, breaking `$.quicklook.quicklookpath`-style
    consumers.  Only patched rows pay the Python cost.
    """
    import json as _json

    @F.pandas_udf("string")
    def _merge(doc: pd.Series, patch: pd.Series) -> pd.Series:
        out = []
        for d, p in zip(doc, patch):
            if p is None:  # `when` doesn't short-circuit vectorized UDFs
                out.append(d)
                continue
            base = _json.loads(d) if d else {}
            base.update(_json.loads(p))
            out.append(_json.dumps(base))
        return pd.Series(out)

    patched = updates.select(F.col(key), F.col("extended_info_patch"))
    out = catalog.join(patched, key, "left")
    return out.withColumn(
        "extended_info",
        F.when(
            F.col("extended_info_patch").isNotNull(),
            _merge(F.col("extended_info"), F.col("extended_info_patch")),
        ).otherwise(F.col("extended_info")),
    ).drop("extended_info_patch")


def delete_where(catalog: DataFrame, pred) -> DataFrame:
    """M4: delete-by-predicate = keep the complement."""
    return catalog.where(~pred)


def rewrite_path_prefix(
    catalog: DataFrame, col: str, old_prefix: str, new_prefix: str
) -> DataFrame:
    """M5: bulk path-prefix rewrite (ref :2493-2526); prefixes are treated
    as literals (escaped), matching the reference's str.replace."""
    from eodatadown_spark.functions.paths import rewrite_path_prefixes

    return catalog.withColumn(col, rewrite_path_prefixes(col, {old_prefix: new_prefix}))


def reset_download_state(catalog: DataFrame, pids: Iterable[int] | None = None) -> DataFrame:
    """M6: clear download/ARD/DC state (ref :2847-2931)."""
    target = F.lit(True) if pids is None else F.col("pid").isin(list(pids))
    cleared = {
        "downloaded": F.lit(False),
        "download_path": F.lit(""),
        "download_start_date": F.lit(None).cast("timestamp"),
        "download_end_date": F.lit(None).cast("timestamp"),
        "ardproduct": F.lit(False),
        "ardproduct_path": F.lit(""),
        "ardproduct_start_date": F.lit(None).cast("timestamp"),
        "ardproduct_end_date": F.lit(None).cast("timestamp"),
        "dcloaded": F.lit(False),
        "dcloaded_start_date": F.lit(None).cast("timestamp"),
        "dcloaded_end_date": F.lit(None).cast("timestamp"),
    }
    out = catalog
    for c, v in cleared.items():
        if c in catalog.columns:
            out = out.withColumn(c, F.when(target, v).otherwise(F.col(c)))
    return out


# ---------------------------------------------------------------------------
# task fan-out (P2)
# ---------------------------------------------------------------------------

def run_scene_tasks(
    scenes_todo: DataFrame,
    task_fn: Callable[[dict], dict],
    out_schema: str,
) -> DataFrame:
    """P2: distribute per-scene side-effecting work; return state-update rows.

    `task_fn(scene_row_dict) -> update_dict` runs on executors (downloads,
    external-binary subprocesses...); `out_schema` is the update-row DDL.
    Implemented with mapInPandas so results stream back as an update
    DataFrame for ONE batched apply_updates — the Spark replacement for
    multiprocessing.Pool + per-scene commits (eodatadownrun.py:786-787).
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    empty_cols = StructType.fromDDL(out_schema).fieldNames()

    def _runner(batches):
        rows = []
        for pdf in batches:
            rows.extend(task_fn(rec) for rec in pdf.to_dict("records"))
        # empty partitions must still yield a frame with the DECLARED column
        # names or Arrow conversion kills the stage
        yield pd.DataFrame(rows) if rows else pd.DataFrame(columns=empty_cols)

    return scenes_todo.mapInPandas(_runner, schema=out_schema)
