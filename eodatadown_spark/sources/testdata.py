"""Loaders for the driver-generated test tables (/root/testdata/sf*).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each (TESTDATA.md).

``events.ts`` is stored as parquet TIMESTAMP(NANOS); on PySpark 4.1.x it
reads as TIMESTAMP_NTZ truncated to µs (matching DuckDB's ns→µs cast
truncation), so no normalization is needed.  TIMESTAMP_NTZ is the canonical
type for that column — note a direct ``cast("double")`` on NTZ is illegal;
go ``cast("timestamp").cast("double")`` (value-identical under the engine's
UTC session timezone).  tests/test_sources_sinks.py carries a canary test so
a Spark-version bump that changes this fails in pytest, not in the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from eodatadown_spark.session import apply_runtime_confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
