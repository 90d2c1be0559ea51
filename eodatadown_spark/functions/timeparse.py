"""Datetime scalar functions (C1-C5) with multi-format fallback parsing."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the reference's known source formats (eodatadownutils.py:790-831)
FALLBACK_TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def parse_timestamp_multi(col: Column | str, formats=FALLBACK_TS_FORMATS) -> Column:
    """C3: try each format in order, first non-null wins — the Spark shape of
    the reference's try/except strptime ladder."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, "Z$", "")  # C1's trailing-Z strip (`[:-1]`)
    return F.coalesce(*[F.try_to_timestamp(stripped, F.lit(f)) for f in formats])


def parse_yyyyddd(col: Column | str) -> Column:
    """C2: day-of-year date parse '%Y%j' (GEDI filename dates,
    eodatadownGEDIsensor.py:403-417)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c.substr(1, 7), "yyyyDDD")
