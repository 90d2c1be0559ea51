"""Spatial lookups (S7/S8): ROI layers and sensor-tile LUTs as DataFrames.

The reference reads OGR layers, builds an in-memory rtree, and loops
geometries (eodatadownutils.py:1737-1867).  Spark-first: vector layers are
small DataFrames of bbox(+WKT) rows; candidate search is a broadcast range
join (the broadcast hash/NL join over a small side IS the rtree-candidate
pattern — each task probes its partition against the in-memory list), and
the exact-geometry test is a tiny deterministic point-in-ring check only
where bboxes overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def find_sensor_tiles(lut: DataFrame, roi: DataFrame, tile_cols: list[str]) -> DataFrame:
    """S8: tile names from a sensor LUT (WRS2 path/row or S2 MGRS tiles)
    whose footprint intersects any ROI feature (ref findSensorROI,
    eodatadownutils.py:1737-1794).

    `lut` has tile_cols + bbox columns; `roi` has bbox columns.  Returns
    distinct tile keys.  The ROI side broadcasts; the LUT (possibly large —
    all WRS2 cells) streams.
    """
    roi_b = F.broadcast(
        roi.select(
            F.col("west_lon").alias("__r_w"), F.col("east_lon").alias("__r_e"),
            F.col("south_lat").alias("__r_s"), F.col("north_lat").alias("__r_n"),
        )
    )
    cond = (
        (F.col("east_lon") > F.col("__r_w"))
        & (F.col("__r_e") > F.col("west_lon"))
        & (F.col("north_lat") > F.col("__r_s"))
        & (F.col("__r_n") > F.col("south_lat"))
    )
    return lut.join(roi_b, cond, "left_semi").select(*tile_cols).distinct()


def zorder_key(
    x: F.Column | str,
    y: F.Column | str,
    bits: int = 16,
    x_range: tuple[float, float] = (-180.0, 180.0),
    y_range: tuple[float, float] = (-90.0, 90.0),
) -> F.Column:
    """Morton (Z-order) key: quantize x/y to ``bits`` bits each and
    interleave (x gets the even bit positions, y the odd) → bigint.

    Sorting/partitioning a table by this key makes 2-D bbox predicates
    prune at the row-group level — the data-layout half of spatial indexing
    that the reference's in-memory rtree (eodatadownutils.py:1737-1867)
    cannot provide at 100 TB, where the index must live IN the file layout.
    Pure integer/IEEE arithmetic (no library calls), so the key is exactly
    reproducible in any ANSI engine.

    Out-of-range inputs clamp to the boundary cells.
    """
    if bits < 1 or bits > 31:
        raise ValueError("bits must be in [1, 31]")
    # k=2 round-robin interleave == the classic even/odd bit layout, so the
    # 2-D key IS the N-D key specialized (bit-for-bit equality pinned by
    # test_2d_round_robin_matches_zorder_key) — one copy of the
    # engine-portability-sensitive quantize/interleave arithmetic
    return zorder_key_n([x, y], [x_range, y_range], bits)


def cluster_by_zorder(
    df,
    x_col: str,
    y_col: str,
    n_partitions: int,
    bits: int = 16,
    x_range: tuple[float, float] = (-180.0, 180.0),
    y_range: tuple[float, float] = (-90.0, 90.0),
):
    """Rewrite a table's layout for spatial locality: range-partition on the
    Morton key, sort within partitions.

    After `df.write.parquet(...)` of the result, each file covers a compact
    Z-curve interval, so parquet min/max stats on the (retained) __zorder
    column — and on correlated x/y columns — let bbox scans skip most row
    groups.  One range-exchange (sampled boundaries balance cell skew) +
    in-partition sort; the standard Delta/Iceberg OPTIMIZE ZORDER shape
    expressed with vanilla DataFrame ops.
    """
    z = zorder_key(x_col, y_col, bits, x_range, y_range)
    return (
        df.withColumn("__zorder", z)
        .repartitionByRange(n_partitions, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
    )


def zorder_key_n(
    cols,
    ranges,
    bits: int = 12,
) -> F.Column:
    """N-dimensional Morton key: quantize each column to ``bits`` bits and
    round-robin interleave (column j owns bit positions i*k + j) → bigint.

    The multi-column generalization of :func:`zorder_key` for layouts that
    must serve predicates over several dimensions at once (e.g. date-bucket
    × lat × lon): sorting by this key gives every dimension partial
    locality, so min/max file stats prune on ANY subset of the columns.
    ``bits * len(cols)`` must stay ≤ 62 (signed-long safe).  Same exact
    IEEE/integer arithmetic as the 2-D form — engine-portable, clamping
    out-of-range values to the boundary cells.
    """
    cols = list(cols)
    ranges = list(ranges)
    if len(cols) != len(ranges) or not cols:
        raise ValueError("cols and ranges must be equal-length and non-empty")
    k = len(cols)
    if bits < 1 or bits * k > 62:
        raise ValueError(f"bits*len(cols) must be in [1, 62], got {bits * k}")
    for lo, hi in ranges:
        if not (hi > lo):
            # a zero/negative span divides by 0 (or negates the scale) and
            # silently collapses every row to a boundary cell — refuse
            raise ValueError(f"range ({lo}, {hi}) must have hi > lo")
    n_cells = 1 << bits

    def quantize(c, lo: float, hi: float) -> F.Column:
        cc = F.col(c) if isinstance(c, str) else c
        scaled = F.floor(
            (cc.cast("double") - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n_cells))
        )
        return F.least(F.greatest(scaled, F.lit(0)), F.lit(n_cells - 1)).cast("long")

    qs = [quantize(c, lo, hi) for c, (lo, hi) in zip(cols, ranges)]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(qs):
            z = z + F.shiftright(q, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (i * k + j)
            )
    return z
