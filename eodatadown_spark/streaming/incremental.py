"""Incremental ingest semantics (T1-T5) and the incremental index folds.

The reference runs batch-on-cron with stored high-watermarks:
:func:`eodatadown_spark.ingest.watermark` + :func:`filter_above_watermark`
(T1), dropDuplicates-on-key (T2), keep-latest window (T3).  This module
holds the windowed and sessionized rollups (T4/T5), which also accept a
streaming DataFrame, and the ``apply_*_batch`` cores that fold one batch
into stored index state (the ``dedupindex``/``spanindex --apply`` CLIs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame, ts_col: str = "ts", window: str = "1 hour", lateness: str = "1 day"
) -> DataFrame:
    """Tumbling-window per-type counts with late-data handling — the
    monitoring-cadence rollup (T5) as a streaming agg; also valid on a batch
    DataFrame (window() works in both modes)."""
    return (
        events.withWatermark(ts_col, lateness)
        if events.isStreaming
        else events
    ).groupBy(
        F.window(F.col(ts_col), window).alias("win"), F.col("event_type")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


def sliding_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    duration: str = "2 hours",
    slide: str = "1 hour",
    lateness: str = "1 day",
) -> DataFrame:
    """SLIDING-window per-type counts: each event lands in duration/slide
    overlapping windows (epoch-aligned starts every ``slide``), the
    trailing-coverage view a tumbling window can't give ("events in the
    last 2 h, refreshed hourly").  Streaming-capable exactly like the
    tumbling variant — ``window(ts, duration, slide)`` works in both modes,
    with the watermark bounding state in streaming.

    Cost model: the window explode multiplies rows by duration/slide BEFORE
    the aggregate's map-side combine, so keep that ratio small at scale
    (2× here); for large ratios prefer tumbling panes + a rolling sum over
    pane aggregates (q89's time-RANGE frame shape).
    """
    return (
        events.withWatermark(ts_col, lateness) if events.isStreaming else events
    ).groupBy(
        F.window(F.col(ts_col), duration, slide).alias("win"), F.col("event_type")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization (T4 analog): a gap of more than
    ``gap_seconds`` between consecutive events of the same key starts a new
    session.  Adds a dense per-key ``session_id`` column (1-based).

    Classic lag + conditional-cumsum over a per-key window; one shuffle on
    the key, scales with the number of distinct keys (per-user event streams
    stay inside one partition's window frame).

    Timestamp handling: ``cast("timestamp")`` first — a no-op for
    TIMESTAMP_LTZ and the legal NTZ→LTZ conversion for TIMESTAMP_NTZ (the
    driver's nanos-parquet `events.ts` arrives as TIMESTAMP_NTZ on Spark 4.x,
    where a direct ``cast("double")`` is an AnalysisException).  Under the
    engine's UTC session timezone the conversion is value-identical, and gap
    *differences* are timezone-invariant regardless.  The double epoch is
    µs-exact (unix_timestamp would floor to whole seconds and diverge at
    gap==threshold boundaries).
    """
    from pyspark.sql import Window

    order_cols = order_cols or []
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *order_cols)
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > F.lit(float(gap_seconds))), 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_blocks(usage_log: DataFrame) -> DataFrame:
    """T4: reconstruct start/end blocks from the append-only usage log —
    running count of start_block markers forms the session id (window
    cumulative sum), mirroring the reference's StartBlock/EndBlock bracket
    convention (eodatadownusagedb.py:86-114)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("sensor")
        .orderBy("update", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return usage_log.withColumn(
        "session_id",
        F.sum(F.when(F.col("start_block") == True, 1).otherwise(0)).over(w),  # noqa: E712
    )


def _frees_scope_pins(fn):
    """Free the localCheckpoint blocks a fold created, once it commits.

    Every ``apply_*_batch`` pins per-batch intermediates (pair sets, delta
    sketches) for the OCC commit, and pinned blocks are NEVER auto-freed —
    a long-lived session calling these once per batch would ratchet
    block-manager memory up by one batch's pins per batch until eviction
    pressure strangles the executors.  The wrapper snapshots the session's
    persistent-RDD ids at entry and unpersists everything NEW in a
    finally: the folds return
    plain dicts (counts computed before return) and their durable effects
    are catalog commits, so no caller ever needs the pins afterwards.

    Scope rule: pins created by OTHER work in the same session during the
    call would be freed too — the single-writer-per-state contract the
    index CLIs already document makes that configuration unsupported.
    With SPARK_GRAFT_CHECKPOINT_DIR set the pins are reliable (file)
    checkpoints instead of blocks; those files are the checkpoint dir
    owner's retention concern, not block-manager memory."""
    import functools

    @functools.wraps(fn)
    def wrapper(catalog, batch, *args, **kwargs):
        spark = batch.sparkSession
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        before = set(jmap.keys())
        try:
            return fn(catalog, batch, *args, **kwargs)
        finally:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keys()):
                if rid not in before:
                    jmap[rid].unpersist()

    return wrapper


@_frees_scope_pins
def apply_neardup_batch(
    catalog,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    index_table: str = "band_index",
    fingerprint_table: str = "fingerprints",
    clusters_table: str = "clusters",
) -> dict:
    """Fold ONE document batch into the stored continuous-dedup state:
    probe the banded MinHash index (never re-banding the corpus), append
    the batch's index/fingerprint rows, and update the cluster
    assignments — the core of the ``dedupindex --apply`` CLI.

    REPLAY-SAFE by construction, so a crashed apply is repaired by
    re-running the same batch: index/fingerprint appends anti-join
    out already-stored doc ids (a replayed batch adds nothing), the
    clusters table — the one probes consult for canonical answers —
    commits LAST (a crash mid-apply leaves harmless extra index rows, not
    assignments whose supporting index rows are missing), and
    ``update_clusters`` re-folds identical pairs to identical assignments.
    Each catalog commit is individually atomic (exclusive version claim +
    locked pointer flip).  Returns ``{"batch_docs", "new_pairs"}`` stats.
    """
    from eodatadown_spark.operators import dedup as D

    index = catalog.read(index_table)
    fps = catalog.read(fingerprint_table)
    # pin the pair set BEFORE any table is rewritten: it is derived from
    # the index/fingerprint versions read above, which the appends below
    # replace (retention keeps one prior version, but relying on that for
    # an unpinned triple-referenced plan would be fragile)
    pairs = D._pin(D.minhash_neardup_against_index(
        batch, index, fps, id_col=id_col, text_col=text_col, k=k,
        num_perm=num_perm, bands=bands, jaccard_threshold=jaccard_threshold,
    ))
    new_index_rows = D.minhash_band_index(
        batch, id_col, text_col, k, num_perm, bands
    ).join(index.select("id").distinct(), "id", "left_anti")
    catalog.append(index_table, new_index_rows)
    new_fp_rows = D.shingle_hash_table(batch, id_col, text_col, k).join(
        fps.select("id").distinct(), "id", "left_anti"
    )
    catalog.append(fingerprint_table, new_fp_rows)
    # clusters DERIVE from the table's own contents, so the commit is a
    # base-checked OCC replace (ADVICE r8): two concurrent appliers (two
    # CLI --apply runs) serialize — the loser re-reads the winner's
    # assignments and re-folds its pinned pair set, instead
    # of last-writer-wins silently dropping one fold
    # both pins go through the _pin policy (ADVICE r9): with
    # SPARK_GRAFT_CHECKPOINT_DIR set they become RELIABLE checkpoints, so
    # an executor loss during a replace_derived OCC retry replays from
    # storage instead of killing the fold
    new_docs = D._pin(batch.select(F.col(id_col).alias("doc_id")).distinct())
    catalog.replace_derived(
        clusters_table,
        lambda cur: D.update_clusters(
            cur, pairs.select("id_a", "id_b"), new_docs=new_docs
        ),
        partition=False,
    )
    return {"batch_docs": batch.count(), "new_pairs": pairs.count()}


@_frees_scope_pins
def apply_prefix_batch(
    catalog,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    prefix_table: str = "prefix_index",
    freq_table: str = "prefix_freq",
    fingerprint_table: str = "fingerprints_exact",
    clusters_table: str = "clusters",
) -> dict:
    """EXACT-Jaccard twin of :func:`apply_neardup_batch`: fold one batch
    into the stored prefix-index dedup state — probe the stored prefix
    rows (:func:`..operators.dedup.jaccard_prefix_against_index`; the
    corpus text is never re-shingled), append the batch's prefix rows
    (ranked under the index's FROZEN frequency order — the freq table is
    deliberately NOT updated, that is the order-consistency contract) and
    fingerprints, then fold the pairs into the cluster assignments.

    Replay-safe the same way: appends anti-join already-stored ids, the
    clusters table commits LAST through replace_derived's base-checked
    flip, and update_clusters re-folds identical pairs to identical
    assignments.  Returns ``{"batch_docs", "new_pairs"}`` stats.
    """
    from eodatadown_spark.operators import dedup as D

    prefix = catalog.read(prefix_table)
    freq = catalog.read(freq_table)
    fps = catalog.read(fingerprint_table)
    # probe_parts exposes the probe's pinned batch relations so the
    # appends below reuse them — the batch is shingled and frozen-order
    # ranked ONCE per batch, not twice
    pairs, new_base, new_prefix = D.jaccard_prefix_probe_parts(
        batch, prefix, freq, fps, id_col=id_col, text_col=text_col, k=k,
        threshold=threshold,
    )
    pairs = D._pin(pairs)
    stored_ids = prefix.select("id").distinct()
    catalog.append(
        prefix_table, new_prefix.join(stored_ids, "id", "left_anti")
    )
    new_fp_rows = new_base.join(
        fps.select("id").distinct(), "id", "left_anti"
    )
    catalog.append(fingerprint_table, new_fp_rows)
    new_docs = D._pin(batch.select(F.col(id_col).alias("doc_id")).distinct())
    catalog.replace_derived(
        clusters_table,
        lambda cur: D.update_clusters(
            cur, pairs.select("id_a", "id_b"), new_docs=new_docs
        ),
        partition=False,
    )
    return {"batch_docs": batch.count(), "new_pairs": pairs.count()}


@_frees_scope_pins
def apply_simhash_batch(
    catalog,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 15,
    n_bits: int = 60,
    index_table: str = "simhash_index",
    clusters_table: str = "clusters",
) -> dict:
    """SimHash twin of :func:`apply_neardup_batch`: probe the stored band
    index (corpus never re-sketched; the sketch rides in the index rows so
    there is NO separate fingerprint table — verification is one
    XOR+popcount), append the batch's band rows, fold the pairs into the
    cluster assignments.  Replay-safe the same way: the append anti-joins
    already-stored ids and the clusters commit is last, through
    replace_derived's base-checked flip."""
    from eodatadown_spark.operators import dedup as D

    index = catalog.read(index_table)
    pairs = D._pin(D.simhash_neardup_against_index(
        batch, index, id_col=id_col, text_col=text_col,
        max_hamming=max_hamming, band_bits=band_bits, n_bits=n_bits,
    ))
    new_rows = D.simhash_band_index(
        batch, id_col, text_col, band_bits=band_bits, n_bits=n_bits
    ).join(index.select("id").distinct(), "id", "left_anti")
    catalog.append(index_table, new_rows)
    new_docs = D._pin(batch.select(F.col(id_col).alias("doc_id")).distinct())
    catalog.replace_derived(
        clusters_table,
        lambda cur: D.update_clusters(
            cur, pairs.select("id_a", "id_b"), new_docs=new_docs
        ),
        partition=False,
    )
    return {"batch_docs": batch.count(), "new_pairs": pairs.count()}


@_frees_scope_pins
def apply_span_index_batch(
    catalog,
    batch: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_table: str = "span_index",
    batch_id: int | None = None,
    unit: str = "token",
) -> dict:
    """Fold ONE document batch into a stored window-hash span index
    (dedup.span_hash_index): index the batch, counter-ADD it through
    ``replace_derived``'s base-checked OCC flip (merge_span_index is
    exact addition under the disjoint-doc-id ingest contract — same
    commit discipline as the CMS fold).  The batch index is pinned
    before the OCC loop; a conflict retry re-reads stored state but
    never re-scans the batch.

    REPLAY IDEMPOTENCE: counter addition double-adds on replay, so when
    ``batch_id`` is given a SENTINEL row (``wh = -1 - batch_id``, zero
    counts) commits in the SAME flip as the fold — window hashes are
    non-negative by construction, so sentinels never collide with probe
    keys and zero-count rows never mark a span.

    Returns {"batch_windows": ..., "table_rows": ..., "applied": bool}.
    """
    from eodatadown_spark.operators.dedup import (
        _pin,
        merge_span_index,
        span_hash_index,
    )

    delta = _pin(span_hash_index(batch, window, id_col, text_col, unit=unit))
    spark = batch.sparkSession
    sentinel = (
        None
        if batch_id is None
        else spark.createDataFrame(
            [(-1 - int(batch_id), 0, 0)], "wh long, cnt long, n_docs long"
        )
    )
    applied = {"v": True}

    def _fold(current: DataFrame) -> DataFrame:
        if sentinel is not None and current.where(
            F.col("wh") == (-1 - int(batch_id))
        ).take(1):
            applied["v"] = False
            return current
        merged = merge_span_index(current.where(F.col("wh") >= 0), delta)
        carried = current.where(F.col("wh") < 0)  # keep prior sentinels
        out = merged.unionByName(carried)
        return out.unionByName(sentinel) if sentinel is not None else out

    if catalog.exists(span_table):
        catalog.replace_derived(span_table, _fold, partition=False)
    else:
        first = (
            delta.unionByName(sentinel) if sentinel is not None else delta
        )
        catalog.write(first, span_table, partition=False)
    mass = delta.agg(F.sum("cnt").alias("m")).first()["m"] or 0
    stored = catalog.read(span_table).where(F.col("wh") >= 0)
    return {
        "batch_windows": int(mass),
        "table_rows": stored.count(),
        "applied": applied["v"],
    }
