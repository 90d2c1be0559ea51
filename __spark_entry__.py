"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry maps a SURVEY.md §2 operator (or a training-data
operator) onto the driver's test tables; ``oracle_sql()`` holds the DuckDB
equivalent.  Engine logic lives in :mod:`eodatadown_spark`; this module only
binds it to the test schema.

Conventions for oracle stability:
- every computed column is aliased identically on both sides;
- floating aggregates are rounded (2dp money, 4dp ratios) on both sides;
- ``events.ts`` is TIMESTAMP(NANOS) parquet: on Spark 4.x it reads natively
  as TIMESTAMP_NTZ truncated to µs (see sources.testdata + the canary test);
  epoch math goes NTZ→LTZ→double; oracle SQL casts to µs TIMESTAMP;
- windows/top-k carry unique tie-break keys so row SETS are deterministic.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eodatadown_spark import queries as Q
from eodatadown_spark.operators import corpus as C
from eodatadown_spark.operators import dedup as D
from eodatadown_spark.operators import similarity as S
from eodatadown_spark.operators import text as X
from eodatadown_spark.sources.testdata import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# queries — one per implemented operator family
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf):
    """A3/A7/A8: multi-agg single pass (TPC-H Q1 shape)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


def q02_date_range_page(spark, sf):
    """F1+O1+W2: inclusive date-range filter, DESC order, OFFSET/LIMIT page
    (reference pagination, eodatadownlandsatgoogsensor.py:1989-2040)."""
    orders = _t(spark, sf, "orders")
    filtered = orders.where(
        Q.date_range_pred("o_orderdate", "1997-12-31", "1996-01-01")
    )
    w = Window.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn").between(11, 30))
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
        )
    )


def q03_bbox_overlap(spark, sf):
    """F7: strict-inequality rectangle-overlap predicate shape."""
    cust = _t(spark, sf, "customer")
    pred = (
        (F.col("c_acctbal") > F.lit(1000.0))
        & (F.lit(9000.0) > F.col("c_acctbal"))
        & (F.col("c_nationkey") > F.lit(2))
        & (F.lit(20) > F.col("c_nationkey"))
    )
    return (
        cust.where(pred)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


def q04_watermark_incremental(spark, sf):
    """F2/T1/A2: high-watermark incremental filter — agg(max) then strict
    greater-than on the source (ingest.watermark pattern)."""
    from eodatadown_spark.ingest import watermark

    ev = _t(spark, sf, "events")
    wm = watermark(ev, "ts")
    cutoff_df = spark.createDataFrame([(wm,)], "wm timestamp").select(
        F.date_trunc("day", F.col("wm") - F.expr("INTERVAL 7 DAYS")).alias("cut")
    )
    cutoff = cutoff_df.first()["cut"]
    return (
        ev.where(F.col("ts") > F.lit(cutoff))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def q05_inlist_month(spark, sf):
    """F3+F4+F6: threshold + IN-list + month-of-interest predicates."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(
            F.col("l_returnflag").isin("A", "R")
            & Q.month_pred("l_shipdate", [1, 2, 3])
            & (F.col("l_discount") <= 0.05)
        )
        .groupBy("l_returnflag", F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def q06_dup_detect(spark, sf):
    """A4: group-by-count duplicate detection (>1)."""
    orders = _t(spark, sf, "orders")
    from eodatadown_spark.ingest import find_duplicate_scenes

    return find_duplicate_scenes(orders, key="o_custkey")


def q07_keep_latest(spark, sf):
    """J4/W1/T3: keep-latest-per-key window dedup."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


def q08_anti_join(spark, sf):
    """J5: idempotent-insert anti-join shape (keys absent from other side)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


def q09_semi_join(spark, sf):
    """J2-shape: EXISTS semi-join."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    big = orders.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(big, "c_custkey", "left_semi").select("c_custkey", "c_mktsegment")


def q10_revenue_by_nation(spark, sf):
    """J1/J7: multi-table equi-join + agg; dims broadcast."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q11_distinct_values(spark, sf):
    """A5: distinct values via group-by."""
    return Q.find_unique_platforms(_t(spark, sf, "orders"), "o_orderpriority")


def q12_distinct_dates(spark, sf):
    """A6: distinct cast-to-date, filtered."""
    orders = _t(spark, sf, "orders")
    return (
        orders.where(F.col("o_orderstatus") == "F")
        .select(F.to_date("o_orderdate").alias("obs_date"))
        .distinct()
    )


def q13_summary_stats(spark, sf):
    """A7: exact summary statistics incl. exact quartiles
    (reports.column_stats)."""
    from eodatadown_spark.reports import column_stats

    return column_stats(_t(spark, sf, "orders"), "o_totalprice", round_to=2)


def q14_union_distinct(spark, sf):
    """U1: union-with-dedup of task lists."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    a = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return a.union(b).distinct()


def q15_derived_columns(spark, sf):
    """C4/C5/C6/F14: scalar derivations — date format/extract, split/index."""
    orders = _t(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("o_ymd"),
        F.split(F.col("o_orderpriority"), "-").getItem(0).alias("prio_code"),
        F.lower("o_orderstatus").alias("status_lc"),
    )


def q16_count_date_range(spark, sf):
    """A3: count-under-predicate as a one-row result."""
    orders = _t(spark, sf, "orders")
    return orders.where(
        Q.date_range_pred("o_orderdate", "1998-12-31", "1996-01-01")
        & (F.col("o_totalprice") > 100000)
    ).agg(F.count("*").alias("n_scenes"))


def q17_obs_date_rollup(spark, sf):
    """A9/J1: per-(type, date) rollup with member counts."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("obs_date"))
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


def q18_json_filter(spark, sf):
    """F9/C21: JSON key extraction + typed filter on a JSON string column."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.where(k.isNotNull() & (k > 50))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg(k), 4).alias("avg_k"))
    )


def q19_exact_dedup(spark, sf):
    """Dedup/exact: content-hash distinct counts."""
    docs = _t(spark, sf, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


def q20_text_profile(spark, sf):
    """Text-analysis: per-language quality metrics (operators.text)."""
    docs = _t(spark, sf, "documents")
    prof = docs.select(
        "lang",
        X.token_count(F.col("text")).alias("n_tokens"),
        X.punct_ratio(F.col("text")).alias("pr"),
        X.char_count(F.col("text")).alias("nc"),
    )
    return prof.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("pr"), 4).alias("avg_punct_ratio"),
        F.round(F.avg("nc"), 4).alias("avg_chars"),
    )


def q21_langid(spark, sf):
    """Text-analysis: stopword-heuristic language ID."""
    docs = _t(spark, sf, "documents")
    return (
        docs.select(X.language_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count("*").alias("n"))
    )


def q22_fingerprint(spark, sf):
    """Text-analysis: deterministic document fingerprint (md5-normalized)."""
    docs = _t(spark, sf, "documents")
    return (
        docs.select("source", X.fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_unique_fp"))
    )


def q23_cosine_topk(spark, sf):
    """Similarity: exact brute-force cosine top-3 (operators.similarity)."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.cosine_topk(emb, qs, k=3).select("query_id", "neighbor_id", "rank")


def q24_minhash_neardup(spark, sf):
    """Dedup/MinHash-LSH near-duplicate pairs.  Oracle-checked against the
    exact string-level shingle Jaccard (the LSH path is an accelerator with
    ~1 recall at the planted-dup similarity levels, and the 62-bit
    verification hashes make hashed-set Jaccard equal string-set Jaccard)."""
    docs = _t(spark, sf, "documents")
    return D.minhash_neardup_pairs(docs, jaccard_threshold=0.5)


def q25_simhash_neardup(spark, sf):
    """Dedup/SimHash near-duplicate pairs — FULL value oracle: the md5-based
    60-bit sketch is recomputed in DuckDB, and band_bits=6 gives 10 bands >
    max_hamming=8, so by pigeonhole the banded output provably equals the
    exact all-pairs hamming result the oracle computes."""
    docs = _t(spark, sf, "documents")
    return D.simhash_neardup_pairs(docs, max_hamming=8, band_bits=6)


def q26_window_rollup(spark, sf):
    """T5/streaming-shape: tumbling-hour event rollup (batch-equivalent
    plan of streaming.windowed_event_counts)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def q27_top1_watermark(spark, sf):
    """A1/A2/O2: max-scalar aggregates (watermark + next-PID pattern)."""
    orders = _t(spark, sf, "orders")
    return orders.agg(
        F.to_date(F.max("o_orderdate")).alias("wm_date"),
        F.max("o_orderkey").alias("max_pid"),
    )


def q28_ngram_jaccard(spark, sf):
    """Dedup/exact n-gram Jaccard pairs above threshold.  Exact (no LSH), so
    it is fully SQL-expressible — the DuckDB oracle recomputes the same word
    3-shingle sets and Jaccard with unnest-free list algebra."""
    docs = _t(spark, sf, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.5)


def q29_sessionize(spark, sf):
    """Sessionization (T4-analog): gap > 30 min starts a new session;
    engine operator streaming.incremental.sessionize (lag + conditional
    cumsum windows, NTZ-safe timestamp normalization)."""
    from eodatadown_spark.streaming.incremental import sessionize

    ev = _t(spark, sf, "events")
    sess = sessionize(
        ev, ["user_id"], ts_col="ts", gap_seconds=1800.0, order_cols=["event_id"]
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def q30_running_total(spark, sf):
    """W-family: running cumulative sum per key (monthly revenue per status)."""
    orders = _t(spark, sf, "orders")
    monthly = orders.groupBy(
        "o_orderstatus", F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum("o_totalprice").alias("mrev"))
    w = Window.partitionBy("o_orderstatus").orderBy("month").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return monthly.select(
        "o_orderstatus",
        F.to_date("month").alias("month"),
        F.round(F.sum("mrev").over(w), 2).alias("cum_revenue"),
    )


def q31_topk_per_group(spark, sf):
    """Top-K per group: 3 highest-value orders per priority."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


def q32_pivot(spark, sf):
    """Pivot: quantity by returnflag x linestatus."""
    li = _t(spark, sf, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag", F.col("O").alias("qty_o"), F.col("F").alias("qty_f")
    )


def q33_asof_prior_event(spark, sf):
    """As-of pattern: for each purchase, the timestamp of the user's most
    recent prior signup (running conditional max — the window form of an
    as-of join)."""
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_signup = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("prior_signup_ts", prior_signup)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "prior_signup_ts")
    )


def q34_quality_filter(spark, sf):
    """Text-analysis: composite quality score + threshold filter."""
    docs = _t(spark, sf, "documents")
    return (
        docs.select(
            "doc_id",
            F.round(X.quality_score(F.col("text")), 4).alias("quality"),
        )
        .where(F.col("quality") >= 0.99)
        .select("doc_id", "quality")
    )


def q35_embedding_neardup(spark, sf):
    """Similarity: embedding-cosine near-dup pairs via LSH buckets.  Fully
    oracle-checked: the hyperplanes are deterministic literals, inlined into
    the DuckDB SQL (see _hyperplane_bucket_sql), so bucket assignment AND
    cosine values are reproduced independently."""
    emb = _t(spark, sf, "embeddings")
    return S.embedding_neardup_pairs(emb, threshold=0.4, n_planes=6)


def q107_semantic_dedup(spark, sf):
    """SemDeDup-style semantic dedup (similarity.semantic_dedup): nearest-
    centroid cell assignment (deterministic seed centroids — the q49/IVF
    convention), then inside each cell any vector with a lower-id cell-mate
    at cosine ≥ 0.42 is dropped.  Output (vec_id, cell, is_kept) carries no
    float, and every within-cell cosine sits ≥ 1.7e-3 from the threshold on
    this table, so the cross-engine comparison is margin-safe.

    n_clusters=None auto-scales the cell count with corpus size (the
    SemDeDup prescription — within-cell pairs are quadratic per cell); on
    the 500-vector oracle tables that resolves to 8, exactly what the SQL
    oracle's `vec_id < 8` centroid CTE hardcodes, so the differential
    check stays valid while bench runs at larger sf get more cells."""
    emb = _t(spark, sf, "embeddings")
    return S.semantic_dedup(emb, n_clusters=None, threshold=0.42)


def q108_rrf_fusion(spark, sf):
    """Hybrid-retrieval fusion (similarity.rrf_fuse): reciprocal-rank
    fusion of the exact cosine top-3 run (q23's shape) with the
    hyperplane-LSH bucketed top-3 run (q36's shape) — the dense+approx
    combiner a retrieval/curation pipeline runs after multiple ANN passes.
    Rank-only output: with two runs every fused score is a ≤2-term double
    sum (order-independent, bit-exact cross-engine), so fused ranks are
    deterministic; the float score itself stays engine-side (the q23/q36
    convention)."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, qs, k=3).select("query_id", "neighbor_id", "rank")
    approx = S.lsh_bucket_topk(emb, qs, k=3, n_planes=6).select(
        "query_id", "neighbor_id", "rank"
    )
    return S.rrf_fuse([exact, approx]).select(
        "query_id", "neighbor_id", "fused_rank"
    )


def q109_funnel(spark, sf):
    """Ordered funnel over the events table (temporal.funnel_stages):
    signup → view → click → purchase, each stage counting users whose
    stage event falls strictly after their first previous-stage event.
    Broadcast-join chain on the user dimension; the event scan carries a
    pushed stage filter per aggregate."""
    from eodatadown_spark.operators.temporal import funnel_stages

    ev = _t(spark, sf, "events")
    return funnel_stages(ev, ["signup", "view", "click", "purchase"])


def q110_cohort_retention(spark, sf):
    """Weekly cohort retention (temporal.cohort_retention): users bucketed
    by first-event week, distinct-counted per activity-week offset."""
    from eodatadown_spark.operators.temporal import cohort_retention

    ev = _t(spark, sf, "events")
    return cohort_retention(ev)


def q111_sliding_window(spark, sf):
    """Sliding-window rollup (streaming.sliding_window_counts): 2-hour
    windows sliding hourly — each event lands in two overlapping windows,
    the trailing-coverage view tumbling windows can't give.  The oracle
    regenerates the overlapping window starts with generate_series."""
    from eodatadown_spark.streaming.incremental import sliding_window_counts

    ev = _t(spark, sf, "events")
    out = sliding_window_counts(ev, duration="2 hours", slide="1 hour")
    return out.select(
        F.col("win").start.alias("win_start"),
        F.col("win").end.alias("win_end"),
        "event_type", "n", "total_value",
    )


def q112_daily_anomaly(spark, sf):
    """Daily-volume anomaly scores (temporal.daily_anomaly_scores): per
    event type, each day's count z-scored against the type's own daily
    distribution."""
    from eodatadown_spark.operators.temporal import daily_anomaly_scores

    ev = _t(spark, sf, "events")
    return daily_anomaly_scores(ev)


def q113_vocab_overlap(spark, sf):
    """Pairwise per-source vocabulary Jaccard (corpus.vocab_overlap): the
    corpus collapses to distinct (source, token) first, so only the
    vocabulary-sized relation self-joins."""
    from eodatadown_spark.operators.corpus import vocab_overlap

    return vocab_overlap(_t(spark, sf, "documents"))


def q114_zipf_slope(spark, sf):
    """Zipf rank-frequency OLS slope per source (corpus.zipf_slope) — the
    model-free corpus-quality screen; natural text sits near -1."""
    from eodatadown_spark.operators.corpus import zipf_slope

    return zipf_slope(_t(spark, sf, "documents"))


def q115_small_qty_revenue(spark, sf):
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand's
    small parts — the correlated AVG subquery decorrelated into a per-part
    aggregate joined back (the classic rewrite Catalyst also applies to
    the subquery form).  The brand dim filters + broadcasts; the per-part
    quantity caps come from ONE aggregate over the semi-joined fact."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = _t(spark, sf, "part").where(
        (F.col("p_brand") == "Brand#4") & (F.col("p_size") < 20)
    ).select(F.col("p_partkey").alias("l_partkey"))
    fact = li.join(F.broadcast(part), "l_partkey")
    caps = fact.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        fact.join(caps, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q116_top_supplier(spark, sf):
    """TPC-H Q15 shape: supplier(s) achieving the maximum half-year
    revenue — aggregate, then a scalar max over the aggregate (empty-
    partition window on the 100-row supplier rollup, not a re-scan),
    equality-selected and enriched from the supplier dim."""
    from pyspark.sql import Window

    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    w = Window.partitionBy()
    top = (
        rev.withColumn("__mx", F.max("total_revenue").over(w))
        .where(F.col("total_revenue") == F.col("__mx"))
        .drop("__mx")
    )
    sup = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return top.join(F.broadcast(sup), "s_suppkey").select(
        "s_suppkey", "s_name", "total_revenue"
    ).orderBy("s_suppkey")


def q117_incremental_minhash(spark, sf):
    """Continuous near-dup detection (dedup.minhash_neardup_against_index):
    a stored LSH band index + fingerprint table built from the existing
    corpus (doc_id % 10 != 0) is probed with the new batch (doc_id % 10
    == 0) — per batch only the new docs shingle/band, and the corpus is
    touched through colliding index rows and candidate fingerprints.  The
    oracle computes ALL near-dup pairs from scratch and keeps those with a
    new endpoint, so the hash-match proves incremental == full recompute."""
    from eodatadown_spark.operators.dedup import (
        minhash_band_index,
        minhash_neardup_against_index,
        shingle_hash_table,
    )

    docs = _t(spark, sf, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    index = minhash_band_index(old)
    fps = shingle_hash_table(old)
    return minhash_neardup_against_index(
        new, index, fps, jaccard_threshold=0.5
    )


def q118_langid_eval(spark, sf):
    """Heuristic-filter evaluation (text.confusion_matrix): the stopword
    language detector judged against the table's GOLD lang labels (binary
    en-vs-other, the detector's contract) — the evaluation harness every
    corpus-gating classifier runs before deployment.  Count-only output,
    exact cross-engine."""
    docs = _t(spark, sf, "documents")
    gold = F.when(F.col("lang") == "en", "en").otherwise("other")
    return X.confusion_matrix(
        docs, gold, X.language_guess(F.col("text"))
    )


def q119_shot_boundaries(spark, sf):
    """Multimodal plumbing: video shot-boundary detection — frame fan-out,
    Arrow-batched per-frame featurize (stub kernel), per-media lag-window
    L2 distance, threshold flag.  The stub feature is the rolling-hash
    fake embed, so the oracle recomputes every distance bit-for-bit."""
    from eodatadown_spark.operators.multimodal import detect_shot_boundaries

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, "video")
        .otherwise("image")
        .alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.length("text"), F.lit(120)) + 1).cast("int").alias("n_frames"),
            F.lit("mp4").alias("format"),
        ).alias("meta"),
    )
    return detect_shot_boundaries(media, every_n=10, dim=4, threshold=0.6)


def q120_bm25(spark, sf):
    """Retrieval scoring (corpus.bm25_scores): BM25 of every document
    against a 4-term query bag — the RAG-curation / topical-sweep
    primitive.  idf·tf terms are summed per doc and rounded to 4."""
    docs = _t(spark, sf, "documents")
    return C.bm25_scores(docs, ["hash", "join", "stream", "vector"])


def q121_cluster_reps(spark, sf):
    """Curation: quality-aware representative election per near-dup
    cluster (dedup.cluster_representatives) — keep the LONGEST member,
    ties to lowest id, instead of neardup_clusters' min-id canonical.
    Multi-member clusters only (singletons elect themselves trivially)."""
    docs = _t(spark, sf, "documents")
    return D.cluster_representatives(docs).where(F.col("n_members") > 1)


def q122_fuzzy_blocking(spark, sf):
    """Entity resolution (dedup.blocked_edit_pairs): customer-name
    candidate pairs within (nation, segment) blocks at Levenshtein ≤ 2 —
    the blocked record-linkage shape (no all-pairs join anywhere)."""
    cust = _t(spark, sf, "customer")
    return D.blocked_edit_pairs(
        cust, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"], max_edit=2
    )


def q123_disjunctive_filter(spark, sf):
    """TPC-H Q19 shape: revenue under an OR of brand/size/quantity
    conjunct blocks — the disjunctive-pushdown stress (Catalyst extracts
    the common l_partkey join key; the broadcast part dim carries the
    brand/size half of each disjunct)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(15, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.where(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q124_nation_share(spark, sf):
    """TPC-H Q11 shape: nations holding > 5% of global account balance —
    the scalar-subquery-threshold aggregate (global total rides a 1-row
    broadcast crossJoin, never a re-scan)."""
    cust = _t(spark, sf, "customer")
    tot = cust.agg(F.sum("c_acctbal").alias("__tot"))
    per = cust.groupBy("c_nationkey").agg(F.sum("c_acctbal").alias("__bal"))
    return (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("__bal") > 0.05 * F.col("__tot"))
        .select("c_nationkey", F.round("__bal", 2).alias("nation_bal"))
    )


def q125_late_order_priority(spark, sf):
    """TPC-H Q4 shape: orders with ≥1 lineitem shipped >60 days after the
    order date, counted per priority — correlated EXISTS as a left-semi
    join whose condition mixes the equi key with a cross-side date
    inequality."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


def q126_transitions(spark, sf):
    """Behavioral model (temporal.transition_counts): first-order Markov
    transition counts + conditional probabilities over each user's
    (ts, event_id)-ordered stream.  p is the raw IEEE quotient —
    identical bits cross-engine, no rounding to diverge."""
    from eodatadown_spark.operators.temporal import transition_counts

    ev = _t(spark, sf, "events")
    return transition_counts(ev, tie_col="event_id")


def q127_time_to_conversion(spark, sf):
    """Conversion latency (temporal.time_to_conversion): each user's first
    signup and first strictly-later purchase with the gap in seconds —
    the funnel-latency companion of q109 (µs-exact epoch math)."""
    from eodatadown_spark.operators.temporal import time_to_conversion

    ev = _t(spark, sf, "events")
    return time_to_conversion(ev, "signup", "purchase")


def q128_ewma(spark, sf):
    """Smoothed daily volume (temporal.ewma_daily): per-type EWMA over
    observed days — the inherently-sequential recurrence as ONE
    applyInPandas over the tiny per-(type, day) count table; the oracle
    replays the same recurrence with a recursive CTE, bit-for-bit."""
    from eodatadown_spark.operators.temporal import ewma_daily

    ev = _t(spark, sf, "events")
    return ewma_daily(ev, alpha=0.25)


def q129_winsorized_stats(spark, sf):
    """Robust-stats prep: global exact p01/p99 of extended price (one
    array-percentile buffer, q13's A7 machinery), broadcast back to clip
    (winsorize) every row, then per-flag raw-vs-winsorized sums — the
    outlier-capping step feature pipelines run before normalization."""
    li = _t(spark, sf, "lineitem")
    pcts = li.agg(
        F.expr("percentile(l_extendedprice, array(0.01, 0.99))").alias("__p")
    ).select(
        F.col("__p")[0].alias("__lo"), F.col("__p")[1].alias("__hi")
    )
    return (
        li.crossJoin(F.broadcast(pcts))
        .withColumn(
            "__w",
            F.greatest(F.col("__lo"), F.least(F.col("__hi"), F.col("l_extendedprice"))),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_raw"),
            F.round(F.sum("__w"), 2).alias("sum_winsorized"),
        )
    )


def q130_pmi(spark, sf):
    """Collocation screen (corpus.pmi_cooccurrence): document-level PMI of
    top-vocabulary token pairs — boilerplate/template-residue detection.
    Pair space capped by the broadcast top-15 vocabulary."""
    docs = _t(spark, sf, "documents")
    return C.pmi_cooccurrence(docs, vocab_k=15, min_pairs=5)


def q131_prefix_jaccard(spark, sf):
    """Scale path for exact set-similarity (dedup.jaccard_prefix_pairs):
    AllPairs/PPJoin prefix filtering under a rarest-first shingle order —
    provably the SAME pairs as the full inverted-index join, with the
    boilerplate-shingle candidate blow-up filtered before it exists.  The
    oracle recomputes all-pairs Jaccard from scratch (k=4, t=0.6), so the
    hash-match proves the filter loses nothing."""
    docs = _t(spark, sf, "documents")
    return D.jaccard_prefix_pairs(docs, "doc_id", "text", k=4, threshold=0.6)


def q152_positional_prefix(spark, sf):
    """Positional-filter stress (round 8): exact n-gram Jaccard at the
    HARSH threshold 0.4 / k=3, where plain prefix filtering admits the
    densest candidate sets (prefix ≈ 60% of each doc) and the
    minimal-shared-token positional bound does the real pruning.  The
    oracle recomputes all-pairs Jaccard naively, so the hash-match proves
    the positional refinement loses nothing at a threshold q131 (t=0.6,
    k=4) never reaches."""
    docs = _t(spark, sf, "documents")
    return D.jaccard_prefix_pairs(docs, "doc_id", "text", k=3, threshold=0.4)


def q132_promo_revenue(spark, sf):
    """TPC-H Q14 shape: per ship-month promo vs total revenue — the
    conditional-aggregation (CASE-inside-SUM) shape, emitted as two sums
    (cross-engine ratio rounding is the q-family's documented trap)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))), 2
            ).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q133_asof_forward(spark, sf):
    """Temporal: FORWARD as-of (each signup ← the user's earliest purchase
    at-or-after it, with its value) — the direction="forward" contract of
    the union+window as-of operator (pandas-merge_asof-verified in tests);
    oracle = per-signup rank-1 row over later purchases."""
    from eodatadown_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        signups, purchases, ["user_id"],
        right_value_cols=["value"], direction="forward",
    ).select(
        "event_id", "user_id", "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.round("value_right", 2).alias("purchase_value"),
    )


def q134_mmr_rerank(spark, sf):
    """Diversified retrieval (similarity.mmr_rerank): greedy
    Maximal-Marginal-Relevance over an 8-candidate shortlist, k=3, λ=0.7.
    The oracle unrolls the same greedy steps in SQL (double-cast cosines,
    round-6 argmax keys, id tie-breaks) — matching ranks prove the
    distributed loop equals the textbook sequential algorithm."""
    emb = _t(spark, sf, "embeddings")
    return S.mmr_rerank(
        emb, emb.where(F.col("vec_id") < 4), k=3, shortlist=8, lam=0.7
    )


def q135_volume_trend(spark, sf):
    """Monitoring (temporal.daily_trend): per-type OLS slope of daily
    event volume — drift detection via closed-form Σ sums; the division
    is the only float op, bit-identical cross-engine, unrounded."""
    from eodatadown_spark.operators.temporal import daily_trend

    ev = _t(spark, sf, "events")
    return daily_trend(ev)


def q136_robust_anomaly(spark, sf):
    """Monitoring (temporal.robust_anomaly_scores): median/MAD daily
    z-scores — the outlier-resistant twin of q112 (a spike can't hide
    itself by inflating its own baseline)."""
    from eodatadown_spark.operators.temporal import robust_anomaly_scores

    ev = _t(spark, sf, "events")
    return robust_anomaly_scores(ev)


def q137_gapfilled_counts(spark, sf):
    """Date spine (temporal.fill_daily_gaps): dense per-type daily series
    with zero-filled missing days — 'no events' as a first-class signal.
    Summed per type so the row volume stays bounded; n_zero_days is the
    gap count the observed-days series can't see."""
    from eodatadown_spark.operators.temporal import fill_daily_gaps

    ev = _t(spark, sf, "events")
    dense = fill_daily_gaps(ev)
    return dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0)).alias("n_zero_days"),
        F.sum("n").alias("total_events"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


def q138_custdist(spark, sf):
    """TPC-H Q13 shape: distribution of customers by (filtered) order
    count INCLUDING zero-order customers — the left-join + two-level
    aggregation that inner-join rollups silently get wrong."""
    cust = _t(spark, sf, "customer").select("c_custkey")
    orders = _t(spark, sf, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q139_phash_neardup(spark, sf, radius=2):
    """Multimodal dedup (multimodal.phash_neardup_pairs): REAL DCT
    perceptual-hash near-dup pairs — each 32×32 grayscale raster maps to
    a 63-bit hash via the integer-scaled orthonormal DCT-II (numpy int64
    matmul, 8×8 low-frequency block, median threshold), banded into
    radius+1 bit-slices, equi-joined, XOR+bit_count verified.  The oracle
    recomputes the SAME hash relationally in DuckDB (inlined integer
    cosine table, two relational matmul passes, window median) and then
    every pair's hamming naively — the hash-match proves both the DCT
    arithmetic cross-engine-exact and the pigeonhole banding lossless.
    Rasters: text rpad-truncated to 1024 bytes; every third doc re-ups
    identically under media_id+1000 (MUST pair at hamming 0) and every
    fifth re-ups with one character flipped (media_id+2000, 1-pixel
    noise) pairing at small hamming."""
    from eodatadown_spark.operators.multimodal import phash_neardup_pairs

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    rp = F.rpad(F.substring("text", 1, 1024), 1024, " ")
    media = docs.select(
        F.col("doc_id").alias("media_id"), rp.cast("binary").alias("payload")
    )
    reups = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000).alias("media_id"),
        rp.cast("binary").alias("payload"),
    )
    noisy = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000).alias("media_id"),
        F.concat(
            F.substring(rp, 1, 16), F.lit("~"), F.substring(rp, 18, 1007)
        ).cast("binary").alias("payload"),
    )
    return phash_neardup_pairs(
        media.unionByName(reups).unionByName(noisy), radius=radius
    )


def q140_asof_nearest(spark, sf):
    """Temporal: NEAREST as-of (each signup ← the user's closest purchase
    in EITHER direction, equal distance resolving backward — the pandas
    merge_asof contract, differential-tested in tests); the oracle picks
    per row between the max-earlier and min-later candidate."""
    from eodatadown_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        signups, purchases, ["user_id"],
        right_value_cols=["value"], direction="nearest",
    ).select(
        "event_id", "user_id", "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.round("value_right", 2).alias("purchase_value"),
    )


def q141_wow_revenue(spark, sf):
    """Period-over-period: weekly revenue with the prior week's value,
    absolute delta, and pct change (raw IEEE quotient, unrounded) — the
    lag-over-aggregated-series monitoring shape."""
    orders = _t(spark, sf, "orders")
    weekly = orders.groupBy(
        F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "revenue",
        prev.alias("prev_revenue"),
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        ((F.col("revenue") - prev) / prev).alias("pct_change"),
    )


def q142_rfm_segments(spark, sf):
    """RFM segmentation: per-customer recency (days since last order),
    frequency, monetary buckets via ntile(4) on deterministic total
    orders, rolled up per segment — the classic customer-scoring shape."""
    orders = _t(spark, sf, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("__mx"))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("__freq"),
            F.sum("o_totalprice").alias("__spend"),
        )
        .crossJoin(F.broadcast(mx))
        .withColumn("__rec", F.datediff(F.col("__mx"), F.col("__last")))
    )
    # deterministic ntile orders: every key chain ends on o_custkey
    r = F.ntile(4).over(Window.orderBy(F.col("__rec").asc(), F.col("o_custkey").asc()))
    fq = F.ntile(4).over(Window.orderBy(F.col("__freq").desc(), F.col("o_custkey").asc()))
    m = F.ntile(4).over(Window.orderBy(F.col("__spend").desc(), F.col("o_custkey").asc()))
    seg = per.select(
        "o_custkey",
        r.alias("r_bucket"),
        fq.alias("f_bucket"),
        m.alias("m_bucket"),
        F.col("__spend").alias("__spend"),
    )
    return seg.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("__spend"), 2).alias("segment_spend"),
    )


def q143_ordered_string_agg(spark, sf):
    """Ordered string aggregation: per nation the top-3 customers by
    balance, names concatenated in rank order — the LISTAGG/string_agg
    shape via sort_array(collect_list(struct)) → slice → array_join
    (deterministic: the struct key ends on c_custkey)."""
    cust = _t(spark, sf, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    (-F.col("c_acctbal")).alias("negbal"),
                                    F.col("c_custkey").alias("k"),
                                    F.col("c_name").alias("name"),
                                )
                            )
                        ),
                        1,
                        3,
                    ),
                    lambda s: s["name"],
                ),
                ",",
            ).alias("top3_names"),
        )
    )


def q144_grouped_corr(spark, sf):
    """Statistics agg: per-returnflag Pearson correlation of quantity vs
    discounted price plus covariance (F.corr/covar_samp ↔ DuckDB
    corr/covar_samp; rounded to 4 — the sums-of-products differ only in
    association order).  ``+ 0.0`` after the round collapses IEEE signed
    zero: a ~1e-12 correlation rounds to -0.0 on one engine and +0.0 on
    the other (observed at sf0.1), which string-compares unequal."""
    li = _t(spark, sf, "lineitem")
    price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.corr(F.col("l_quantity"), price), 4) + F.lit(0.0)).alias(
            "corr_qty_price"
        ),
        (F.round(F.covar_samp(F.col("l_quantity"), price), 4) + F.lit(0.0)).alias(
            "covar_qty_price"
        ),
    )


def q145_sketch_rollup(spark, sf):
    """Mergeable distinct-count rollup soundness gate
    (merge.build/merge_distinct_sketches): per-month distinct-customer HLL
    sketches built from two disjoint halves and MERGED must estimate what
    a full one-pass build estimates, and land within 10% of the exact
    distinct count.  Violating months surface; empty iff sound.

    Merged-vs-full tolerance is 4%, not exact equality: in DataSketches
    coupon (exact) mode union IS bit-identical to a one-pass build (the
    unit test pins that), but once sketches go dense the union's internal
    HLL_8 gadget re-estimates through a different register path, so the
    two estimates differ within sketch error (first observed at sf0.1,
    ~1800 distincts/month: 1793 vs 1813 ≈ 1.1%; lgK=12 → ~1.6% RSE)."""
    from eodatadown_spark.operators.merge import (
        build_distinct_sketches,
        merge_distinct_sketches,
    )

    orders = _t(spark, sf, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    old = build_distinct_sketches(
        orders.where(F.col("o_orderkey") % 2 == 0), ["month"], "o_custkey"
    )
    delta = build_distinct_sketches(
        orders.where(F.col("o_orderkey") % 2 == 1), ["month"], "o_custkey"
    )
    merged = merge_distinct_sketches(old, delta, ["month"]).select(
        "month", F.col("approx_distinct").alias("inc_est")
    )
    full = build_distinct_sketches(orders, ["month"], "o_custkey").select(
        "month", F.col("approx_distinct").alias("full_est")
    )
    exact = orders.groupBy("month").agg(
        F.count_distinct("o_custkey").alias("exact")
    )
    j = merged.join(full, "month").join(exact, "month")
    bad = (
        F.abs(F.col("inc_est") - F.col("full_est")) / F.col("full_est") > 0.04
    ) | (F.abs(F.col("inc_est") - F.col("exact")) / F.col("exact") > 0.10)
    return j.where(bad).select("month", "inc_est", "full_est", "exact")


def q147_quantile_sketch_rollup(spark, sf):
    """Mergeable QUANTILE-sketch rollup gate (merge.build/
    merge_quantile_sketches — KLL): per-month sketches of o_totalprice
    built from two disjoint halves and MERGED; the merged sketch's median
    estimate must sit within the KLL rank guarantee of the month's exact
    data (|exact rank of estimate − 0.5| ≤ 0.04; measured max 0.0075 at
    both SFs, k=200 99%-conf bound 0.0165).  Every sound month emits
    (month, exact_median) hash-checked against the oracle's exact
    medians — an unsound month DROPS its row and fails rows_match, so
    the sketch gate rides the strong value oracle."""
    from eodatadown_spark.operators.merge import (
        build_quantile_sketches,
        merge_quantile_sketches,
        sketch_quantile,
    )

    orders = _t(spark, sf, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    old = build_quantile_sketches(
        orders.where(F.col("o_orderkey") % 2 == 0), ["month"], "o_totalprice"
    )
    delta = build_quantile_sketches(
        orders.where(F.col("o_orderkey") % 2 == 1), ["month"], "o_totalprice"
    )
    merged = merge_quantile_sketches(old, delta, ["month"])
    est = merged.select("month", sketch_quantile("qsketch", 0.5).alias("est_med"))
    per = (
        orders.join(est, "month")
        .groupBy("month")
        .agg(
            (
                F.sum((F.col("o_totalprice") <= F.col("est_med")).cast("int"))
                / F.count(F.lit(1))
            ).alias("est_rank"),
            F.count(F.lit(1)).alias("n"),
            # round to 3, not 2: the interpolated median of 2-decimal
            # prices is an exact 3-decimal value, so both engines recover
            # it exactly — rounding to 2 would tie-break x.xx5 midpoints
            # differently (HALF_UP vs half-even across engines)
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 3).alias(
                "exact_median"
            ),
        )
    )
    # + 1/n: tiny months return a discrete element whose rank can sit a
    # full 1/n from 0.5 with the sketch in exact mode and zero error
    return per.where(
        F.abs(F.col("est_rank") - 0.5) <= 0.04 + 1.0 / F.col("n")
    ).select("month", "exact_median")


def q148_theta_setops(spark, sf):
    """Theta-sketch SET-ALGEBRA gate (merge.build_theta_sketches): distinct
    customers per order-year as stored theta sketches; the 1995∩1996,
    1995∖1996 and 1995∪1996 DISTINCT counts estimated purely from sketch
    BYTES must land within sketch tolerance of the exact set operations
    (measured rel-err at sf0.1: 0.008 / 0.049 / 0.007; bounds 0.05 / 0.15
    / 0.05 — intersection and difference are what HLL cannot answer).
    Sound labels emit (label, exact_count) hash-checked against the
    oracle's INTERSECT/EXCEPT/UNION counts; an unsound label drops its
    row and fails rows_match."""
    from eodatadown_spark.operators.merge import build_theta_sketches

    orders = _t(spark, sf, "orders")
    yr = F.year("o_orderdate")
    sk = build_theta_sketches(
        orders.where(yr.isin(1995, 1996)).withColumn("yy", yr),
        ["yy"], "o_custkey",
    )
    a = sk.where(F.col("yy") == 1995).select(F.col("tsketch").alias("sa"))
    b = sk.where(F.col("yy") == 1996).select(F.col("tsketch").alias("sb"))
    ests = a.crossJoin(b).select(
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias("inter"),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb")).alias("diff"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("uni"),
    )
    c95 = orders.where(yr == 1995).select("o_custkey").distinct()
    c96 = orders.where(yr == 1996).select("o_custkey").distinct()
    exact = ests.crossJoin(
        spark.createDataFrame(
            [(
                c95.intersect(c96).count(),
                c95.exceptAll(c96).count(),
                c95.union(c96).distinct().count(),
            )],
            "e_inter long, e_diff long, e_uni long",
        )
    )
    def sound(label: str, est_col: str, exact_col: str, tol: float):
        return exact.where(
            F.abs(F.col(est_col) - F.col(exact_col))
            / F.greatest(F.col(exact_col), F.lit(1))
            <= tol
        ).select(
            F.lit(label).alias("label"), F.col(exact_col).alias("exact_count")
        )

    return (
        sound("difference", "diff", "e_diff", 0.15)
        .unionByName(sound("intersection", "inter", "e_inter", 0.05))
        .unionByName(sound("union", "uni", "e_uni", 0.05))
    )


def q149_incremental_phash(spark, sf, radius=2):
    """Incremental media dedup (multimodal.phash_neardup_against_index):
    the corpus's banded pHash index is STORED and a new batch — q139's
    exact re-ups (+1000) and one-pixel-noisy re-ups (+2000) — probes it,
    hashing only the batch.  Output = pairs with ≥1 new endpoint; the
    oracle recomputes the DCT relationally (q139's CTE) and filters the
    naive all-pairs to new endpoints, so the hash-match proves the stored
    index probe equals a full re-run."""
    from eodatadown_spark.operators.multimodal import (
        phash_index,
        phash_neardup_against_index,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    rp = F.rpad(F.substring("text", 1, 1024), 1024, " ")
    corpus = docs.select(
        F.col("doc_id").alias("media_id"), rp.cast("binary").alias("payload")
    )
    reups = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000).alias("media_id"),
        rp.cast("binary").alias("payload"),
    )
    noisy = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000).alias("media_id"),
        F.concat(
            F.substring(rp, 1, 16), F.lit("~"), F.substring(rp, 18, 1007)
        ).cast("binary").alias("payload"),
    )
    index = phash_index(corpus, n_bands=radius + 1)
    return phash_neardup_against_index(
        reups.unionByName(noisy), index, radius=radius, n_bands=radius + 1
    )


def q150_incremental_clusters(spark, sf):
    """Incremental cluster maintenance (dedup.update_clusters): stored
    near-dup cluster assignments are updated with a new batch's
    pairs-with-a-new-endpoint, re-resolving ONLY touched components (old
    connectivity carried by star edges, untouched clusters copied through
    frozen).  Labels are min-ids, so the incremental result must EXACTLY
    equal a full recompute over the whole old∪new corpus — which is what
    the oracle does with a recursive CTE (q50's components over the union
    corpus).  New batch = every seventh doc re-uploaded verbatim under
    doc_id+100000; output = q50's multi-member-cluster shape."""
    docs = _t(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    # Build phase (production: stored catalog tables, amortized over every
    # batch): the prefix index — prefix rows + the order-defining frozen
    # frequency table + fingerprints — pinned like the catalog tables they
    # model; the baseline pairs come straight off the stored prefix rows
    # (jaccard_prefix_self_pairs == jaccard_prefix_pairs by construction,
    # no re-shingle), and the baseline assignment is pinned because
    # update_clusters and the final size join read it repeatedly.
    # fps comes back already pinned (jaccard_prefix_index materializes the
    # shingle base); freq pins BEFORE prefix so the prefix pin's job joins
    # the pinned freq instead of re-aggregating it (r13: one fewer
    # materialization job + one fewer embedded aggregate, same relations)
    prefix, freq, fps = D.jaccard_prefix_index(docs, threshold=0.5)
    freq = freq.localCheckpoint()
    prefix = D._prefix_rows(fps, freq, threshold=0.5).localCheckpoint()
    old_pairs = D.jaccard_prefix_self_pairs(prefix, fps, threshold=0.5)
    # Probe phase — the per-batch cost: batch-only shingling ranked under
    # the index's frozen order, batch prefix vs STORED prefix equi-join,
    # fingerprint fetches for candidates only, touched-component fold.
    # Still hash-equal to the oracle's full recompute: any consistent
    # prefix order is lossless and the verify is exact.
    #
    # The baseline-assignment chain (old_pairs → strategy probe →
    # union-find → pin) and the batch-probe chain (batch shingle/prefix
    # pins + candidate join — they read only the STORED tables pinned
    # above, never old_assign) are INDEPENDENT, so they run from a
    # 2-thread pool (guide §2.6, VERDICT r13 item 3): each chain is a
    # string of sequential actions whose barriers leave executors idle,
    # and the other chain's jobs back-fill those gaps.  Rows are
    # unchanged — only the job schedule overlaps.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_assign = pool.submit(
            lambda: D.neardup_clusters(
                docs, pairs=old_pairs, threshold=0.5
            ).localCheckpoint()
        )
        f_pairs = pool.submit(
            lambda: D.jaccard_prefix_against_index(
                new, prefix, freq, fps, threshold=0.5
            )
        )
        old_assign = f_assign.result()
        new_pairs = f_pairs.result()
    updated = D.update_clusters(
        old_assign, new_pairs, new_docs=new.select("doc_id")
    )
    # cluster sizes via a window over the SAME key (guide §2.4: a window
    # partitioned like the aggregation shares one shuffle) — replaces the
    # r12 localCheckpoint + groupBy + self-join tail (one pin job + two
    # plan passes); rows identical, oracle hash-checked.  Size-skew note
    # (VERDICT r13 item 2): a mega-cluster's member rows buffer in one
    # window partition where the old groupBy partial-agg didn't — but
    # WindowExec buffers ROWS (ExternalAppendOnlyUnsafeRowArray), which
    # spills to disk, unlike an in-memory aggregate SET; acceptable at
    # scale, and near-dup components are small/dense by construction.
    return (
        updated.withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("n_members") > 1)
        .select("doc_id", "cluster_id", "is_canonical", "n_members")
    )


def q151_sq8_topk(spark, sf):
    """Similarity: SQ8 scalar-quantized top-3 (similarity.sq8_topk) — int8
    codes (1 byte/dim) scanned for a dequantized-cosine shortlist, exact
    rerank on the raw vectors.  The oracle reproduces the ENTIRE path
    relationally in DuckDB: per-dim min/max training, floor(x+0.5) encode
    (no banker's rounding — the cross-engine trap), dequantize, shortlist
    rank, exact rerank.  Integer codes are bit-exact cross-engine; ranks
    only in the output (q23 float convention)."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.sq8_topk(emb, qs, k=3, shortlist=25).select(
        "query_id", "neighbor_id", "rank"
    )


def q155_sq8_stored_probe(spark, sf):
    """Similarity (round 9): SQ8 top-k against a STORED code table
    (similarity.sq8_build_codes -> sq8_topk_against_codes) — the
    1-byte/dim codes are scanned for the dequantized shortlist and only
    the shortlist rows fetch their raw vectors (narrow broadcast
    equi-join), the layout q151's fused scan simulates.  Stored probe
    must equal from-scratch SQ8 exactly (same deterministic encode), so
    the oracle is q151's, verbatim — a hash-match proves it."""
    emb = _t(spark, sf, "embeddings")
    scalars = S.sq8_train(emb)
    codes = S.sq8_build_codes(emb, scalars)
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.sq8_topk_against_codes(
        codes, emb, qs, scalars, k=3, shortlist=25
    ).select("query_id", "neighbor_id", "rank")


def q146_lsh_multiprobe(spark, sf):
    """Similarity: MULTIPROBE LSH top-k (similarity.lsh_bucket_topk
    n_probe=2) — each query also probes the two lowest-|margin| bit-flip
    buckets, query side only.  The oracle recomputes the probe set
    relationally (inlined plane literals, margin sort, xor bit flips) and
    ranks candidates by exact cosine — proving the Catalyst probe
    generation bit-equivalent.  cos_sim projected out (q23/q36 float
    convention)."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_bucket_topk(emb, qs, k=3, n_planes=6, n_probe=2).select(
        "query_id", "neighbor_id", "rank"
    )


def q36_lsh_topk(spark, sf):
    """Similarity: bucketed approximate top-k, oracle-checked with inlined
    hyperplane literals.  cos_sim is projected out (as in q23): rank order is
    float-stable but last-ulp value differences between Spark's fold and
    DuckDB's list_cosine_similarity are not worth chasing."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_bucket_topk(emb, qs, k=3, n_planes=6).select(
        "query_id", "neighbor_id", "rank"
    )


def q37_cube_rollup(spark, sf):
    """CUBE grouping-sets aggregation (superset of the reference's rollups)."""
    li = _t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


def q38_having(spark, sf):
    """Group-filter (HAVING): customers with > 1M total spend."""
    orders = _t(spark, sf, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .where(F.col("total_spend") > 1000000)
    )


def q39_top_unshipped(spark, sf):
    """TPC-H Q3 shape: top-10 unshipped orders by revenue (join + agg +
    deterministic top-k)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cut = "1997-01-01"
    joined = li.where(F.col("l_shipdate") > F.lit(cut)).join(
        orders.where(F.col("o_orderdate") < F.lit(cut)),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    rev = joined.groupBy("o_orderkey", F.to_date("o_orderdate").alias("o_orderdate")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)


def q40_multimodal_features(spark, sf):
    """Multimodal plumbing: binary payload column → Arrow-batched decode/
    featurize via mapInPandas.  The stub decoder is a deterministic byte
    transform of the utf-8 payload (first byte / 255), so a DuckDB oracle
    (strlen + ascii arithmetic) checks the full pipeline output."""
    from eodatadown_spark.operators.multimodal import extract_features

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 50)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(1).alias("width"), F.lit(1).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("txt").alias("format"),
        ).alias("meta"),
    )
    feats = extract_features(media)
    # cast float32 feature → double BEFORE rounding: the oracle computes in
    # double, and float32 noise (~1e-8) survives the checker's 9-digit round
    return feats.select(
        "media_id",
        "payload_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
    )


def q41_bpe_token_count(spark, sf):
    """Text-analysis: BPE-ish regex token counting (RE2-safe pattern)."""
    docs = _t(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.bpe_like_token_count(F.col("text"))).alias("total_bpe_tokens"),
        F.round(F.avg(X.bpe_like_token_count(F.col("text"))), 4).alias("avg_bpe_tokens"),
    )


def q42_rolling_fingerprint(spark, sf):
    """Text-analysis: polynomial rolling-hash fingerprint (incrementally
    updatable, exact cross-engine arithmetic)."""
    docs = _t(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(X.rolling_fingerprint(F.col("text"))).alias("n_unique_fp"),
        F.max(X.rolling_fingerprint(F.col("text"))).alias("max_fp"),
    )


def q43_simhash_soundness(spark, sf):
    """Soundness gate for q25: every pair SimHash returns (hamming <= 8) must
    clear a loose exact 2-gram Jaccard bar — the anti-join is empty by
    construction if SimHash is sound, and the oracle asserts exactly that.
    (Recall is covered by the planted-dup pytest; this upgrades the driver's
    q25 check from rows-only to a per-row verdict on soundness.)"""
    docs = _t(spark, sf, "documents")
    sim_pairs = D.simhash_neardup_pairs(docs, max_hamming=8).select(
        "id_a", "id_b"
    ).localCheckpoint()
    # verify the RETURNED pairs directly (O(|sim_pairs|)) instead of
    # materializing the full exact pair set at the loose t=0.3 bar, where
    # ANY candidate filter admits nearly all-pairs on this corpus — the
    # gate's semantics are identical: a returned pair either clears the
    # exact 2-gram Jaccard bar or surfaces as a violation (62-bit hashed
    # sets ≡ string sets, the q24 precedent)
    fps = D.shingle_hash_table(docs, k=2)
    cleared = D._exact_jaccard_filter(sim_pairs, fps, 0.3).select(
        "id_a", "id_b"
    )
    return sim_pairs.join(cleared, ["id_a", "id_b"], "left_anti")


def q44_tfidf_keywords(spark, sf):
    """Corpus op: top-3 TF-IDF keywords per document (explode → tf/df aggs →
    token-keyed join; rounded score drives the ranking in both engines)."""
    from eodatadown_spark.operators.corpus import tfidf_topk_keywords

    docs = _t(spark, sf, "documents")
    return tfidf_topk_keywords(docs.where(F.col("doc_id") < 20), k=3)


def q45_hash_split(spark, sf):
    """Corpus op: deterministic train/val/test hash split — per-split doc and
    token counts (the split is a pure function of doc_id, reproducible in any
    engine)."""
    from eodatadown_spark.operators.corpus import assign_split

    docs = _t(spark, sf, "documents")
    return (
        assign_split(docs)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(X.token_count(F.col("text"))).alias("n_tokens"),
        )
    )


def q46_repetition_ratio(spark, sf):
    """Text-analysis: distinct word-2-gram fraction (Gopher-style repetition
    filter signal), bucketed distribution per source."""
    docs = _t(spark, sf, "documents")
    r = X.repetition_ratio(F.col("text"), n=2)
    return (
        docs.select("source", F.floor(r * 10).cast("long").alias("rep_bucket"))
        .groupBy("source", "rep_bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def q47_pii_redaction(spark, sf):
    """Text-analysis: PII redaction pass — per-doc email/phone match counts +
    md5 of the redacted text (full-string oracle check of the rewrite)."""
    docs = _t(spark, sf, "documents")
    return X.redact_pii(docs.where(F.col("doc_id") < 50))


def q48_sequence_packing(spark, sf):
    """Corpus op: concat-and-chunk sequence packing — 512-token bins per
    language, per-bin doc and token tallies."""
    from eodatadown_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf, "documents")
    packed = pack_sequences(docs, max_tokens=512, group_col="lang")
    return packed.groupBy("group", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens")
    )


def q49_ivf_topk(spark, sf):
    """Similarity: IVF approximate top-k — inverted lists under a
    deterministic seed codebook, queries probe 2 of 8 cells.  cos_sim
    projected out (as q23/q36): rank is the contract."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, qs, k=3, n_centroids=8, n_probe=2).select(
        "query_id", "neighbor_id", "rank"
    )


def q153_ivf_stored_probe(spark, sf):
    """Similarity (round 8): IVF top-k against STORED inverted lists
    (similarity.ivf_build_lists -> ivf_topk_against_index) — the
    persistent-index probe path the annindex CLI runs, built here inline
    under the deterministic seed codebook so the oracle can recompute the
    WHOLE thing relationally.  Must equal q49 exactly: filing vectors
    under their nearest centroid and probing the stored lists is the same
    math as corpus-side IVF."""
    emb = _t(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 8)
    lists = S.ivf_build_lists(emb, cents)
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk_against_index(lists, cents, qs, k=3, n_probe=2).select(
        "query_id", "neighbor_id", "rank"
    )


def q154_incremental_simhash(spark, sf):
    """Continuous SimHash dedup (dedup.simhash_neardup_against_index): a
    stored band index built from the existing corpus (doc_id % 10 != 0)
    is probed with the new batch (doc_id % 10 == 0) — only the batch
    sketches; the corpus is touched through colliding band rows, and
    verification is one XOR+popcount on the sketches the rows carry (no
    fingerprint table, unlike the MinHash path).  band_bits=6 gives 10
    bands > max_hamming=8, so by pigeonhole the output EQUALS the exact
    all-pairs hamming result filtered to new-endpoint pairs — which is
    what the oracle computes (q25's full md5 sketch recompute over the
    whole corpus + the endpoint filter)."""
    docs = _t(spark, sf, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    index = D.simhash_band_index(old, band_bits=6)
    return D.simhash_neardup_against_index(
        new, index, max_hamming=8, band_bits=6
    )


def q156_clusters_via_stored_index(spark, sf):
    """The PRODUCTION incremental-clustering route, oracle-checked end to
    end: the composition ``apply_neardup_batch`` runs per batch — batch
    pairs derived by probing the STORED MinHash band index + fingerprints
    (q117's collision-bounded path: only the batch shingles, the corpus is
    touched through colliding rows — the scale fix for q150's
    union-corpus pair pass), folded into the stored assignments with
    ``update_clusters`` (touched components only).  old = doc_id%10!=0,
    batch = doc_id%10==0, so old∪new is the whole table and the oracle is
    q50's from-scratch recursive-CTE clustering verbatim — the hash-match
    proves stored-index probe → incremental fold == full recompute."""
    from eodatadown_spark.operators.dedup import (
        minhash_band_index,
        minhash_neardup_against_index,
        minhash_neardup_pairs,
        shingle_hash_table,
    )

    docs = _t(spark, sf, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)

    # The baseline-assignment chain and the stored-index probe chain are
    # independent (both derive from `old`/`new` scans, neither reads the
    # other), so they overlap from a 2-thread pool (guide §2.6, VERDICT
    # r13 item 3) — each chain's action barriers leave executors idle
    # and the other chain's jobs back-fill them.  Rows unchanged.
    def _baseline():
        return D.neardup_clusters(
            old,
            pairs=minhash_neardup_pairs(old, jaccard_threshold=0.5).select(
                "id_a", "id_b"
            ),
        ).localCheckpoint()

    def _probe_pairs():
        index = minhash_band_index(old)
        fps = shingle_hash_table(old)
        return minhash_neardup_against_index(
            new, index, fps, jaccard_threshold=0.5
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_assign = pool.submit(_baseline)
        f_pairs = pool.submit(_probe_pairs)
        old_assign = f_assign.result()
        new_pairs = f_pairs.result()
    updated = D.update_clusters(
        old_assign,
        new_pairs.select("id_a", "id_b"),
        new_docs=new.select("doc_id"),
    )
    # window-count tail (see q150): one shuffle, no pin, no self-join
    return (
        updated.withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("n_members") > 1)
        .select("doc_id", "cluster_id", "is_canonical", "n_members")
    )


# Fixed literal merge list for q157 (training itself is covered by q81's
# pair-count oracle + the train_bpe pytest reference): ordered, with later
# merges consuming earlier outputs ('th'+'e'), so the oracle replays the
# full chained application.
_Q157_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("o", "r"), ("r", "e"), ("e", "r"),
]


def q157_bpe_encode(spark, sf):
    """Tokenizer application (corpus.bpe_encode_documents): documents
    encoded to subword token ids under an ordered BPE merge list —
    (doc_id, pos, token, token_id), ids = lexicographic dense rank of the
    emergent subword vocabulary.  The oracle replays the merge chain as a
    left-to-right symbol-list fold (list_reduce) — provably equivalent to
    the engine's boundary-anchored regex pass (a merged symbol never
    re-matches as the LEFT of its own rule, and scanning never revisits
    replaced text in either form) — then reassigns ids and positions
    relationally, so the hash-match pins tokenization, id assignment, and
    position order cross-engine."""
    from eodatadown_spark.operators.corpus import bpe_encode_documents

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 40)
    return bpe_encode_documents(docs, _Q157_MERGES)


def q158_bbox_only_page(spark, sf):
    """F7+W2 through the bbox-ONLY facade query (abstract surface
    eodatadownsensor.py:410 — declared on every reference sensor, concrete
    impls all raise, so the engine binds it to the strict-overlap predicate
    of the date+bbox composite, eodatadownlandsatgoogsensor.py:2046-2103).
    Scene frame derived deterministically from orders (q51's synthesis);
    paginated with start_rec>0 to exercise the row_number page path."""
    orders = _t(spark, sf, "orders")
    scenes = orders.select(
        F.col("o_orderkey").alias("pid"),
        F.col("o_orderdate").alias("date_acquired"),
        (F.pmod(F.col("o_orderkey"), F.lit(97)) == 0).alias("invalid"),
        (F.pmod(F.col("o_custkey"), F.lit(360)) - 180).cast("double").alias("west_lon"),
        (F.pmod(F.col("o_custkey"), F.lit(360)) - 178).cast("double").alias("east_lon"),
        (F.pmod(F.col("o_orderkey"), F.lit(170)) - 85).cast("double").alias("south_lat"),
        (F.pmod(F.col("o_orderkey"), F.lit(170)) - 83).cast("double").alias("north_lat"),
    )
    page = Q.query_scn_records_bbox(
        scenes, lat_north=30.0, lat_south=-30.0, lon_east=20.0,
        lon_west=-20.0, start_rec=5, n_recs=20,
    )
    return page.select(
        "pid",
        F.to_date("date_acquired").alias("date_acquired"),
        "west_lon", "east_lon", "south_lat", "north_lat",
    )


def q159_bpe_train_encode(spark, sf):
    """BPE roundtrip: corpus.train_bpe's OWN learned merges (6 greedy
    iterations over the distinct-word table, ties lexicographic) applied
    end-to-end by corpus.bpe_encode_documents — closes the loop between
    q81 (merge-candidate counts) and q157 (fixed-list application).  The
    oracle replays BOTH phases: training as 6 unrolled argmax+rewrite CTE
    pairs, application as the list_reduce fold — so a drift in either the
    greedy choice or the rewrite semantics breaks the hash."""
    from eodatadown_spark.operators.corpus import (
        bpe_encode_documents,
        train_bpe,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 30)
    merges = train_bpe(docs, n_merges=6)
    return bpe_encode_documents(docs, merges)


def q162_ngram_novelty(spark, sf):
    """Corpus-relative n-gram novelty (dedup.ngram_novelty): per-doc
    fraction of distinct 3-shingles with corpus df=1 — the boilerplate-vs-
    original quality signal.  Oracle replays the shingle sets (q24's CTE)
    and the df rollup relationally."""
    docs = _t(spark, sf, "documents")
    return D.ngram_novelty(docs).where(F.col("doc_id") < 100)


def q161_dedup_rate_by_source(spark, sf):
    """Per-source dedup survival report: after near-dup clustering, what
    fraction of each source's documents survives keep-canonical —
    (source, n_docs, n_canonical, dedup_rate).  The number a curation
    pipeline tracks per ingest source over time.  Oracle = q50's
    recursive-CTE components (singletons included via the seed rows) +
    the same source rollup."""
    docs = _t(spark, sf, "documents")
    assign = D.neardup_clusters(docs, threshold=0.5)
    return (
        assign.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_canonical").cast("long")).alias("n_canonical"),
            F.round(
                1.0
                - F.sum(F.col("is_canonical").cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dedup_rate"),
        )
    )


def q160_source_dedup_pressure(spark, sf):
    """Cross-source dedup-pressure report (dedup.source_pair_pressure over
    the MinHash pair set): near-dup pairs attributed to unordered source
    pairs — the within-source vs cross-source duplication matrix a corpus
    curator reads before downweighting a source.  Oracle recomputes the
    exact string-level Jaccard pairs (q24's relational replay, lossless at
    t=0.5) and the same least/greatest source attribution."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_neardup_pairs(docs, jaccard_threshold=0.5)
    return D.source_pair_pressure(pairs, docs)


def q163_winnow_fingerprints(spark, sf):
    """Winnowing document fingerprints (text.winnow_fingerprints —
    Schleimer/Wilkerson/Aiken SIGMOD 2003, the MOSS scheme): char-5-gram
    md5-prefix hashes, window-of-4 minimum with the rightmost-tie rule,
    per-doc distinct (fp_hash, pos).  Position-robust LOCAL fingerprinting
    — q22's whole-doc rolling hash changes entirely on one edit; here the
    guarantee is any ≥8-char normalized substring match shares a selected
    fingerprint.  Oracle replays grams as an unnest(range) scan, window
    minima as a ROWS frame, and the rightmost tie as max(i) over the
    h = minh join."""
    from eodatadown_spark.operators.text import winnow_fingerprints

    docs = _t(spark, sf, "documents").where(F.col("doc_id") % 5 == 0)
    return winnow_fingerprints(docs, k=5, window=4)


def q164_winnow_similarity(spark, sf):
    """Document-pair similarity by shared winnowing fingerprints
    (text.winnow_similarity — the MOSS report): k=15/window=5 fingerprints
    (only ≥19-char normalized substring matches can collide), boilerplate
    hashes with document frequency > 20 dropped (the hot-key guard: pair
    volume is Σ df² over surviving hashes, never all-pairs), pairs sharing
    ≥ 2 distinct hashes.  Oracle = the same winnow CTE + QUALIFY df cap +
    self-join; full (id_a, id_b, n_shared) value check."""
    from eodatadown_spark.operators.text import winnow_similarity

    docs = _t(spark, sf, "documents")
    return winnow_similarity(
        docs, k=15, window=5, min_shared=2, max_df=20
    )


def q165_importance_weights(spark, sf):
    """DSIR-style data-selection importance weights
    (corpus.importance_weights — Xie et al. 2023, reduced to unigram LMs
    for exact SQL reproducibility): per-doc log ratio of the add-1-smoothed
    target LM (lang='en' docs) over the whole-corpus source LM under the
    shared corpus vocabulary.  The score a pretraining pipeline feeds to
    weighted resampling toward a trusted domain.  Oracle replays the tf
    compression, both smoothed LMs, and the tf-weighted log-ratio sum."""
    from eodatadown_spark.operators.corpus import importance_weights

    docs = _t(spark, sf, "documents")
    return importance_weights(docs, target=F.col("lang") == "en")


def q166_line_dedup(spark, sf):
    """Cross-document line-level dedup (corpus.line_dedup — the C4 §2.2 /
    RefinedWeb rule): drop every line whose trimmed+lowercased form occurs
    in more than one distinct document, reassemble survivors in original
    order.  The corpus texts are single-line, so the query first re-flows
    each document into 8-token lines (deterministic token slicing) — the
    planted near-dup docs then share most of their lines and the rule
    fires (sf0.01: 328 of 3609 line occurrences removed).  Linear in
    total line count — one line-frequency hash agg, one boilerplate-
    marking join, one per-doc rebuild; nothing pairwise.  Oracle replays
    the re-flow, the distinct-doc frequency, and the ORDER BY pos
    reassembly."""
    from eodatadown_spark.operators.corpus import line_dedup, token_array

    docs = _t(spark, sf, "documents")
    # materialize the token array at its own projection boundary — the
    # slice lambda would otherwise re-run the regex split per line index
    # (the O(T²) trap documented in dup_ngram_fraction)
    tokenized = docs.select(
        "doc_id", token_array("text").alias("__toks")
    ).where(F.size("__toks") > 0)
    toks = F.col("__toks")
    n_lines = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    reflowed = tokenized.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(reflowed, max_docs=1)


def q167_quality_classifier(spark, sf):
    """Learned quality filter trained IN-ENGINE (classify.train_quality_
    classifier — the CCNet/GPT-3 fastText-style gate, reduced to
    hashed-unigram logistic regression for exact SQL reproducibility):
    8 full-batch GD iterations, each ONE d+1-column aggregation pass over
    the pinned 64-bucket binary-presence feature table (driver sees d+1
    doubles per pass, never rows), then a zero-shuffle scoring projection
    with the weights as literals.  The label DISTILLS the engine's own
    rule gate — text.language_guess (stopword_hits ≥ 1) — into the
    classifier, the trusted-rule→learned-model handoff a production
    pipeline makes; at sf0.01 the learned probabilities separate the
    classes (mean 0.93 vs 0.23, acc 0.94 vs a 0.91 base rate).  Oracle
    unrolls all 8 iterations as CTE chains (_gd_ctes_sql) — hash-match
    pins the tokenizer, the feature hash, the gradient math, and the
    update order cross-engine."""
    from eodatadown_spark.operators.classify import (
        hashed_features,
        score_documents,
        train_quality_classifier,
    )
    from eodatadown_spark.operators.dedup import _pin
    from eodatadown_spark.operators.text import language_guess

    docs = _t(spark, sf, "documents")
    feat = _pin(
        hashed_features(
            docs, 64, label=language_guess(F.col("text")) == "en", binary=True
        )
    )
    w = train_quality_classifier(
        docs,
        label=language_guess(F.col("text")) == "en",
        n_features=64,
        iters=8,
        lr=12.0,
        binary=True,
        features=feat,
    )
    return score_documents(docs, w, features=feat)


def q168_entropy_signals(spark, sf):
    """Char- and token-level Shannon entropy (text.char_entropy /
    token_entropy) — the gibberish / encoded-blob / looping-filler quality
    signals corpus filters threshold on.  ZERO-shuffle projections: sort
    the per-doc char/token array, one fold over runs (F.aggregate binds
    the array once — no explode, no groupBy).  The oracle computes the
    same distribution relationally (unnest → group → Σ c·log2 c), pinning
    the closed form ``H = log2(n) − Σ c_k·log2(c_k)/n`` cross-engine."""
    from eodatadown_spark.operators.text import (
        char_count,
        char_entropy,
        token_count,
        token_entropy,
    )

    # parallelism floor (r13): with no shuffle anywhere in the plan, a
    # small-file scan's single partition serializes the per-row sort+fold
    # entropy expressions onto one core (measured sf0.1: 3.2 s → 0.6 s);
    # the floor is scale-up only — a no-op wherever the scan already
    # spans the cluster
    docs = D.ensure_min_parallelism(_t(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        char_count("text").alias("n_chars"),
        char_entropy("text").alias("char_entropy"),
        token_count("text").alias("n_tokens"),
        token_entropy("text").alias("token_entropy"),
    )


def q169_classifier_eval(spark, sf):
    """Classifier-gate evaluation IN-ENGINE (classify.evaluate_gate): the
    q167 training composition, then a one-row confusion matrix +
    precision/recall/F1 of the 0.5-thresholded gate against its own
    distillation label (the q21 language_guess rule) — the eval step a
    pipeline runs before trusting a learned filter.  One extra aggregation
    pass over the pinned feature table; the oracle replays the full GD
    chain plus the confusion tail."""
    from eodatadown_spark.operators.classify import (
        evaluate_gate,
        hashed_features,
        train_quality_classifier,
    )
    from eodatadown_spark.operators.dedup import _pin
    from eodatadown_spark.operators.text import language_guess

    docs = _t(spark, sf, "documents")
    feat = _pin(
        hashed_features(
            docs, 64, label=language_guess(F.col("text")) == "en", binary=True
        )
    )
    w = train_quality_classifier(
        docs,
        label=language_guess(F.col("text")) == "en",
        n_features=64,
        iters=8,
        lr=12.0,
        binary=True,
        features=feat,
    )
    return evaluate_gate(feat, w)


def q170_sparse_classifier(spark, sf):
    """The q167 classifier through the SPARSE path (classify.train_quality_
    classifier_sparse): sorted-bucket-set features, explode+groupBy
    gradient (d rows per pass instead of d wide agg columns), O(1)-in-d
    plan size — measured 21x faster per training pass at d=1024 on the
    50k-doc corpus with identical confusion counts (SCALING.md).  Same
    hyperparameters as q167, same GD replay in the oracle — but gated on
    the THRESHOLDED per-doc prediction (prob >= 0.5), not the 4dp-rounded
    probability: sparse-path weights match dense only to ~1e-12
    (shuffle-order float reduction in the explode+groupBy gradient), so a
    probability within that tolerance of a 0.00005 rounding boundary
    would flip an exact-4dp hash nondeterministically, while the 0.5
    decision boundary absorbs it.  Integer/boolean outputs only."""
    from eodatadown_spark.operators.classify import (
        hashed_feature_sets,
        score_documents_sparse,
        train_quality_classifier_sparse,
    )
    from eodatadown_spark.operators.dedup import _pin
    from eodatadown_spark.operators.text import language_guess

    docs = _t(spark, sf, "documents")
    feat = _pin(
        hashed_feature_sets(
            docs, 64, label=language_guess(F.col("text")) == "en"
        )
    )
    w = train_quality_classifier_sparse(
        docs,
        label=language_guess(F.col("text")) == "en",
        n_features=64,
        iters=8,
        lr=12.0,
        features=feat,
    )
    scored = score_documents_sparse(docs, w, features=feat)
    return scored.select(
        "doc_id",
        "n_tokens",
        (F.col("prob") >= F.lit(0.5)).alias("pred"),
    )


def q171_count_min(spark, sf):
    """Count-Min frequency sketch (merge.build_count_min — Cormode &
    Muthukrishnan 2005) completing the mergeable-sketch family with
    frequency: depth×width counter state, point estimate = min over
    salted-hash rows, ALWAYS ≥ exact.  Query: sketch the corpus token
    stream (depth 4, width 512), probe the exact top-20 tokens, output
    exact vs estimated counts side by side.  Oracle replays the salted
    rolling-hash bucketing, the counter table, and the min-probe."""
    from eodatadown_spark.operators.corpus import token_array
    from eodatadown_spark.operators.merge import (
        build_count_min,
        count_min_estimate,
    )

    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(token_array("text")).alias("token"))
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("token")).limit(20)
    cms = build_count_min(toks, "token", depth=4, width=512)
    est = count_min_estimate(cms, top.select("token"), "token", 4, 512)
    return top.join(est, "token").select("token", "exact_cnt", "cms_cnt")


def q172_hard_negatives(spark, sf):
    """Hard-negative mining (similarity.hard_negatives): per query vector,
    the top-5 most-similar corpus vectors with a DIFFERENT label — the
    near-boundary negatives contrastive/reranker training mines (random
    negatives teach nothing).  Label filter applies BEFORE ranking; scale
    shape is cosine_topk's (queries broadcast, corpus never shuffles).
    Oracle ranks the label-mismatched
    pair set with the same deterministic tie-break."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return S.hard_negatives(emb, qs, k=5).select(
        "query_id", "neighbor_id", "neighbor_label", "rank"
    )


def q173_cms_rollup_gate(spark, sf):
    """CMS incremental-rollup soundness gate (merge.merge_count_min): the
    corpus token stream split into disjoint halves, sketched separately,
    and MERGED must equal a one-pass build COUNTER-FOR-COUNTER — CMS merge
    is plain addition, so unlike the HLL gate (q145, tolerance-based) this
    one is exact.  Output is one row of real numbers (counter count,
    total mass, mismatch count) rather than an empty violation set, so a
    dtype or logic drift cannot hide behind an empty result (the q145
    lesson from r9)."""
    from eodatadown_spark.operators.corpus import token_array
    from eodatadown_spark.operators.merge import build_count_min, merge_count_min

    docs = _t(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(token_array("text")).alias("token"))
    half_a = toks.where(F.col("doc_id") % 2 == 0)
    half_b = toks.where(F.col("doc_id") % 2 == 1)
    merged = merge_count_min(
        build_count_min(half_a, "token", depth=4, width=256),
        build_count_min(half_b, "token", depth=4, width=256),
    )
    full = build_count_min(toks, "token", depth=4, width=256)
    j = merged.withColumnRenamed("cnt", "cnt_m").join(
        full.withColumnRenamed("cnt", "cnt_f"),
        ["cms_row", "cms_bucket"],
        "full_outer",
    )
    return j.agg(
        F.sum(F.when(F.col("cnt_m").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_merged"),
        F.sum(F.when(F.col("cnt_f").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_full"),
        F.sum(
            F.when(
                F.coalesce(F.col("cnt_m"), F.lit(-1))
                != F.coalesce(F.col("cnt_f"), F.lit(-2)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
        F.sum(F.coalesce(F.col("cnt_f"), F.lit(0))).alias("total_mass"),
    )


def q174_normalize_text(spark, sf):
    """Pre-dedup text normalization (text.normalize_text): deterministic
    dirt is injected into every document (leading BOM-like zero-width,
    doubled internal spaces, trailing tab+CRLF), then normalized — every
    row must converge back to the normalized ORIGINAL (matches=true), so
    the query pins all seven normalization rules end-to-end.  Pure
    codegen'd string expressions; oracle replays both the dirt injection
    and the normalization chain."""
    from eodatadown_spark.operators.text import normalize_text

    docs = _t(spark, sf, "documents")
    dirty = F.concat(
        F.lit("\u200b  ".replace("\\u200b", "\u200b")),
        F.regexp_replace(F.col("text"), " ", "  "),
        F.lit("\t\r\n"),
    )
    return docs.select(
        "doc_id",
        F.length(dirty).alias("n_dirty"),
        normalize_text(dirty).alias("text_norm"),
        (normalize_text(dirty) == normalize_text(F.col("text"))).alias(
            "matches"
        ),
    )


def q175_template_strip(spark, sf):
    """Per-source template-header stripping (corpus.strip_template_prefix):
    a deterministic '[<source> header] ' banner is stamped on every doc
    (the scraped-site template shape), then removed via the group-LCP
    min/max trick — ONE min/max aggregation per source, never pairwise;
    the prefix table is source-count rows and broadcasts.  Singleton
    sources keep their text (gate min_docs=2).  Oracle replays the
    stamping, the extremes, the LCP scan, and the gated substring."""
    from eodatadown_spark.operators.corpus import strip_template_prefix

    docs = _t(spark, sf, "documents")
    templated = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("["), F.col("source"), F.lit(" header] "), F.col("text")
        ).alias("text"),
    )
    return strip_template_prefix(templated)


def q176_containment_pairs(spark, sf):
    """Asymmetric containment dedup (dedup.shingle_containment_pairs —
    Broder's second resemblance measure): snippet docs are synthesized as
    the first-12-token prefixes of doc_id<40 originals, so their shingle
    sets are strict subsets — containment 1.0 where Jaccard is ~0.1 and
    Jaccard-banded LSH is structurally blind.  Same inverted-index
    skeleton as q28; candidate volume bounded by the optional max_df cap
    at corpus scale.  Oracle recomputes set containment with list
    algebra over the union frame."""
    from eodatadown_spark.operators.corpus import token_array
    from eodatadown_spark.operators.dedup import shingle_containment_pairs

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    snippets = (
        docs.where(F.col("doc_id") < 40)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.array_join(F.slice(token_array("text"), 1, 12), " ").alias(
                "text"
            ),
        )
    )
    return shingle_containment_pairs(
        docs.unionByName(snippets), threshold=0.9
    )


def q177_footer_strip(spark, sf):
    """Footer twin of q175 (corpus.strip_template_suffix): a deterministic
    ' [<source> footer]' banner appended to every doc is removed via the
    reversed-extremes identity (common suffix = reverse of the LCP of
    reversed min/max).  Oracle replays the stamping, the reversal, and
    the gated tail substring."""
    from eodatadown_spark.operators.corpus import strip_template_suffix

    docs = _t(spark, sf, "documents")
    templated = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"), F.lit(" ["), F.col("source"), F.lit(" footer]")
        ).alias("text"),
    )
    return strip_template_suffix(templated)


def q178_keyset_page(spark, sf):
    """W2/O5 seek-method pagination (queries.paginate_keyset): page 2 of
    the q02 date-filtered scan addressed by CURSOR — page 1 is a
    TakeOrderedAndProject top-20, its lexicographic minimum (the last row
    under the DESC total order (o_orderdate, o_orderkey)) broadcasts as
    the cursor, and page 2 is `WHERE key < cursor ORDER BY … LIMIT 20`.
    No row_number window anywhere, so no single-partition sort — the
    scale-safe twin of the reference's OFFSET/LIMIT pagination
    (eodatadownlandsatgoogsensor.py:1989-2040).  The oracle computes the
    SAME page with OFFSET/LIMIT row numbering, pinning the two forms'
    equivalence under a total order."""
    orders = _t(spark, sf, "orders").where(
        Q.date_range_pred("o_orderdate", "1997-12-31", "1996-01-01")
    )
    keys = ["o_orderdate", "o_orderkey"]
    page1 = Q.paginate_keyset(orders, keys, n_recs=20, descending=True)
    cursor = page1.agg(
        F.min(F.struct(*[F.col(k) for k in keys])).alias("c")
    ).select("c.o_orderdate", "c.o_orderkey")
    page2 = Q.paginate_keyset(
        orders, keys, after=cursor, n_recs=20, descending=True
    )
    return page2.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_totalprice",
    )


def q179_bloom_gate(spark, sf):
    """Bloom membership filter (merge.build_bloom — Bloom 1970) completing
    the mergeable-sketch family with MEMBERSHIP: ≤ n_bits single-int rows
    of DISTINCT set positions, k affine-derived positions per value (the
    CMS hash family, one char-fold per value), merge = set union ==
    build-of-union exactly.  Query: filter the corpus token stream
    (k=4, m=2048), probe the exact top-20 tokens plus 20 synthetic
    never-seen tokens, output (token, in_corpus, bloom_hit) — inserted
    tokens MUST hit (no false negatives, structural), absent tokens hit
    only on full k-fold collision, which the oracle replays bit-exactly.
    At 100 TB this is the broadcast pre-join gate: drop probe rows whose
    k bits aren't all set BEFORE the expensive shuffle."""
    from eodatadown_spark.operators.corpus import token_array
    from eodatadown_spark.operators.merge import (
        bloom_might_contain,
        build_bloom,
    )

    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(token_array("text")).alias("token"))
    bloom = build_bloom(toks, "token", n_hashes=4, n_bits=2048)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(20)
        .select("token", F.lit(True).alias("in_corpus"))
    )
    absent = spark.range(20).select(
        F.concat(F.lit("zzabsent"), F.col("id").cast("string")).alias("token"),
        F.lit(False).alias("in_corpus"),
    )
    probes = top.unionByName(absent)
    hits = bloom_might_contain(
        bloom, probes.select("token"), "token", 4, 2048
    )
    return probes.join(hits, "token").select("token", "in_corpus", "bloom_hit")


def q180_duplicated_spans(spark, sf):
    """Exact duplicated-span detection (dedup.duplicated_span_stats — the
    Lee et al. 2021 ExactSubstr rule, token-windowed): 8-token rolling-
    hash windows, corpus-wide occurrence marking, overlapping marked
    windows merged into MAXIMAL spans by a per-document lag/cumsum island
    fold, per-doc (n_tokens, n_dup_spans, dup_tokens) — the verbatim-run
    complement of line_dedup (whole lines) and ngram_novelty (distinct-
    shingle originality).  Integer outputs only (float-free gate).  The
    oracle replays windows, the char-fold hash, the ≥2 marking, and the
    island merge with SQL window functions."""
    docs = _t(spark, sf, "documents")
    return D.duplicated_span_stats(docs, window=8)


def q181_span_index_probe(spark, sf):
    """Incremental duplicated-span detection through the STORED window-
    hash index (dedup.span_hash_index / duplicated_spans_against_index):
    90% of documents (doc_id % 10 < 9) index once into (wh, cnt,
    n_docs); the 10% batch probes it and reports union-corpus span
    stats for batch docs WITHOUT re-reading the corpus — window counts
    are exactly additive across disjoint doc-id sets, so
    probe == duplicated_span_stats(corpus ∪ batch) restricted to the
    batch (the theorem the hypothesis property pins).  The oracle runs
    the from-scratch union replay restricted to batch ids — hash-match
    proves the stored-index shortcut lossless.  The modulo split keeps
    the big-corpus/small-batch steady-state shape at EVERY scale factor
    (a fixed id cutoff would invert as the table grows)."""
    docs = _t(spark, sf, "documents")
    corpus = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) < 9)
    batch = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 9)
    idx = D.span_hash_index(corpus, window=8)
    return D.duplicated_spans_against_index(batch, idx, window=8)


def q182_span_cut(spark, sf):
    """The ACTION step of ExactSubstr dedup (dedup.cut_duplicated_spans):
    q180's maximal duplicated spans are EXCISED and each document rebuilt
    from its surviving tokens — (doc_id, n_tokens, n_kept, text_kept),
    entirely-duplicated docs surviving as empty-text rows (the caller's
    drop decision, the line_dedup convention).  The oracle extends q180's
    replay with per-token coverage (NOT EXISTS over the span table) and
    an ORDER BY-position string_agg rebuild — hash-match pins the cut
    boundaries AND the rebuilt text byte-for-byte."""
    docs = _t(spark, sf, "documents")
    return D.cut_duplicated_spans(docs, window=8)


def q183_char_spans(spark, sf):
    """CHAR-granular ExactSubstr span detection (dedup.duplicated_span_stats
    unit="char" — Lee et al. 2021's native form: their 50-byte threshold is
    --window 50 over raw characters, no tokenization, no normalization, so
    case/punctuation differences break a match exactly as exact-substring
    demands): 50-char windows hashed with the raw-codepoint fold
    (text.char_fingerprint), corpus-wide ≥2 marking, per-doc island merge →
    (doc_id, n_chars, n_dup_spans, dup_chars).  The byte-fidelity twin of
    q180's token approximation; integer-only output.  The oracle replays
    substr windows, the ord() fold, and the island merge."""
    docs = _t(spark, sf, "documents")
    return D.duplicated_span_stats(docs, window=50, unit="char")


def q184_char_span_cut(spark, sf):
    """The char-granular cut (dedup.cut_duplicated_spans unit="char"):
    q183's maximal duplicated char spans are EXCISED and — unlike the token
    cut — the kept regions keep their ORIGINAL bytes: the rebuild is an
    O(spans-per-doc) fold concatenating the raw inter-span substrings, no
    per-char explode engine-side.  (doc_id, n_chars, n_kept, text_kept);
    the oracle rebuilds via per-char coverage + ORDER BY-position
    string_agg — hash-match pins the cut boundaries AND the preserved
    bytes."""
    docs = _t(spark, sf, "documents")
    return D.cut_duplicated_spans(docs, window=50, unit="char")


def q50_neardup_clusters(spark, sf):
    """Dedup capstone: near-dup pairs → connected components →
    keep-canonical.  Per-cluster membership for multi-doc clusters (the rows
    a dedup pass would collapse); oracle recomputes components with a
    recursive CTE."""
    docs = _t(spark, sf, "documents")
    clusters = D.neardup_clusters(docs, threshold=0.5)
    # window-count tail (see q150): one shuffle, no self-join
    return (
        clusters.withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("n_members") > 1)
        .select("doc_id", "cluster_id", "is_canonical", "n_members")
    )


def q51_date_bbox_count(spark, sf):
    """F7+A3 through the named facade query: scene-shaped frame derived
    deterministically from orders (coords from keys), counted with
    query_scn_records_date_bbox_count (ref eodatadownlandsatgoogsensor.py:
    2070-2103)."""
    orders = _t(spark, sf, "orders")
    scenes = orders.select(
        F.col("o_orderkey").alias("pid"),
        F.col("o_orderdate").alias("date_acquired"),
        (F.pmod(F.col("o_orderkey"), F.lit(97)) == 0).alias("invalid"),
        (F.pmod(F.col("o_custkey"), F.lit(360)) - 180).cast("double").alias("west_lon"),
        (F.pmod(F.col("o_custkey"), F.lit(360)) - 178).cast("double").alias("east_lon"),
        (F.pmod(F.col("o_orderkey"), F.lit(170)) - 85).cast("double").alias("south_lat"),
        (F.pmod(F.col("o_orderkey"), F.lit(170)) - 83).cast("double").alias("north_lat"),
    )
    return Q.query_scn_records_date_bbox_count(
        scenes, "1998-12-31", "1996-01-01", (-20.0, 20.0, -30.0, 30.0)
    )


def q52_frame_sample(spark, sf):
    """Multimodal plumbing: video frame-sampling fan-out — media fabricated
    deterministically from documents (n_frames = n_chars%120+1), every-10th
    frame exploded, per-media tallies.  Pure Catalyst; oracle recomputes the
    stride with range()."""
    from eodatadown_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, "video")
        .otherwise("image")
        .alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(F.length("text"), F.lit(120)) + 1).cast("int").alias("n_frames"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )
    frames = sample_frames(media, every_n=10)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_sampled"), F.max("frame_idx").alias("last_frame")
    )


def q53_contamination(spark, sf):
    """Dedup/decontamination: corpus docs sharing any word 5-gram with a
    benchmark set (docs 0-24 standing in for an eval set) — the GPT-3-style
    n-gram collision rule, counted per (corpus, bench) pair."""
    docs = _t(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") >= 25)
    bench = docs.where(F.col("doc_id") < 25)
    return D.contamination_pairs(corpus, bench, k=5)


def q54_unigram_lm(spark, sf):
    """Corpus op: per-doc mean negative log-likelihood under the corpus's own
    unigram LM (KenLM-style quality signal, reduced to unigrams for exact
    cross-engine reproducibility)."""
    from eodatadown_spark.operators.corpus import unigram_lm_scores

    docs = _t(spark, sf, "documents")
    return unigram_lm_scores(docs)


def q55_stratified_sample(spark, sf):
    """Corpus op: deterministic per-language downsample (keep 30% en / 50% zh
    / 100% de, drop the rest) — the pretraining language-mix rebalancing
    step; per-language kept counts prove the per-stratum thresholds."""
    from eodatadown_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf, "documents")
    kept = stratified_sample(docs, {"en": 0.3, "zh": 0.5, "de": 1.0})
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


def q56_length_histogram(spark, sf):
    """Corpus op: log2-bucketed document-length histogram — the distribution
    audit behind truncation/packing budget choices."""
    from eodatadown_spark.operators.corpus import length_histogram

    docs = _t(spark, sf, "documents")
    return length_histogram(docs)


def q57_topk_tokens(spark, sf):
    """Corpus op: top-5 most frequent tokens per language (vocabulary audit);
    count desc, token asc tie-break in both engines."""
    from eodatadown_spark.operators.corpus import topk_tokens

    docs = _t(spark, sf, "documents")
    return topk_tokens(docs, k=5)


def q58_centroid_distances(spark, sf):
    """Similarity: per-label centroid cohesion — elementwise-mean centroid,
    then mean/max member Euclidean distance (one k-means quality iteration,
    no arrays collected or re-assembled)."""
    emb = _t(spark, sf, "embeddings")
    return S.label_centroid_distances(emb)


def q59_asof_join(spark, sf):
    """Temporal: TWO-TABLE as-of join (purchases ← most recent prior-or-equal
    signup per user) via the union+window engine operator — one shuffle, no
    pandas; oracle = correlated max subquery (DuckDB decorrelates it)."""
    from eodatadown_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    return asof_join(purchases, signups, ["user_id"]).select(
        "event_id", "user_id", "ts", F.col("ts_right").alias("signup_ts")
    )


def q60_kl_divergence(spark, sf):
    """Corpus op: per-language KL divergence from the corpus unigram mix —
    the distribution-shift audit behind pretraining-mix decisions."""
    from eodatadown_spark.operators.corpus import group_kl_divergence

    docs = _t(spark, sf, "documents")
    return group_kl_divergence(docs)


def q61_range_join(spark, sf):
    """Temporal: bounded interval self-join — same-user event pairs 0 < Δt ≤
    600 s, bucketed into an equi-join (candidates per (user, bucket), exact
    predicate after) instead of a nested-loop theta join."""
    from eodatadown_spark.operators.temporal import range_join

    ev = _t(spark, sf, "events")
    e = ev.select("user_id", "ts", "event_id")
    return range_join(
        e,
        e.withColumnRenamed("event_id", "event_id_b"),
        ["user_id"],
        min_gap=0.0,
        max_gap=600.0,
        left_cols=["event_id"],
        right_cols=["event_id_b"],
    ).select(
        "user_id", F.col("event_id").alias("event_id_a"), "event_id_b", "gap_s"
    )


def q62_session_window(spark, sf):
    """Temporal: Spark's NATIVE session_window gap sessions rolled up to the
    q29 shape — proves the built-in stateful operator agrees with the
    lag+cumsum formulation (identical strict-> boundary, pinned ±1 µs in
    tests; the oracle IS q29's)."""
    from eodatadown_spark.operators.temporal import session_window_rollup

    ev = _t(spark, sf, "events")
    sessions = session_window_rollup(ev, ["user_id"], ts_col="ts", gap="30 minutes")
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def q63_temperature_resample(spark, sf):
    """Corpus op: temperature sampling (alpha=0.5) — per-language keep-rate
    sqrt(N_min/N_g), deterministic hash-bucket membership; per-language
    original vs kept counts prove the closed-form rates."""
    from eodatadown_spark.operators.corpus import temperature_resample

    docs = _t(spark, sf, "documents")
    kept = temperature_resample(docs, alpha=0.5)
    orig = docs.groupBy("lang").agg(F.count("*").alias("n_orig"))
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .join(orig, "lang")
        .select("lang", "n_orig", "n_kept")
    )


def q64_perplexity_prune(spark, sf):
    """Corpus op: perplexity pruning at a fixed budget — keep the lowest-nll
    half of each language (percent_rank with id tie-break; deterministic
    cut)."""
    from eodatadown_spark.operators.corpus import perplexity_prune

    docs = _t(spark, sf, "documents")
    return perplexity_prune(docs, keep_frac=0.5)


def q65_bigram_lm(spark, sf):
    """Corpus op: per-doc mean bigram surprisal under the corpus's own
    bigram LM (sequence-level quality signal; unigram-passing shuffled text
    scores high here)."""
    from eodatadown_spark.operators.corpus import bigram_lm_scores

    docs = _t(spark, sf, "documents")
    return bigram_lm_scores(docs)


def q66_incremental_dedup(spark, sf):
    """Corpus op: incremental exact dedup of a new batch against an existing
    corpus — docs >= 250 plus a simulated re-crawl (docs 0-24 relabeled
    +1000) arrive as the batch; the re-crawled 25 are dropped by the
    fingerprint anti-join (T2 idempotent-ingest semantics on documents)."""
    from eodatadown_spark.operators.corpus import dedup_against

    docs = _t(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") < 250)
    recrawl = docs.where(F.col("doc_id") < 25).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    batch = docs.where(F.col("doc_id") >= 250).unionByName(recrawl)
    return dedup_against(batch, corpus).select("doc_id", "lang")


def q67_chunking(spark, sf):
    """Corpus op: overlapping token-window chunking (window 32, stride 24) —
    the context-window splitting step; chunk text checked via md5."""
    from eodatadown_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf, "documents")
    return chunk_documents(docs, window=32, stride=24).select(
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"),
        "n_chunk_tokens",
    )


def q68_embed_plumbing(spark, sf):
    """Multimodal/embedding plumbing: Arrow-batched mapInPandas embedding
    generation (deterministic stub kernel — a model drops into its slot);
    dims + sequential dim-sum checked exactly by the oracle's rolling-hash
    recomputation."""
    from eodatadown_spark.operators.multimodal import embed_documents

    docs = _t(spark, sf, "documents")
    emb = embed_documents(docs.where(F.col("doc_id") < 100), dim=16)
    return emb.select(
        "doc_id",
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e0"),
        F.round(F.element_at("embedding", 16).cast("double"), 4).alias("e15"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda a, b: a + b.cast("double")
            ),
            4,
        ).alias("dim_sum"),
    )


def q69_rollup_grouping(spark, sf):
    """A-family extension: hierarchical ROLLUP (status → priority) with
    grouping_id distinguishing subtotal levels — the reporting shape cube
    (q37) doesn't cover."""
    orders = _t(spark, sf, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping_id().alias("gid"),
        )
    )


def q70_dist_windows(spark, sf):
    """W-family extension: ntile quartiles, cume_dist and lead over customer
    balances per market segment (the remaining SQL window functions not yet
    exercised by q29-q33/q64)."""
    cust = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.lead("c_custkey", 1).over(w).alias("next_custkey"),
    )


def q71_asof_value_carry(spark, sf):
    """Temporal: as-of join CARRYING a value column from the matched right
    row — validated against DuckDB's native ASOF LEFT JOIN (struct fill
    guarantees ts and value come from the same row)."""
    from eodatadown_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # deterministic right side: max(value) per (user, ts) — asof_join's
    # docstring warns value columns are order-dependent under exact
    # (key, ts) ties, and DuckDB's ASOF picks arbitrarily among them
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        purchases, signups, ["user_id"], right_value_cols=["value"]
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("signup_ts"),
        F.round("value_right", 2).alias("signup_value"),
    )


def q72_variant_props(spark, sf):
    """C21 modern path: Spark 4 VariantType JSON access (parse once into the
    binary variant encoding, typed extraction) — per-event-type stats over
    the props payload; both variant and classic getters must agree, so the
    query asserts their equality inline via a coalesce-free sum."""
    from eodatadown_spark.functions.codecs import json_field

    ev = _t(spark, sf, "events")
    k_variant = json_field("props", "$.k", "long", use_variant=True)
    k_classic = json_field("props", "$.k", "long", use_variant=False)
    return (
        ev.select("event_type", k_variant.alias("k"), k_classic.alias("k2"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.sum(
                F.when(F.col("k").eqNullSafe(F.col("k2")), 0).otherwise(1)
            ).alias("variant_classic_mismatches"),
        )
    )


def q73_unpivot(spark, sf):
    """Relational-surface: wide→long melt (DataFrame.unpivot) over part
    numerics — the inverse of q32's pivot."""
    part = _t(spark, sf, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return wide.unpivot(
        ["p_partkey"], ["p_size", "p_retailprice"], "metric", "value"
    )


def q74_map_ops(spark, sf):
    """Collection-surface: per-user event-type counts assembled into a MAP
    column (collect_list → map_from_entries) then consumed via
    element_at/size — the map-typed path the JSONB columns can take; the
    oracle recomputes the scalars with plain conditional counts."""
    ev = _t(spark, sf, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return as_map.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.coalesce(F.element_at("m", "click"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.element_at("m", "purchase"), F.lit(0)).alias("n_purchases"),
    )


def q75_hll_soundness(spark, sf):
    """Sketch soundness gate (q43 pattern): HyperLogLog distinct counts
    (approx_count_distinct, rsd=2%) of suppliers/customers per nation must
    sit within 5x rsd of the exact counts — rows violating the bound
    surface here, so the result is empty iff the sketch is sound."""
    cust = _t(spark, sf, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.count_distinct("c_custkey").alias("exact"),
        F.approx_count_distinct("c_custkey", 0.02).alias("approx"),
    )
    rel_err = F.abs(F.col("approx") - F.col("exact")) / F.col("exact")
    return per_nation.where(rel_err > 0.10).select(
        "c_nationkey", "exact", "approx"
    )


def q76_approx_quantile_soundness(spark, sf):
    """Sketch soundness gate: percentile_approx (accuracy 10k) of order
    totals per status must land within 1% relative error of the exact
    percentile — violations surface, empty result iff sound (the
    column_stats(approx=True) reporting path's contract)."""
    orders = _t(spark, sf, "orders")
    per_status = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_med"),
        F.percentile_approx("o_totalprice", 0.5, 10_000).alias("approx_med"),
    )
    rel_err = F.abs(F.col("approx_med") - F.col("exact_med")) / F.col("exact_med")
    return per_status.where(rel_err > 0.01).select(
        "o_orderstatus",
        F.round("exact_med", 2).alias("exact_med"),
        F.round("approx_med", 2).alias("approx_med"),
    )


def q77_substring_contamination(spark, sf):
    """Dedup/substring contamination: docs containing one of the benchmark
    needles verbatim (needles = first 3 tokens of docs 0-7, lowercased,
    derived deterministically so the oracle can rebuild them).  Broadcast
    needle side, no corpus shuffle."""
    docs = _t(spark, sf, "documents")
    toks = C.token_array("text")
    needles = (
        docs.where(F.col("doc_id") < 8)
        .where(F.size(toks) >= 3)
        .select(
            F.col("doc_id").alias("needle_id"),
            F.array_join(F.slice(toks, 1, 3), " ").alias("needle"),
        )
    )
    lowered = docs.select("doc_id", F.lower(F.col("text")).alias("text"))
    return (
        D.substring_contamination(lowered, needles)
        .where(F.col("doc_id") != F.col("needle_id"))
        .select("doc_id", "needle_id")
    )


def q78_prefix_suffix_overlap(spark, sf):
    """Corpus/continuation-split detection: suffix-3-tokens == another doc's
    prefix-3-tokens (operators.corpus.prefix_suffix_overlap)."""
    docs = _t(spark, sf, "documents")
    return C.prefix_suffix_overlap(docs, k=3).select("suffix_doc", "prefix_doc")


def q79_dup_ngram_fraction(spark, sf):
    """Corpus/cross-document duplicate 5-gram fraction per doc
    (operators.corpus.dup_ngram_fraction) — the across-corpus counterpart
    of q46's within-doc repetition ratio."""
    docs = _t(spark, sf, "documents")
    return C.dup_ngram_fraction(docs, n=5).select("doc_id", "n_grams", "dup_fraction")


def q80_pq_recall_soundness(spark, sf):
    """Sketch soundness gate (q75/q76 convention): PQ shortlist+rerank top-3
    must overlap the exact brute-force top-3 in >= 2 of 3 neighbors for
    every probe query — violating queries surface, empty result iff the
    compression path is sound at this corpus scale.  The shortlist scales
    with the corpus (20%, floor 200): a fixed 200 calibrated on 500
    vectors starves the rerank at sf0.1's 2000 vectors (observed: one
    probe query dropped to 1/3 overlap)."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    shortlist = max(200, emb.count() // 5)
    exact = S.cosine_topk(emb, qs, k=3).select("query_id", "neighbor_id")
    approx = S.pq_topk(
        emb, qs, k=3, m=8, n_codes=16, shortlist=shortlist
    ).select("query_id", "neighbor_id")
    overlap = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        qs.select("query_id")
        .join(overlap, "query_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .where(F.col("n_overlap") < 2)
    )


def q81_bpe_merge_candidates(spark, sf):
    """Corpus/vocab: top-20 BPE merge candidates (adjacent char-pair counts
    weighted by word frequency — operators.corpus.bpe_merge_candidates)."""
    docs = _t(spark, sf, "documents")
    return C.bpe_merge_candidates(docs, k=20).select("pair", "n")


def q82_gopher_quality_flags(spark, sf):
    """Text/Gopher rule flags: per-doc booleans for each published quality
    rule + the conjunction (operators.text.gopher_quality_flags)."""
    docs = _t(spark, sf, "documents")
    return X.gopher_quality_flags(docs, min_words=20).select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_frac",
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "alpha_frac_ok", "stopwords_ok", "keep",
    )


def q83_sketch_union_soundness(spark, sf):
    """Sketch soundness gate: per-source HLL sketches built on two disjoint
    halves of documents and UNIONED must estimate the true distinct doc_id
    count within 5% — violating sources surface, empty iff the mergeable
    incremental-reporting path (reports.distinct_sketch_rollup/
    merge_distinct_sketches) is sound."""
    from eodatadown_spark.reports import distinct_sketch_rollup, merge_distinct_sketches

    docs = _t(spark, sf, "documents")
    # parity split: data-independent disjoint covering halves — no pre-scan
    # job to pick a split point, and no empty-table edge (a max()/2 split
    # would TypeError on None)
    b1 = distinct_sketch_rollup(
        docs.where(F.col("doc_id") % 2 == 0), "source", "doc_id"
    )
    b2 = distinct_sketch_rollup(
        docs.where(F.col("doc_id") % 2 != 0), "source", "doc_id"
    )
    merged = merge_distinct_sketches(b1.unionByName(b2), "source")
    exact = docs.groupBy("source").agg(F.count_distinct("doc_id").alias("exact"))
    joined = merged.join(exact, "source")
    rel_err = F.abs(F.col("estimate") - F.col("exact")) / F.col("exact")
    return joined.where(rel_err > 0.05).select("source", "exact", "estimate")


def q84_shipping_priority(spark, sf):
    """TPC-H Q3 shape: top-10 unshipped-revenue orders for one market
    segment — two fact joins (customer broadcast), filtered both sides of
    the order date, agg + deterministic top-k."""
    cust = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").where(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf, "lineitem").where(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q85_large_volume_orders(spark, sf):
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with customer attribution — the agg-then-semi-join-back
    'having over a fact' pattern."""
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


def q86_price_quartiles(spark, sf):
    """Window/ntile: quartile assignment of orders by price within status
    (deterministic total order), then per-(status, quartile) stats — the
    banding-for-stratification window shape."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderstatus", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def q87_source_set_ops(spark, sf):
    """Set operators: sources present in BOTH corpus halves (INTERSECT)
    minus those with any short doc (EXCEPT) — the U-family beyond union."""
    docs = _t(spark, sf, "documents")
    # halves split on doc_id mod 7 (coprime to the synthetic source
    # cycle of 20): any power-of-two split correlates with the source
    # column and makes the INTERSECT trivially empty
    first = docs.where(F.col("doc_id") % 7 < 3).select("source")
    second = docs.where(F.col("doc_id") % 7 >= 3).select("source")
    short = docs.where(F.col("n_chars") < 52).select("source")
    return first.intersect(second).exceptAll(short.distinct()).select("source")


def q88_above_average_orders(spark, sf):
    """Scalar-subquery filter: orders priced above 1.5× the global average —
    the scalar aggregate broadcasts as a one-row cross join, the fact scan
    stays partition-parallel."""
    orders = _t(spark, sf, "orders")
    avg_price = orders.agg(F.avg("o_totalprice").alias("__avg"))
    return (
        orders.crossJoin(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > 1.5 * F.col("__avg"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


def q89_trailing_range_window(spark, sf):
    """Window RANGE frame over event time: per user, the sum/count of event
    values in the trailing 10 minutes INCLUDING the current event — a
    range-frame (not rows-frame) window keyed on epoch seconds."""
    ev = _t(spark, sf, "events")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("trail_sum"),
        F.count("*").over(w).alias("trail_n"),
    )


def q90_daily_reconciliation(spark, sf):
    """FULL OUTER join: per-day order counts vs event counts reconciled —
    days present on either side survive with zeroes on the missing side
    (the audit/reconciliation join shape)."""
    orders = (
        _t(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count("*").alias("n_orders"))
    )
    events = (
        _t(spark, sf, "events")
        .groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("d"))
        .agg(F.count("*").alias("n_events"))
    )
    return orders.join(events, "d", "full_outer").select(
        "d",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


def q91_merge_upsert(spark, sf):
    """ANSI MERGE (operators/merge.merge_into): target = customers with
    c_custkey < 100, source = per-customer lifetime spend from orders.
    Matched & spend > 3M → delete; matched → acctbal += spend; source-only
    customers insert with segment 'NEW'.  One keyed full-outer join —
    the declarative form of the reference's per-row ORM update/insert/
    delete cycles (eodatadownrun.py:699-845)."""
    from eodatadown_spark.operators.merge import merge_into

    target = (
        _t(spark, sf, "customer")
        .where(F.col("c_custkey") < 100)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )
    source = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    merged = merge_into(
        target,
        source,
        on=["c_custkey"],
        when_matched_update={
            "c_acctbal": F.round(F.col("t.c_acctbal") + F.col("s.spend"), 2)
        },
        when_matched_delete=F.col("s.spend") > 3_000_000,
        when_not_matched_insert={
            "c_acctbal": F.col("s.spend"),
            "c_mktsegment": F.lit("NEW"),
        },
    )
    return merged.orderBy("c_custkey")


def q92_snapshot_diff(spark, sf):
    """CDC between two catalog versions (operators/merge.diff_snapshots):
    old = orders before 1997, new = a 1996-1997 window where every 10th
    order is re-priced — emits (key, insert|delete|update), nothing for
    unchanged keys.  The audit operation the reference's overwrite-in-place
    ORM cannot express; pairs with ParquetCatalog.read_version."""
    from eodatadown_spark.operators.merge import diff_snapshots

    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    old = orders.where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01"))
    ).drop("o_orderdate")
    new = (
        orders.where(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.round(F.col("o_totalprice") * 0.9, 2),
            ).otherwise(F.col("o_totalprice")),
        )
        .drop("o_orderdate")
    )
    return diff_snapshots(old, new, ["o_orderkey"]).orderBy("o_orderkey")


def q93_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement (corpus.
    weighted_sample, Efraimidis-Spirakis A-ES over the engine-portable
    rolling hash): 50 documents, inclusion odds ∝ n_chars.  Plans as
    TakeOrderedAndProject — per-partition top-k, no shuffle."""
    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return C.weighted_sample(docs, "n_chars", k=50, seed=42).orderBy("doc_id")


def q94_zorder_layout(spark, sf):
    """Morton (Z-order) clustering key (spatial.zorder_key): 16-bit
    interleave of quantized (c_acctbal, c_custkey mod 997) — the
    data-layout primitive behind bbox row-group pruning.  Top 50 keys;
    pure integer/IEEE arithmetic, bit-exact across engines."""
    from eodatadown_spark.spatial import zorder_key

    cust = _t(spark, sf, "customer")
    z = zorder_key(
        F.col("c_acctbal"),
        (F.col("c_custkey") % 997).cast("double"),
        bits=16,
        x_range=(-1000.0, 10000.0),
        y_range=(0.0, 1000.0),
    )
    return (
        cust.select("c_custkey", z.alias("zkey"))
        .orderBy(F.col("zkey").desc(), "c_custkey")
        .limit(50)
    )


def q95_event_gaps(spark, sf):
    """Per-user timeline gap detection (temporal.detect_gaps): silences
    strictly longer than 24h between consecutive events — the ingest-outage
    monitoring shape.  One lag window keyed on user_id."""
    from eodatadown_spark.operators.temporal import detect_gaps

    ev = _t(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    gaps = detect_gaps(ev, ["user_id"], "ts", min_gap_seconds=86400.0)
    return gaps.select(
        "user_id",
        F.round(F.col("gap_start").cast("double"), 6).alias("gap_start_epoch"),
        F.round(F.col("gap_end").cast("double"), 6).alias("gap_end_epoch"),
        "gap_seconds",
    )


def q96_sole_late_supplier(spark, sf):
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    multi-supplier finished order ("late" = shipped >90 days after the
    order date).  The double-correlated EXISTS / NOT EXISTS pair becomes a
    semi-join (another supplier exists on the order) + anti-join (no OTHER
    supplier late) with an equi key plus inequality residual — both hash
    joins, no cartesian."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.datediff("l_shipdate", "o_orderdate") > 90)
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    # EXISTS: some other supplier shipped on the same order
    other = li.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    ).alias("l2")
    has_other = l1.join(
        other,
        (F.col("l1.l_orderkey") == F.col("l2.o_k"))
        & (F.col("l1.l_suppkey") != F.col("l2.o_s")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was late on that order
    other_late = late.select(
        F.col("l_orderkey").alias("ol_k"), F.col("l_suppkey").alias("ol_s")
    ).alias("l3")
    sole = has_other.join(
        other_late,
        (F.col("l1.l_orderkey") == F.col("l3.ol_k"))
        & (F.col("l1.l_suppkey") != F.col("l3.ol_s")),
        "left_anti",
    )
    supp = _t(spark, sf, "supplier")
    # canonical Q21 grain is s_name (join BEFORE the aggregate): suppkey
    # grain coincides at 1:1 name↔key data but diverges when names repeat
    # — exactly what the sf1.0 scaled dims exposed (generator duplicates
    # names across shifted keys); grouping by name also makes the
    # (numwait desc, s_name) order total at any scale
    return (
        sole.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


def q97_incremental_rollup(spark, sf):
    """Incremental materialized-aggregate maintenance (operators/merge.
    maintain_rollup): the rollup is built from pre-1997 orders, then the
    1997+ delta folds in WITHOUT rescanning the base — the oracle
    re-aggregates the whole table, so the hash-match proves incremental ==
    full recompute."""
    from eodatadown_spark.operators.merge import maintain_rollup

    orders = _t(spark, sf, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").alias("yr"),
        "o_totalprice",
    )
    cut = F.col("yr") < 1997
    # the summed money column rides as DECIMAL end-to-end: decimal addition
    # is exact and associative, so base-rollup + delta-merge equals full
    # re-aggregation BIT-FOR-BIT regardless of fold order — a double sum's
    # (t + s) association differs from the oracle's full re-scan and can
    # flip round(., 2) at an ulp boundary.  min/max are order-insensitive
    # and stay double.
    money = F.col("o_totalprice").cast("decimal(18,2)")
    spec = {
        "total": (money, "sum"),
        "lo": ("o_totalprice", "min"),
        "hi": ("o_totalprice", "max"),
    }
    base_rollup = orders.where(cut).groupBy("o_orderstatus", "yr").agg(
        F.sum(money).alias("total"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    next_rollup = maintain_rollup(
        base_rollup, orders.where(~cut), ["o_orderstatus", "yr"], spec
    )
    return next_rollup.select(
        "o_orderstatus",
        "yr",
        # exact decimal → double only at the presentation edge (both
        # engines cast the same exact decimal to the same nearest double)
        F.col("total").cast("double").alias("total"),
        F.round("lo", 2).alias("lo"),
        F.round("hi", 2).alias("hi"),
        "n",
    )


def q98_volume_shipping(spark, sf):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    ship year — a fact⋈fact⋈two-dim-chain join where both nation lookups
    broadcast and the OR-of-pairs predicate prunes before the aggregate."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    a, b = "NATION_3", "NATION_8"
    df = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nat.withColumnRenamed("n_name", "supp_nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(nat.withColumnRenamed("n_name", "cust_nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .where(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
    )
    return (
        df.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q99_market_share(spark, sf):
    """TPC-H Q8 shape: one nation's supplier revenue share inside one
    region's customer orders, per order year — conditional-sum ratio over
    the same broadcast dim chain as q98."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region")
    asia_nations = nat.join(
        F.broadcast(reg.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        df.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_8", rev).otherwise(F.lit(0.0))),
                2,
            ).alias("nation_rev"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
        )
    )


def q100_sales_opportunity(spark, sf):
    """TPC-H Q22 shape: well-funded customers (balance above the positive-
    balance average, a scalar subquery) with no orders since 2000
    (anti-join on a filtered fact), tallied per nation."""
    cust = _t(spark, sf, "customer")
    orders = (
        _t(spark, sf, "orders")
        .where(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select("o_custkey")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = cust.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("ab"))
    never_ordered = rich.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        never_ordered.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q101_cdc_dup_stats(spark, sf):
    """Content-defined chunking dedup profile (dedup.cdc_dup_stats):
    rolling-hash boundaries → chunk fingerprints → per-doc shared-chunk
    counts.  Shift-robust (an inserted paragraph moves offsets but not the
    other chunks' fingerprints); the oracle recomputes the chunking with
    SQL list ops."""
    from eodatadown_spark.operators.dedup import cdc_dup_stats

    docs = _t(spark, sf, "documents")
    return cdc_dup_stats(docs, window=8, divisor=64)


def q102_table_profile(spark, sf):
    """One-pass per-column data-quality profile (reports.profile_columns):
    rows/nulls/exact-distincts/min/max for four document columns in a
    single aggregate scan."""
    from eodatadown_spark.reports import profile_columns

    docs = _t(spark, sf, "documents")
    return profile_columns(docs, ["doc_id", "lang", "source", "n_chars"])


def q103_knn_label_vote(spark, sf):
    """k-NN majority-vote labeling (similarity.knn_label_vote): 20 query
    vectors classified by their 5 exact cosine neighbors' labels, ties by
    summed similarity then label."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.knn_label_vote(emb, qs, k=5)


def q104_balanced_sample(spark, sf):
    """Balanced per-source weighted sampling (corpus.weighted_sample_by_
    group): 10 docs per source, odds ∝ n_chars within each source — one
    keyed window, no global sort."""
    docs = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return C.weighted_sample_by_group(
        docs, "n_chars", 10, "source", seed=42
    ).orderBy("source", "doc_id")


def q105_source_mix(spark, sf):
    """Token-budget source mixing (corpus.mix_sources): per-source doc
    selection in portable-hash order until each source's size budget is
    spent — the training-mix recipe step, fully value-oracled."""
    docs = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return C.mix_sources(
        docs, {"src0": 3000, "src1": 2000, "src2": 1000}, seed=42
    ).orderBy("doc_id")


def q106_split_leakage_gate(spark, sf):
    """Leakage soundness gate: near-dup-aware split (corpus.assign_split_
    clustered over dedup.neardup_clusters) must put every near-dup pair in
    ONE split — returns the violating pairs, empty iff sound.  The oracle
    recomputes clusters (recursive CTE), the cluster-keyed rolling-hash
    split, and the same check; pytest covers the planted-dup positive
    case."""
    from eodatadown_spark.operators.corpus import (
        assign_split_clustered,
        split_leakage_gate,
    )
    from eodatadown_spark.operators.dedup import jaccard_prefix_pairs, neardup_clusters

    docs = _t(spark, sf, "documents")
    # prefix-filtered exact pairs — identical set, q131/q152-proven
    pairs = jaccard_prefix_pairs(docs, threshold=0.5)
    clusters = neardup_clusters(docs, pairs=pairs)
    split = assign_split_clustered(docs, clusters).select("doc_id", "split")
    # exhaustive posture, reusing the pair frame already computed to BUILD
    # the split (the gate would otherwise rescan all pairs — clusters'
    # iterative checkpoints break lineage, so Catalyst can't dedupe the two
    # subtrees); per-batch pipelines use mode="bounded" instead
    return split_leakage_gate(docs, split, threshold=0.5, pairs=pairs)


def incremental_phases() -> dict[str, tuple[Callable, Callable]]:
    """Build/probe split of the stored-index queries (VERDICT r8 item 3):
    ``{name: (build, probe)}`` where ``build(spark, sf) -> state`` constructs
    and MATERIALIZES the persistent index/cluster state (the one-time — or
    amortized-over-every-batch — cost) and ``probe(spark, sf, state) ->
    DataFrame`` runs one incoming batch against it.  The probe half is the
    per-batch cost a continuous-ingest user actually pays; the fused query
    fns above exist so the oracle can check one plan end-to-end.  bench.py
    times the halves separately into ``queries_incremental_split``.

    The split mirrors the fused queries exactly — same operators, same
    parameters, same batch definitions — so probe+build ≈ the fused number
    and a regression localizes to a phase.  The bodies are DELIBERATE
    duplicates of the fused fns (delegating would add the split's pinning
    to the fused queries' oracle-checked plans); the drift gate is
    tests/test_round9_hardening.py::TestIncrementalPhaseSplit, which pins
    probe(build()) row-equal to every fused query.
    """
    from eodatadown_spark.operators.dedup import (
        minhash_band_index,
        minhash_neardup_against_index,
        shingle_hash_table,
    )
    from eodatadown_spark.operators.multimodal import (
        phash_index,
        phash_neardup_against_index,
    )

    def _phash_frames(spark, sf):
        docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
        rp = F.rpad(F.substring("text", 1, 1024), 1024, " ")
        corpus = docs.select(
            F.col("doc_id").alias("media_id"), rp.cast("binary").alias("payload")
        )
        reups = docs.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000).alias("media_id"),
            rp.cast("binary").alias("payload"),
        )
        noisy = docs.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2000).alias("media_id"),
            F.concat(
                F.substring(rp, 1, 16), F.lit("~"), F.substring(rp, 18, 1007)
            ).cast("binary").alias("payload"),
        )
        return corpus, reups.unionByName(noisy)

    def phash_build(spark, sf):
        corpus, _batch = _phash_frames(spark, sf)
        return {"index": phash_index(corpus, n_bands=3).localCheckpoint()}

    def phash_probe(spark, sf, state):
        _corpus, batch = _phash_frames(spark, sf)
        return phash_neardup_against_index(
            batch, state["index"], radius=2, n_bands=3
        )

    def minhash_build(spark, sf):
        old = _t(spark, sf, "documents").where(F.col("doc_id") % 10 != 0)
        return {
            "index": minhash_band_index(old).localCheckpoint(),
            "fps": shingle_hash_table(old).localCheckpoint(),
        }

    def minhash_probe(spark, sf, state):
        new = _t(spark, sf, "documents").where(F.col("doc_id") % 10 == 0)
        return minhash_neardup_against_index(
            new, state["index"], state["fps"], jaccard_threshold=0.5
        )

    def simhash_build(spark, sf):
        old = _t(spark, sf, "documents").where(F.col("doc_id") % 10 != 0)
        return {
            "index": D.simhash_band_index(old, band_bits=6).localCheckpoint()
        }

    def simhash_probe(spark, sf, state):
        new = _t(spark, sf, "documents").where(F.col("doc_id") % 10 == 0)
        return D.simhash_neardup_against_index(
            new, state["index"], max_hamming=8, band_bits=6
        )

    def ivf_build(spark, sf):
        emb = _t(spark, sf, "embeddings")
        cents = emb.where(F.col("vec_id") < 8).localCheckpoint()
        return {
            "cents": cents,
            "lists": S.ivf_build_lists(emb, cents).localCheckpoint(),
        }

    def ivf_probe(spark, sf, state):
        emb = _t(spark, sf, "embeddings")
        qs = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return S.ivf_topk_against_index(
            state["lists"], state["cents"], qs, k=3, n_probe=2
        ).select("query_id", "neighbor_id", "rank")

    def clusters_build(spark, sf):
        # same pin chain as the fused q150 entry (r13 `4befdde`, applied
        # here in r14): fps comes back from jaccard_prefix_index ALREADY
        # pinned, so re-pinning it was a pure extra materialization job,
        # and pinning freq FIRST keeps the prefix pin from re-running the
        # freq aggregate inside its own job — relations identical by
        # construction (`_prefix_rows(fps, freq)` is exactly how
        # jaccard_prefix_index builds prefix)
        docs = _t(spark, sf, "documents")
        prefix, freq, fps = D.jaccard_prefix_index(docs, threshold=0.5)
        freq = freq.localCheckpoint()
        prefix = D._prefix_rows(fps, freq, threshold=0.5).localCheckpoint()
        old_pairs = D.jaccard_prefix_self_pairs(prefix, fps, threshold=0.5)
        return {
            "prefix": prefix,
            "freq": freq,
            "fps": fps,
            "old_assign": D.neardup_clusters(
                docs, pairs=old_pairs, threshold=0.5
            ).localCheckpoint(),
        }

    def clusters_probe(spark, sf, state):
        # Per-batch cost as q150 implements it (round 10): batch-only
        # shingling ranked under the index's frozen order, batch prefix
        # vs STORED prefix equi-join, candidate-only fingerprint fetches,
        # touched-component fold — the union-corpus prefix-pair pass that
        # dominated this probe through round 9 is gone.
        docs = _t(spark, sf, "documents")
        new = docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        new_pairs = D.jaccard_prefix_against_index(
            new, state["prefix"], state["freq"], state["fps"], threshold=0.5
        )
        updated = D.update_clusters(
            state["old_assign"], new_pairs, new_docs=new.select("doc_id")
        )
        return (
            updated.withColumn(
                "n_members",
                F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
            )
            .where(F.col("n_members") > 1)
            .select("doc_id", "cluster_id", "is_canonical", "n_members")
        )

    def stored_clusters_build(spark, sf):
        from eodatadown_spark.operators.dedup import minhash_neardup_pairs

        docs = _t(spark, sf, "documents")
        old = docs.where(F.col("doc_id") % 10 != 0)
        return {
            "old_assign": D.neardup_clusters(
                old,
                pairs=minhash_neardup_pairs(old, jaccard_threshold=0.5).select(
                    "id_a", "id_b"
                ),
            ).localCheckpoint(),
            "index": minhash_band_index(old).localCheckpoint(),
            "fps": shingle_hash_table(old).localCheckpoint(),
        }

    def stored_clusters_probe(spark, sf, state):
        # q156 = the apply_neardup_batch composition: batch pairs from the
        # STORED index (collision-bounded, batch-only shingling — q150's
        # union-corpus pair pass eliminated), touched-component fold
        docs = _t(spark, sf, "documents")
        new = docs.where(F.col("doc_id") % 10 == 0)
        new_pairs = minhash_neardup_against_index(
            new, state["index"], state["fps"], jaccard_threshold=0.5
        )
        updated = D.update_clusters(
            state["old_assign"],
            new_pairs.select("id_a", "id_b"),
            new_docs=new.select("doc_id"),
        )
        return (
            updated.withColumn(
                "n_members",
                F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
            )
            .where(F.col("n_members") > 1)
            .select("doc_id", "cluster_id", "is_canonical", "n_members")
        )

    def classifier_build(spark, sf):
        # train-once half: 8 GD aggregation passes over the pinned feature
        # table; the returned weights are the persistent artifact (what the
        # classify CLI writes as JSON)
        from eodatadown_spark.operators.classify import (
            hashed_features,
            train_quality_classifier,
        )
        from eodatadown_spark.operators.dedup import _pin
        from eodatadown_spark.operators.text import language_guess

        docs = _t(spark, sf, "documents")
        feat = _pin(hashed_features(
            docs, 64, label=language_guess(F.col("text")) == "en", binary=True
        ))
        return train_quality_classifier(
            docs, label=language_guess(F.col("text")) == "en",
            n_features=64, iters=8, lr=12.0, binary=True, features=feat,
        )

    def classifier_probe(spark, sf, weights):
        # steady-state half: score a fresh corpus with stored weights —
        # one feature-extraction shuffle + a literal-weight projection
        from eodatadown_spark.operators.classify import score_documents

        return score_documents(
            _t(spark, sf, "documents"), weights, binary=True
        )

    def span_index_build(spark, sf):
        # persistent half: (wh, cnt, n_docs) window-hash counts over the
        # corpus split — the artifact a catalog stores per generation
        docs = _t(spark, sf, "documents")
        return D._pin(
            D.span_hash_index(
                docs.where(F.pmod(F.col("doc_id"), F.lit(10)) < 9), window=8
            )
        )

    def span_index_probe(spark, sf, index):
        docs = _t(spark, sf, "documents")
        return D.duplicated_spans_against_index(
            docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 9),
            index,
            window=8,
        )

    def sparse_classifier_build(spark, sf):
        # the sparse-path training (explode+groupBy gradient, O(1)-in-d
        # plan) timed as ONE training — the bench's only sparse training,
        # so the build metric reads the per-training cost honestly
        # (VERDICT r10 item 4: no fused re-training per timing sample)
        from eodatadown_spark.operators.classify import (
            hashed_feature_sets,
            train_quality_classifier_sparse,
        )
        from eodatadown_spark.operators.dedup import _pin
        from eodatadown_spark.operators.text import language_guess

        docs = _t(spark, sf, "documents")
        feat = _pin(hashed_feature_sets(
            docs, 64, label=language_guess(F.col("text")) == "en"
        ))
        return train_quality_classifier_sparse(
            docs, label=language_guess(F.col("text")) == "en",
            n_features=64, iters=8, lr=12.0, features=feat,
        )

    def sparse_classifier_probe(spark, sf, weights):
        # same thresholded projection as the fused q170 entry (the split
        # probe must row-equal the fused query — test_round9_hardening)
        from eodatadown_spark.operators.classify import score_documents_sparse

        scored = score_documents_sparse(_t(spark, sf, "documents"), weights)
        return scored.select(
            "doc_id", "n_tokens", (F.col("prob") >= F.lit(0.5)).alias("pred")
        )

    return {
        "q117_incremental_minhash": (minhash_build, minhash_probe),
        "q149_incremental_phash": (phash_build, phash_probe),
        "q150_incremental_clusters": (clusters_build, clusters_probe),
        "q153_ivf_stored_probe": (ivf_build, ivf_probe),
        "q154_incremental_simhash": (simhash_build, simhash_probe),
        "q156_clusters_via_stored_index": (
            stored_clusters_build, stored_clusters_probe,
        ),
        "q167_quality_classifier": (classifier_build, classifier_probe),
        "q170_sparse_classifier": (
            sparse_classifier_build, sparse_classifier_probe,
        ),
        "q181_span_index_probe": (span_index_build, span_index_probe),
    }


# Every module-level ``q<N>_`` function is a registry entry under its own
# name, in definition order: defining one registers it.
_ALL_QUERIES: dict[str, Callable] = {
    name: fn for name, fn in globals().items()
    if re.match(r"q\d+_", name) and callable(fn)
}

_R14_WINDOW = [
    # VERDICT r13 item 8 — rotation-by-staleness continues (the standing
    # policy since r11): the 50 stalest entries by last driver-green
    # round, exactly as tools/window_age.py emits them — the 6-entry r09
    # lead cohort the r13 verdict named (q84/q86/q90/q91/q93/q95), the
    # full 32-entry r10 cohort, and the 12 oldest of r11 to fill 50.
    # With these green the staleness floor moves from r09 to r10-minus
    # (only r11-checked entries older than this window remain).
    # Displaced entries all have driver-green rows in earlier windows
    # (no driver row has ever regressed) and still run in the local
    # differential (tools/check_correctness.py covers all 184).
    "q84_shipping_priority", "q86_price_quartiles",
    "q90_daily_reconciliation", "q91_merge_upsert", "q93_weighted_sample",
    "q95_event_gaps", "q100_sales_opportunity", "q101_cdc_dup_stats",
    "q110_cohort_retention", "q112_daily_anomaly", "q114_zipf_slope",
    "q115_small_qty_revenue", "q116_top_supplier", "q118_langid_eval",
    "q119_shot_boundaries", "q123_disjunctive_filter", "q124_nation_share",
    "q125_late_order_priority", "q127_time_to_conversion",
    "q129_winsorized_stats", "q132_promo_revenue", "q133_asof_forward",
    "q135_volume_trend", "q136_robust_anomaly", "q137_gapfilled_counts",
    "q138_custdist", "q140_asof_nearest", "q141_wow_revenue",
    "q142_rfm_segments", "q143_ordered_string_agg", "q144_grouped_corr",
    "q157_bpe_encode", "q176_containment_pairs", "q72_variant_props",
    "q85_large_volume_orders", "q88_above_average_orders",
    "q98_volume_shipping", "q99_market_share", "q02_date_range_page",
    "q103_knn_label_vote", "q107_semantic_dedup", "q108_rrf_fusion",
    "q117_incremental_minhash", "q134_mmr_rerank", "q13_summary_stats",
    "q145_sketch_rollup", "q146_lsh_multiprobe", "q149_incremental_phash",
    "q150_incremental_clusters", "q151_sq8_topk",
]


# window entries first (the driver checks the leading 50), then the rest —
# same total registry, pure reordering
QUERIES: dict[str, Callable] = {
    **{n: _ALL_QUERIES[n] for n in _R14_WINDOW},
    **{n: f for n, f in _ALL_QUERIES.items() if n not in set(_R14_WINDOW)},
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from eodatadown_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    return q10_revenue_by_nation(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def _hyperplane_bucket_sql(vec_expr: str, n_planes: int, dim: int, seed: int = 42) -> str:
    """DuckDB expression reproducing operators/similarity.hyperplane_bucket
    exactly: the planes are deterministic Python-side literals, so they can be
    inlined into the oracle SQL and evaluated with list_dot_product."""
    from eodatadown_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _lsh_dots_sql(vec_expr: str, n_planes: int, dim: int, seed: int = 42) -> str:
    """DuckDB list expression of the query's per-plane dot products against
    the SAME deterministic hyperplane literals the engine uses — the raw
    material the q146 oracle needs for both the base bucket and the
    multiprobe margin sort."""
    from eodatadown_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    return "[" + ", ".join(
        f"list_dot_product({vec_expr}, "
        + "[" + ", ".join(repr(x) for x in p) + "])"
        for p in planes
    ) + "]"


def _phash_table_sql() -> str:
    """VALUES rows (u, i, w) of the engine's integer DCT cosine table
    (multimodal._dct_table — the single source of truth), inlined into the
    q139 oracle so DuckDB recomputes the identical integer DCT."""
    from eodatadown_spark.operators.multimodal import _dct_table

    return ", ".join(
        f"({u}, {i}, {w})"
        for u, row in enumerate(_dct_table())
        for i, w in enumerate(row)
    )


def _zorder_sql(bits: int = 16) -> str:
    """DuckDB twin of q94: quantize (c_acctbal, c_custkey mod 997) to
    ``bits`` bits each and interleave — generated as explicit shift/mask
    terms so the SQL is pure integer arithmetic, bit-identical to
    spatial.zorder_key."""
    n = 1 << bits
    qx = (
        f"least(greatest(CAST(floor((c_acctbal - (-1000.0)) / 11000.0 * {n}.0)"
        f" AS BIGINT), 0), {n - 1})"
    )
    qy = (
        f"least(greatest(CAST(floor((CAST(c_custkey % 997 AS DOUBLE) - 0.0)"
        f" / 1000.0 * {n}.0) AS BIGINT), 0), {n - 1})"
    )
    terms = []
    for i in range(bits):
        terms.append(f"((qx >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((qy >> {i}) & 1) * {1 << (2 * i + 1)}")
    z = " + ".join(terms)
    return f"""
        WITH q AS (
            SELECT c_custkey, {qx} AS qx, {qy} AS qy FROM customer
        )
        SELECT c_custkey, ({z}) AS zkey
        FROM q
        ORDER BY zkey DESC, c_custkey LIMIT 50
    """


def _bpe_syms_sql(merges: list[tuple[str, str]], word_expr: str = "w") -> str:
    """DuckDB expression applying the ordered BPE merge chain to a word:
    each rule is a left-to-right fold over the current symbol list that
    concatenates x onto acc when acc's LAST symbol is the rule's left and
    x its right — equivalent to the engine's boundary-anchored
    regexp_replace pass (RE2 in DuckDB has no lookahead, so the fold IS
    the faithful replay; symbols are whitespace-free, making the
    last-symbol check a plain suffix test)."""
    import re as _re

    for left, right in merges:
        # symbols are interpolated into SQL string literals and LIKE
        # patterns UNESCAPED — restrict to a provably-safe alphabet
        # (the engine side re.escape()s, so an unguarded quote/%/_ here
        # would silently diverge the two replays instead of erroring)
        if not (_re.fullmatch(r"[a-z0-9]+", left)
                and _re.fullmatch(r"[a-z0-9]+", right)):
            raise ValueError(
                f"oracle merge symbols must be [a-z0-9]+: {(left, right)!r}"
            )
    expr = f"array_to_string(string_split({word_expr}, ''), ' ')"
    for left, right in merges:
        expr = (
            "list_reduce(string_split(" + expr + ", ' '), (acc, x) -> "
            f"CASE WHEN (acc = '{left}' OR acc LIKE '% {left}') AND x = '{right}' "
            f"THEN acc || '{right}' ELSE acc || ' ' || x END)"
        )
    return expr


def _bpe_train_ctes_sql(k: int) -> str:
    """DuckDB CTE chain unrolling ``k`` BPE training iterations over a
    ``w0(w, wc, syms)`` word-frequency table: each step picks the most
    frequent adjacent symbol pair (ties lexicographic — train_bpe's exact
    ORDER BY n DESC, l, r) in a scalar CTE ``p{i}``, then rewrites every
    word's symbol string with the last-symbol/next-symbol list_reduce fold
    (the lookahead-free equivalent of the engine's boundary-anchored
    regexp pass; see _bpe_syms_sql).  The learned pair is never
    interpolated into SQL text — it flows through the cross join — so
    arbitrary corpus symbols are safe."""
    parts = []
    for i in range(1, k + 1):
        parts.append(f"""
        p{i} AS (
            SELECT l, r FROM (
                SELECT parts[j] AS l, parts[j + 1] AS r, sum(wc) AS n
                FROM (
                    SELECT parts, wc,
                           unnest(range(1, len(parts))) AS j
                    FROM (SELECT string_split(syms, ' ') AS parts, wc
                          FROM w{i - 1})
                ) GROUP BY 1, 2
            ) ORDER BY n DESC, l ASC, r ASC LIMIT 1
        ), w{i} AS (
            SELECT w, wc,
                   list_reduce(string_split(syms, ' '), (acc, x) ->
                       CASE WHEN x = p{i}.r
                                 AND string_split(acc, ' ')[-1] = p{i}.l
                            THEN acc || p{i}.r
                            ELSE acc || ' ' || x END) AS syms
            FROM w{i - 1}, p{i}
        )""")
    return ",".join(parts)


def _gd_ctes_sql(d: int, iters: int, lr: float) -> str:
    """DuckDB CTE chain unrolling ``iters`` full-batch logistic-regression
    gradient-descent steps over a ``feat(doc_id, y, n, x0..x{d-1})`` table
    starting from the all-zero weight CTE ``w0(wb, w0..w{d-1})`` — the
    exact replay of classify.train_quality_classifier's per-iteration
    aggregate (g = avg((σ(w·x+b) − y)·x), w ← w − lr·g).  Weights flow
    between steps through cross joins of 1-row CTEs, never through
    interpolated text, so the replay is pure SQL arithmetic."""
    xs = ", ".join(f"x{j}" for j in range(d))
    dot = " + ".join(f"w{j} * x{j}" for j in range(d))
    parts = []
    for i in range(1, iters + 1):
        gs = ",\n                   ".join(
            f"avg((p - y) * x{j}) AS g{j}" for j in range(d)
        )
        ws = ",\n                   ".join(
            f"w{j} - {lr} * g{j} AS w{j}" for j in range(d)
        )
        # MATERIALIZED is load-bearing: without it DuckDB textually
        # inlines each w{i} into every reference, and the chain re-expands
        # exponentially (the same compile blowup Janino hit on the PQ LUT)
        parts.append(f"""
        g{i} AS MATERIALIZED (
            SELECT avg(p - y) AS gb,
                   {gs}
            FROM (SELECT y, {xs},
                         1 / (1 + exp(-(wb + {dot}))) AS p
                  FROM feat CROSS JOIN w{i - 1})
        ), w{i} AS MATERIALIZED (
            SELECT wb - {lr} * gb AS wb,
                   {ws}
            FROM w{i - 1} CROSS JOIN g{i}
        )""")
    return ",".join(parts)


# shared classifier-oracle hyperparameters (q167 scoring / q169 eval) —
# must mirror the registry queries' train_quality_classifier call exactly
_QC_D, _QC_IT, _QC_LR = 64, 8, 12.0


def _qc_train_chain_sql() -> str:
    """The full WITH-chain both classifier oracles share: canonical
    tokenizer + the q21 stopword-rule label, portable rolling-hash
    bucketing mod ``_QC_D``, the binary-presence feature pivot
    (MATERIALIZED — referenced by every GD step), the zero-weight CTE, and
    ``_QC_IT`` unrolled GD steps ending at ``w{_QC_IT}``."""
    return f"""WITH toks AS (
            SELECT doc_id,
                   CASE WHEN len(list_filter(t, s -> s IN
                            ('the','a','of','and','to','in','is','it'))) >= 1
                        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE)
                   END AS y,
                   unnest(t) AS token
            FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), x -> x <> '') AS t
                FROM documents
            )
        ), hb AS (
            SELECT doc_id, y,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(
                               string_split(regexp_replace(
                                   token, '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743) % {_QC_D} AS b
            FROM toks
        ), feat AS MATERIALIZED (
            SELECT doc_id, max(y) AS y, count(*) AS n,
                   {', '.join(
                       f"max(CASE WHEN b = {j} THEN CAST(1 AS DOUBLE)"
                       f" ELSE CAST(0 AS DOUBLE) END) AS x{j}"
                       for j in range(_QC_D))}
            FROM hb GROUP BY doc_id
        ), w0 AS (
            SELECT CAST(0 AS DOUBLE) AS wb,
                   {', '.join(f'CAST(0 AS DOUBLE) AS w{j}'
                              for j in range(_QC_D))}
        ), {_gd_ctes_sql(_QC_D, _QC_IT, _QC_LR)}"""


def oracle_sql() -> dict[str, str]:

    """DuckDB-runnable ANSI SQL twins — EVERY query has one.

    q24/q28 (Jaccard dedup) are recomputed at the string level; q35/q36/q49
    reproduce the hyperplane/IVF paths exactly by inlining deterministic
    literals; q25's md5-based SimHash sketch is rebuilt bit-by-bit (banding
    is provably lossless at band_bits=6, see simhash_neardup_pairs); q50's
    connected components come from a recursive CTE."""
    b35 = _hyperplane_bucket_sql("embedding", n_planes=6, dim=64)
    sql = {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 2) AS avg_qty,
                   round(avg(l_extendedprice), 2) AS avg_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_date_range_page": """
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
            FROM (
                SELECT *, row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders
                WHERE o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
                  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            ) WHERE rn BETWEEN 11 AND 30
        """,
        # q178: the keyset page must equal the OFFSET page under the same
        # total order — the oracle uses row numbering precisely because the
        # engine does NOT, pinning the two pagination forms' equivalence
        "q178_keyset_page": """
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
            FROM (
                SELECT *, row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders
                WHERE o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
                  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            ) WHERE rn BETWEEN 21 AND 40
        """,
        "q03_bbox_overlap": """
            SELECT c_nationkey, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
            FROM customer
            WHERE c_acctbal > 1000.0 AND 9000.0 > c_acctbal
              AND c_nationkey > 2 AND 20 > c_nationkey
            GROUP BY c_nationkey
        """,
        "q04_watermark_incremental": """
            SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >
                  date_trunc('day', (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 7 DAY)
            GROUP BY event_type
        """,
        "q05_inlist_month": """
            SELECT l_returnflag, CAST(month(l_shipdate) AS INTEGER) AS ship_month,
                   count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE l_returnflag IN ('A', 'R')
              AND month(l_shipdate) IN (1, 2, 3)
              AND l_discount <= 0.05
            GROUP BY 1, 2
        """,
        "q06_dup_detect": """
            SELECT o_custkey, count(*) AS n
            FROM orders GROUP BY o_custkey HAVING count(*) > 1
        """,
        "q07_keep_latest": """
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "q08_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "q09_semi_join": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """,
        "q10_revenue_by_nation": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "q11_distinct_values": """
            SELECT DISTINCT o_orderpriority FROM orders
        """,
        "q12_distinct_dates": """
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS obs_date
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "q13_summary_stats": """
            SELECT count(o_totalprice) AS n,
                   round(sum(o_totalprice), 2) AS total,
                   round(avg(o_totalprice), 2) AS mean,
                   round(min(o_totalprice), 2) AS min,
                   round(max(o_totalprice), 2) AS max,
                   round(stddev_samp(o_totalprice), 2) AS stdev,
                   round(quantile_cont(o_totalprice, 0.25), 2) AS q1,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS median,
                   round(quantile_cont(o_totalprice, 0.75), 2) AS q3
            FROM orders WHERE o_totalprice IS NOT NULL
        """,
        "q14_union_distinct": """
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
            UNION
            SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        """,
        "q15_derived_columns": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(month(o_orderdate) AS INTEGER) AS o_month,
                   strftime(o_orderdate, '%Y%m%d') AS o_ymd,
                   split_part(o_orderpriority, '-', 1) AS prio_code,
                   lower(o_orderstatus) AS status_lc
            FROM orders
        """,
        "q16_count_date_range": """
            SELECT count(*) AS n_scenes FROM orders
            WHERE o_orderdate <= TIMESTAMP '1998-12-31 00:00:00'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_totalprice > 100000
        """,
        "q17_obs_date_rollup": """
            SELECT event_type, CAST(ts AS DATE) AS obs_date,
                   count(*) AS n, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "q18_json_filter": """
            SELECT event_type, count(*) AS n,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
            FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
            GROUP BY event_type
        """,
        "q19_exact_dedup": """
            SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
            FROM documents
        """,
        "q20_text_profile": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))), 4) AS avg_tokens,
                   round(avg(CAST(len(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
                             / len(text)), 4) AS avg_punct_ratio,
                   round(avg(len(text)), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "q21_langid": """
            SELECT CASE WHEN len(list_filter(
                       regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                       t -> t IN ('the','a','of','and','to','in','is','it'))) >= 1
                   THEN 'en' ELSE 'other' END AS lang_guess,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "q22_fingerprint": """
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS n_unique_fp
            FROM documents GROUP BY source
        """,
        "q172_hard_negatives": """
            SELECT query_id, neighbor_id, neighbor_label,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       c.label AS neighbor_label,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(
                               q.embedding, c.embedding) DESC,
                                    c.vec_id ASC) AS rank
                FROM embeddings q JOIN embeddings c
                  ON q.label <> c.label AND q.vec_id <> c.vec_id
                WHERE q.vec_id < 10
            ) WHERE rank <= 5
        """,
        "q23_cosine_topk": """
            SELECT query_id, neighbor_id, rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                    c.vec_id ASC) AS rank
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
            ) WHERE rank <= 3
        """,
        "q26_window_rollup": """
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
                   event_type, count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q27_top1_watermark": """
            SELECT CAST(max(o_orderdate) AS DATE) AS wm_date,
                   max(o_orderkey) AS max_pid
            FROM orders
        """,
        "q29_sessionize": """
            WITH gaps AS (
                SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
                       epoch(CAST(ts AS TIMESTAMP))
                       - lag(epoch(CAST(ts AS TIMESTAMP))) OVER (
                             PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
                FROM events
            ), sess AS (
                SELECT user_id,
                       sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY tsx, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
                FROM gaps
            ), per_sess AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM sess GROUP BY 1, 2
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events
            FROM per_sess GROUP BY user_id
        """,
        "q30_running_total": """
            WITH monthly AS (
                SELECT o_orderstatus,
                       CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                       sum(o_totalprice) AS mrev
                FROM orders GROUP BY 1, 2
            )
            SELECT o_orderstatus, month,
                   round(sum(mrev) OVER (PARTITION BY o_orderstatus ORDER BY month
                                         ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue
            FROM monthly
        """,
        "q31_topk_per_group": """
            SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                FROM orders
            ) WHERE rank <= 3
        """,
        "q32_pivot": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f
            FROM lineitem GROUP BY l_returnflag
        """,
        "q33_asof_prior_event": """
            SELECT event_id, user_id, ts, prior_signup_ts FROM (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
                       max(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
                           OVER (PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS prior_signup_ts
                FROM events
            ) WHERE event_type = 'purchase'
        """,
        "q34_quality_filter": """
            WITH m AS (
                SELECT doc_id,
                       len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS n_tok,
                       CAST(len(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS DOUBLE)
                           / len(text) AS pr,
                       len(list_filter(regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                                       t -> t IN ('the','a','of','and','to','in','is','it'))) AS hits
                FROM documents
            )
            SELECT doc_id,
                   round(((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN hits >= 1 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
            FROM m
            WHERE ((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN hits >= 1 THEN 1.0 ELSE 0.0 END)) / 3.0 >= 0.99
        """,
        "q37_cube_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "q38_having": """
            SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
            HAVING round(sum(o_totalprice), 2) > 1000000
        """,
        "q39_top_unshipped": """
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        # q25: the md5-derived 60-bit sketch rebuilt bit-by-bit; banding is
        # provably lossless (10 bands > max_hamming=8), so exact all-pairs
        # hamming IS the Spark output.
        "q154_incremental_simhash": """
            WITH sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(
                           CASE WHEN len(toks) >= 2
                                THEN list_transform(range(1, len(toks)),
                                         i -> array_to_string(toks[i:i+1], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       )) AS g
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), h AS (
                SELECT id,
                       CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
                FROM sh
            ), bits AS (
                SELECT id, j,
                       sum(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1
                                THEN 1 ELSE -1 END) AS s
                FROM h, range(60) t(j)
                GROUP BY id, j
            ), sk AS (
                SELECT id,
                       sum(CASE WHEN s >= 0
                                THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                                ELSE 0 END) AS sim
                FROM bits GROUP BY id
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
            FROM sk a JOIN sk b ON a.id < b.id
            WHERE bit_count(xor(a.sim, b.sim)) <= 8
              AND (a.id % 10 = 0 OR b.id % 10 = 0)
        """,
        # q154 note: identical sketch recompute as q25, filtered to pairs
        # with a new (doc_id % 10 = 0) endpoint — the incremental contract
        "q25_simhash_neardup": """
            WITH sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(
                           CASE WHEN len(toks) >= 2
                                THEN list_transform(range(1, len(toks)),
                                         i -> array_to_string(toks[i:i+1], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       )) AS g
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), h AS (
                SELECT id,
                       CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
                FROM sh
            ), bits AS (
                SELECT id, j,
                       sum(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1
                                THEN 1 ELSE -1 END) AS s
                FROM h, range(60) t(j)
                GROUP BY id, j
            ), sk AS (
                SELECT id,
                       sum(CASE WHEN s >= 0
                                THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                                ELSE 0 END) AS sim
                FROM bits GROUP BY id
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
            FROM sk a JOIN sk b ON a.id < b.id
            WHERE bit_count(xor(a.sim, b.sim)) <= 8
        """,
        # q24: the LSH banding is an accelerator, not a semantics change —
        # with the 62-bit verification hashes the returned (pair, jaccard)
        # set equals the exact string-level word-3-shingle Jaccard pairs at
        # the threshold.  Equality relies on the corpus's similarity gap:
        # miss odds per pair are (1-j^4)^8 — ~2e-4 at the weakest real pair
        # (j=0.9) and negligible above, while no pairs sit near the 0.5
        # threshold where banding recall would be the binding constraint.
        # Both sides are deterministic on this fixed seed-42 corpus.
        "q24_minhash_neardup": """
            WITH sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                           / len(list_distinct(list_cat(a.shingles, b.shingles)))
                           AS j
                FROM sh a JOIN sh b ON a.id < b.id
            )
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.5
        """,
        # q28: exact n-gram Jaccard is fully SQL-expressible — recompute the
        # word 3-shingle sets (same trim/lower/split semantics as
        # operators/dedup.py word_shingles) and pair-join with list algebra.
        # n² pair join is fine at oracle scale (sf0.01 = 500 docs).
        "q28_ngram_jaccard": """
            WITH sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                           / len(list_distinct(list_cat(a.shingles, b.shingles)))
                           AS j
                FROM sh a JOIN sh b ON a.id < b.id
            )
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.5
        """,
        # q40: the stub decoder (operators/multimodal.py _fake_decode) maps
        # payload -> payload[0]/255.0 as feature[0]; payload is utf-8 text
        # (ASCII corpus), so f0 = ascii(first char)/255 and
        # payload_bytes = strlen(text).
        "q40_multimodal_features": """
            SELECT doc_id AS media_id,
                   strlen(text) AS payload_bytes,
                   round(ascii(substr(text, 1, 1)) / 255.0, 4) AS f0
            FROM documents WHERE doc_id < 50
        """,
        "q41_bpe_token_count": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text,
                       ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))) AS BIGINT)
                       AS total_bpe_tokens,
                   round(avg(len(regexp_extract_all(text,
                       ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))), 4) AS avg_bpe_tokens
            FROM documents GROUP BY lang
        """,
        "q42_rolling_fingerprint": """
            WITH fp AS (
                SELECT source,
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               list_filter(
                                   string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ''),
                                   ch -> ch <> ''),
                               ch -> CAST(ord(ch) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 2038074743) AS f
                FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT f) AS n_unique_fp, max(f) AS max_fp
            FROM fp GROUP BY source
        """,
        # q35/q36: exact reproduction of the hyperplane-LSH path — bucket
        # literals are inlined, candidates are same-bucket pairs, cosine via
        # list_cosine_similarity (values rounded to 4 for q35; q36 projects
        # rank only, mirroring q23).  The pair vectors are cast to DOUBLE[]
        # BEFORE the cosine: DuckDB evaluates list_cosine_similarity on
        # FLOAT[] in float32, and at sf1.0 pair volumes (~240k kept pairs)
        # some float32-vs-double cosines land on opposite sides of a 4dp
        # rounding boundary — Spark folds in double, so the oracle must too.
        "q35_embedding_neardup": f"""
            WITH b AS (
                SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
                       {b35} AS bucket
                FROM embeddings
            )
            SELECT DISTINCT a.id AS id_a, c.id AS id_b,
                   round(CAST(list_cosine_similarity(a.v, c.v) AS DOUBLE), 4)
                       AS cos_sim
            FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
            WHERE list_cosine_similarity(a.v, c.v) >= 0.4
        """,
        # q147: the KLL gate's sound months carry the month's EXACT median
        # (interpolated, the q13 percentile convention) — the oracle
        # recomputes every exact median; a sketch violation would drop a
        # month row and break rows_match
        "q147_quantile_sketch_rollup": """
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   round(quantile_cont(o_totalprice, 0.5), 3) AS exact_median
            FROM orders GROUP BY 1
        """,
        # q148: exact INTERSECT/EXCEPT/UNION distinct-customer counts —
        # the theta gate's sound labels must reproduce them exactly
        "q148_theta_setops": """
            WITH a AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE year(o_orderdate) = 1995),
                 b AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE year(o_orderdate) = 1996)
            SELECT 'difference' AS label,
                   (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS exact_count
            UNION ALL
            SELECT 'intersection',
                   (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
            UNION ALL
            SELECT 'union',
                   (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
        """,
        # q146: multiprobe LSH — dots against the inlined plane literals,
        # base bucket from signs, probe set = base plus xor-flips of the
        # two lowest-|margin| bits (margin sort tie-breaks by plane index,
        # same as the engine's array_sort over (m, i) structs); candidates
        # ranked by exact cosine.  A corpus vector sits in ONE bucket and a
        # query's probe buckets are pairwise distinct, so the join is
        # already duplicate-free.
        "q146_lsh_multiprobe": f"""
            WITH base AS (
                SELECT vec_id AS id, embedding AS v,
                       {_lsh_dots_sql("embedding", 6, 64)} AS dots
                FROM embeddings
            ), b AS (
                SELECT id, v, dots,
                       ({" + ".join(f"(CASE WHEN dots[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(6))})::BIGINT AS bucket
                FROM base
            ), probes AS (
                SELECT id, v,
                       unnest(list_prepend(bucket,
                           list_transform(
                               list_sort(list_transform(range(1, 7),
                                   i -> {{'m': abs(dots[i]), 'i': i - 1}}
                               ))[1:2],
                               s -> xor(bucket, CAST(2 ** (s.i) AS BIGINT))
                           ))) AS bucket
                FROM b WHERE id < 5
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT p.id AS query_id, c.id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY p.id
                           ORDER BY list_cosine_similarity(p.v, c.v) DESC,
                                    c.id ASC) AS rank
                FROM probes p JOIN b c ON p.bucket = c.bucket
                 AND c.id <> p.id
            ) WHERE rank <= 3
        """,
        # q151: SQ8 scalar quantization replayed relationally end-to-end —
        # per-dim min/max train, floor(x+0.5) integer encode (bit-exact
        # cross-engine), dequantize, shortlist by dequantized cosine, exact
        # rerank.  Ranks only in the output (q23 float convention); the
        # integer codes and the dequantized doubles are IDENTICAL in both
        # engines, so shortlist membership cannot drift.
        "q151_sq8_topk": """
            WITH dims AS (
                SELECT pos,
                       CAST(min(v) AS DOUBLE) AS mn,
                       CASE WHEN max(v) > min(v)
                            THEN (CAST(max(v) AS DOUBLE) - CAST(min(v) AS DOUBLE)) / 255.0
                            ELSE 1.0 END AS st
                FROM (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS pos
                      FROM embeddings)
                GROUP BY pos
            ), sc AS (
                SELECT list(mn ORDER BY pos) AS mins,
                       list(st ORDER BY pos) AS steps
                FROM dims
            ), deq AS (
                SELECT vec_id, embedding,
                       list_transform(embedding, (x, i) ->
                           mins[i] + CAST(LEAST(255, GREATEST(0,
                               CAST(FLOOR((CAST(x AS DOUBLE) - mins[i]) / steps[i] + 0.5) AS INTEGER)
                           )) AS DOUBLE) * steps[i]) AS dv
                FROM embeddings, sc
            ), short AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       q.embedding AS qemb, c.embedding AS cemb,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding, c.dv) DESC,
                                    c.vec_id ASC) AS srank
                FROM embeddings q, deq c
                WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY list_cosine_similarity(qemb, cemb) DESC,
                                    neighbor_id ASC) AS rank
                FROM short WHERE srank <= 25
            ) WHERE rank <= 3
        """,
        "q36_lsh_topk": f"""
            WITH b AS (
                SELECT vec_id AS id, embedding AS v, {b35} AS bucket
                FROM embeddings
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT q.id AS query_id, c.id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.id
                           ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                    c.id ASC) AS rank
                FROM b q JOIN b c ON q.bucket = c.bucket AND c.id <> q.id
                WHERE q.id < 5
            ) WHERE rank <= 3
        """,
        # q43: SimHash soundness — the Spark side anti-joins its pairs against
        # the exact loose-Jaccard set, so any unsound pair becomes a row and
        # breaks the empty-set equality below.
        "q43_simhash_soundness": """
            SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
            WHERE false
        """,
        # q44: TF-IDF recomputed from scratch; the window orders by the
        # ROUNDED score in both engines so libm last-ulp noise can't flip
        # ranks (ties by token ascending).
        "q44_tfidf_keywords": """
            WITH toks AS (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                        '\\s+'),
                    t -> t <> '')) AS token
                FROM documents WHERE doc_id < 20
            ), tf AS (
                SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
            ), df AS (
                SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
            ), n AS (
                SELECT count(*) AS n FROM documents WHERE doc_id < 20
            )
            SELECT doc_id, token, score, rank FROM (
                SELECT tf.doc_id, tf.token,
                       round(tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df.df + 1))
                                      + 1.0), 4) AS score,
                       row_number() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY round(tf.tf *
                               (ln(CAST(n.n + 1 AS DOUBLE) / (df.df + 1))
                                + 1.0), 4) DESC, tf.token ASC) AS rank
                FROM tf JOIN df USING (token) CROSS JOIN n
            ) WHERE rank <= 3
        """,
        # q45: split bucket = rolling hash of the decimal doc_id string mod
        # 100 (q42's list_reduce pattern) — a pure function of doc_id, so any
        # engine reproduces the assignment.
        "q45_hash_split": """
            WITH b AS (
                SELECT list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               list_filter(
                                   string_split(CAST(doc_id AS VARCHAR), ''),
                                   ch -> ch <> ''),
                               ch -> CAST(ord(ch) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 2038074743) % 100
                           AS bucket,
                       CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = ''
                            THEN 0
                            ELSE len(regexp_split_to_array(
                                regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                '\\s+')) END AS n_tokens
                FROM documents
            )
            SELECT CASE WHEN bucket < 90 THEN 'train'
                        WHEN bucket < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM b GROUP BY 1
        """,
        # q46: word-2-gram distinct fraction, bucketed ×10 (q24's list-slice
        # shingle pattern with k=2).
        "q46_repetition_ratio": """
            WITH g AS (
                SELECT source,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(range(1, len(toks)),
                                     i -> array_to_string(toks[i:i+1], ' '))
                            ELSE [array_to_string(toks, ' ')] END AS grams
                FROM (
                    SELECT source,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            )
            SELECT source,
                   CAST(floor(round(CAST(len(list_distinct(grams)) AS DOUBLE)
                                    / len(grams), 4) * 10) AS BIGINT) AS rep_bucket,
                   count(*) AS n_docs
            FROM g GROUP BY 1, 2
        """,
        # q47: identical RE2-safe patterns; counts via regexp_extract_all,
        # rewrite checked end-to-end through the md5 of the redacted text.
        "q47_pii_redaction": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                        '\\+?[0-9][0-9]{2}[-. ][0-9]{3}[-. ][0-9]{4}'))
                        AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                        '[EMAIL]', 'g'),
                        '\\+?[0-9][0-9]{2}[-. ][0-9]{3}[-. ][0-9]{4}',
                        '[PHONE]', 'g')) AS redacted_fp
            FROM documents WHERE doc_id < 50
        """,
        # q48: identical window cumsum (exact BIGINT arithmetic) → bin ids.
        "q48_sequence_packing": """
            WITH t AS (
                SELECT doc_id, lang,
                       CAST(CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = ''
                            THEN 0
                            ELSE len(regexp_split_to_array(
                                regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                '\\s+')) END AS BIGINT) AS n_tokens
                FROM documents
            ), p AS (
                SELECT lang AS "group", n_tokens,
                       CAST(floor(CAST(sum(n_tokens) OVER (
                               PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tokens AS DOUBLE) / 512) AS BIGINT) AS bin_id
                FROM t
            )
            SELECT "group", bin_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
            FROM p GROUP BY 1, 2
        """,
        # q49: IVF reproduced end-to-end — same seed codebook (vec_id < 8),
        # same nearest-cell assignment and 2-probe candidate generation, rank
        # by cosine within candidates.
        "q153_ivf_stored_probe": """
            WITH cent AS (
                SELECT vec_id AS cell, embedding AS cv
                FROM embeddings WHERE vec_id < 8
            ), asn AS (
                SELECT id, cell FROM (
                    SELECT e.vec_id AS id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding, c.cv)
                                        DESC, c.cell ASC) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ), probes AS (
                SELECT id AS query_id, cell FROM (
                    SELECT e.vec_id AS id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding, c.cv)
                                        DESC, c.cell ASC) AS rn
                    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5
                ) WHERE rn <= 2
            ), cand AS (
                SELECT DISTINCT p.query_id, a.id AS neighbor_id
                FROM probes p JOIN asn a ON a.cell = p.cell
                WHERE a.id <> p.query_id
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT c.query_id, c.neighbor_id,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY list_cosine_similarity(q.embedding, e.embedding)
                                    DESC, c.neighbor_id ASC) AS rank
                FROM cand c
                JOIN embeddings q ON q.vec_id = c.query_id
                JOIN embeddings e ON e.vec_id = c.neighbor_id
            ) WHERE rank <= 3
        """,
        # q153 note: stored-lists probe == corpus-side IVF, same relational
        # recompute as q49 (the lists ARE the rn=1 assignment rows)
        "q49_ivf_topk": """
            WITH cent AS (
                SELECT vec_id AS cell, embedding AS cv
                FROM embeddings WHERE vec_id < 8
            ), asn AS (
                SELECT id, cell FROM (
                    SELECT e.vec_id AS id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding, c.cv)
                                        DESC, c.cell ASC) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ), probes AS (
                SELECT id AS query_id, cell FROM (
                    SELECT e.vec_id AS id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding, c.cv)
                                        DESC, c.cell ASC) AS rn
                    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5
                ) WHERE rn <= 2
            ), cand AS (
                SELECT DISTINCT p.query_id, a.id AS neighbor_id
                FROM probes p JOIN asn a ON a.cell = p.cell
                WHERE a.id <> p.query_id
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT c.query_id, c.neighbor_id,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY list_cosine_similarity(q.embedding, e.embedding)
                                    DESC, c.neighbor_id ASC) AS rank
                FROM cand c
                JOIN embeddings q ON q.vec_id = c.query_id
                JOIN embeddings e ON e.vec_id = c.neighbor_id
            ) WHERE rank <= 3
        """,
        # q50: connected components over the exact-Jaccard pair graph via a
        # recursive CTE (min reachable id ≡ the min-label fixed point the
        # Spark propagation loop converges to).
        # q150: FULL recompute over the old ∪ new corpus — the incremental
        # star-edge update must hash-match it exactly (labels are min-ids)
        "q150_incremental_clusters": """
            WITH RECURSIVE m AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000, text FROM documents
                WHERE doc_id % 7 = 0
            ), sh AS (
                SELECT id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM m
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(list_cat(a.shingles, b.shingles))) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT id, id FROM m
                UNION
                SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ), comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
            ), sizes AS (
                SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1
            )
            SELECT comp.doc_id, comp.cluster_id,
                   comp.doc_id = comp.cluster_id AS is_canonical,
                   sizes.n_members
            FROM comp JOIN sizes USING (cluster_id)
            WHERE sizes.n_members > 1
        """,
        "q50_neardup_clusters": """
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(list_cat(a.shingles, b.shingles))) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ), comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
            ), sizes AS (
                SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1
            )
            SELECT comp.doc_id, comp.cluster_id,
                   comp.doc_id = comp.cluster_id AS is_canonical,
                   sizes.n_members
            FROM comp JOIN sizes USING (cluster_id)
            WHERE sizes.n_members > 1
        """,
        # q52: frame stride recomputed with range(0, n_frames, 10); n_frames
        # >= 1 by construction so Spark's sequence(0, n-1, 10) and DuckDB's
        # half-open range agree.
        "q52_frame_sample": """
            WITH v AS (
                SELECT doc_id AS media_id,
                       strlen(text) % 120 + 1 AS n_frames
                FROM documents
                WHERE doc_id < 100 AND doc_id % 3 = 0
            ), f AS (
                SELECT media_id, unnest(range(0, n_frames, 10)) AS frame_idx
                FROM v
            )
            SELECT media_id, count(*) AS n_sampled,
                   CAST(max(frame_idx) AS INT) AS last_frame
            FROM f GROUP BY media_id
        """,
        # q53: 5-gram contamination — same shingle CTE shape as q24/q28 with
        # k=5 slices, split into corpus (>=25) and benchmark (<25) sides.
        "q53_contamination": """
            WITH sh AS (
                SELECT doc_id,
                       unnest(list_distinct(
                           CASE WHEN len(toks) >= 5
                                THEN list_transform(range(1, len(toks) - 3),
                                         i -> array_to_string(toks[i:i+4], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       )) AS sh
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            )
            SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
                   CAST(count(DISTINCT c.sh) AS BIGINT) AS n_shared
            FROM sh c JOIN sh b ON c.sh = b.sh
            WHERE c.doc_id >= 25 AND b.doc_id < 25
            GROUP BY 1, 2
        """,
        # q51: the facade count — same derived scene frame, F1 inclusive
        # date range + F8 valid flag + F7 strict bbox overlap, one count.
        "q51_date_bbox_count": """
            SELECT count(*) AS n_scenes FROM (
                SELECT o_orderdate,
                       o_orderkey % 97 = 0 AS invalid,
                       CAST(o_custkey % 360 - 180 AS DOUBLE) AS west_lon,
                       CAST(o_custkey % 360 - 178 AS DOUBLE) AS east_lon,
                       CAST(o_orderkey % 170 - 85 AS DOUBLE) AS south_lat,
                       CAST(o_orderkey % 170 - 83 AS DOUBLE) AS north_lat
                FROM orders
            )
            WHERE o_orderdate <= TIMESTAMP '1998-12-31 00:00:00'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND NOT invalid
              AND east_lon > -20.0 AND 20.0 > west_lon
              AND north_lat > -30.0 AND 30.0 > south_lat
        """,
        # q54: corpus unigram LM — same token CTE as q44, counts joined back
        # on token, per-doc avg of -ln(cnt/total) rounded to 4.
        "q54_unigram_lm": """
            WITH toks AS (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                        '\\s+'),
                    t -> t <> '')) AS token
                FROM documents
            ), counts AS (
                SELECT token, count(*) AS cnt FROM toks GROUP BY 1
            ), total AS (
                SELECT count(*) AS total FROM toks
            )
            SELECT doc_id,
                   round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 4) AS nll,
                   count(*) AS n_tokens
            FROM toks JOIN counts USING (token) CROSS JOIN total
            GROUP BY doc_id
        """,
        # q55: per-stratum keep = rolling-hash bucket (q45's list_reduce
        # pattern) below the stratum's threshold.
        "q55_stratified_sample": """
            WITH b AS (
                SELECT lang, list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               list_filter(
                                   string_split(CAST(doc_id AS VARCHAR), ''),
                                   ch -> ch <> ''),
                               ch -> CAST(ord(ch) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 2038074743) % 100
                           AS bucket
                FROM documents
            )
            SELECT lang, count(*) AS n_kept
            FROM b
            WHERE bucket < CASE lang WHEN 'en' THEN 30
                                     WHEN 'zh' THEN 50
                                     WHEN 'de' THEN 100
                                     ELSE 0 END
            GROUP BY 1
        """,
        # q56: floor(log2(n_chars)) buckets over positive lengths.
        "q56_length_histogram": """
            SELECT CAST(floor(log2(n_chars)) AS BIGINT) AS len_bucket,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents WHERE n_chars > 0
            GROUP BY 1
        """,
        # q57: per-language token counts + top-5 window; count desc, token
        # asc tie-break matches the Spark window exactly.
        "q57_topk_tokens": """
            WITH toks AS (
                SELECT lang AS "group", unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                        '\\s+'),
                    t -> t <> '')) AS token
                FROM documents
            ), c AS (
                SELECT "group", token, count(*) AS n FROM toks GROUP BY 1, 2
            )
            SELECT "group", token, n, rank FROM (
                SELECT "group", token, n,
                       row_number() OVER (PARTITION BY "group"
                                          ORDER BY n DESC, token ASC) AS rank
                FROM c
            ) WHERE rank <= 5
        """,
        # q58: per-label centroid via (label, pos) avg over unnested dims,
        # member Euclidean distances re-joined on (label, pos).
        "q58_centroid_distances": """
            WITH dims AS (
                SELECT vec_id, label,
                       generate_subscripts(embedding, 1) AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM embeddings
            ), cent AS (
                SELECT label, pos, avg(val) AS cval FROM dims GROUP BY 1, 2
            ), sq AS (
                SELECT vec_id, dims.label,
                       sqrt(sum((val - cval) * (val - cval))) AS dist
                FROM dims JOIN cent USING (label, pos)
                GROUP BY 1, 2
            )
            SELECT label, count(*) AS n_vecs,
                   round(avg(dist), 4) AS avg_dist,
                   round(max(dist), 4) AS max_dist
            FROM sq GROUP BY 1
        """,
        # q59: as-of via correlated max-subquery (inclusive <=), NULL when
        # no prior signup exists — DuckDB decorrelates into a join.
        "q59_asof_join": """
            SELECT e.event_id, e.user_id,
                   CAST(e.ts AS TIMESTAMP) AS ts,
                   (SELECT max(CAST(s.ts AS TIMESTAMP)) FROM events s
                    WHERE s.event_type = 'signup'
                      AND s.user_id = e.user_id
                      AND s.ts <= e.ts) AS signup_ts
            FROM events e
            WHERE e.event_type = 'purchase'
        """,
        # q60: KL(p_lang || p_corpus) over the shared token CTE; corpus
        # counts derived from the (lang, token) counts as in the engine.
        "q60_kl_divergence": """
            WITH toks AS (
                SELECT lang AS "group", unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                        '\\s+'),
                    t -> t <> '')) AS token
                FROM documents
            ), gt AS (
                SELECT "group", token, count(*) AS n_gt FROM toks GROUP BY 1, 2
            ), g_tot AS (
                SELECT "group", sum(n_gt) AS g_total FROM gt GROUP BY 1
            ), ct AS (
                SELECT token, sum(n_gt) AS n_ct FROM gt GROUP BY 1
            ), c_tot AS (
                SELECT sum(n_ct) AS c_total FROM ct
            )
            SELECT gt."group",
                   CAST(sum(n_gt) AS BIGINT) AS n_tokens,
                   round(sum((CAST(n_gt AS DOUBLE) / g_total)
                             * ln((CAST(n_gt AS DOUBLE) / g_total)
                                  / (CAST(n_ct AS DOUBLE) / c_total))), 4) AS kl
            FROM gt
            JOIN g_tot USING ("group")
            JOIN ct USING (token)
            CROSS JOIN c_tot
            GROUP BY 1
        """,
        # q61: exact interval self-join — the engine's bucketed candidates +
        # exact filter must equal the plain theta join.
        "q61_range_join": """
            SELECT a.user_id,
                   a.event_id AS event_id_a,
                   b.event_id AS event_id_b,
                   round(epoch(CAST(b.ts AS TIMESTAMP))
                         - epoch(CAST(a.ts AS TIMESTAMP)), 6) AS gap_s
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND epoch(CAST(b.ts AS TIMESTAMP))
                 - epoch(CAST(a.ts AS TIMESTAMP)) > 0
             AND epoch(CAST(b.ts AS TIMESTAMP))
                 - epoch(CAST(a.ts AS TIMESTAMP)) <= 600
        """,
        # q62: q29's lag+cumsum sessionization — session_window's boundary
        # rule is the SAME strict > (equal-gap merges; pinned at ±1 µs in
        # tests), so the native operator must reproduce q29's oracle exactly.
        "q62_session_window": """
            WITH gaps AS (
                SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
                       epoch(CAST(ts AS TIMESTAMP))
                       - lag(epoch(CAST(ts AS TIMESTAMP))) OVER (
                             PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
                FROM events
            ), sess AS (
                SELECT user_id,
                       sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY tsx, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
                FROM gaps
            ), per_sess AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM sess GROUP BY 1, 2
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events
            FROM per_sess GROUP BY user_id
        """,
        # q63: rate = sqrt(nmin/n) (IEEE-exact), membership = rolling-hash
        # bucket % 10000 strictly below rate*10000 (q45's hash pattern).
        "q63_temperature_resample": """
            WITH counts AS (
                SELECT lang, count(*) AS n FROM documents GROUP BY 1
            ), nmin AS (
                SELECT min(n) AS nmin FROM counts
            ), rates AS (
                SELECT lang, n AS n_orig,
                       sqrt(CAST(nmin AS DOUBLE) / n) AS rate
                FROM counts CROSS JOIN nmin
            ), b AS (
                SELECT lang, list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               list_filter(
                                   string_split(CAST(doc_id AS VARCHAR), ''),
                                   ch -> ch <> ''),
                               ch -> CAST(ord(ch) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 2038074743) % 10000
                           AS bucket
                FROM documents
            )
            SELECT b.lang, rates.n_orig, count(*) AS n_kept
            FROM b JOIN rates USING (lang)
            WHERE bucket < rate * 10000
            GROUP BY 1, 2
        """,
        # q64: q54's unigram nll + per-lang percent_rank over
        # (rounded nll, doc_id) — the id tie-break makes the 50% cut exact.
        "q64_perplexity_prune": """
            WITH toks AS (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                        '\\s+'),
                    t -> t <> '')) AS token
                FROM documents
            ), counts AS (
                SELECT token, count(*) AS cnt FROM toks GROUP BY 1
            ), total AS (
                SELECT count(*) AS total FROM toks
            ), scored AS (
                SELECT doc_id,
                       round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 4) AS nll,
                       count(*) AS n_tokens
                FROM toks JOIN counts USING (token) CROSS JOIN total
                GROUP BY doc_id
            ), ranked AS (
                SELECT s.doc_id, d.lang, s.nll, s.n_tokens,
                       percent_rank() OVER (PARTITION BY d.lang
                                            ORDER BY s.nll ASC, s.doc_id ASC) AS pr
                FROM scored s JOIN documents d USING (doc_id)
            )
            SELECT doc_id, lang, nll, n_tokens FROM ranked WHERE pr <= 0.5
        """,
        # q65: parallel-unnest bigram/head pairs (q46's slice pattern), MLE
        # conditional surprisal; docs with < 2 tokens have no bigrams.
        "q65_bigram_lm": """
            WITH toksrc AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), t -> t <> '') AS toks
                FROM documents
            ), bg AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))) AS bg,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i])) AS head
                FROM toksrc WHERE len(toks) >= 2
            ), tf AS (
                SELECT doc_id, bg, head, count(*) AS tf FROM bg GROUP BY 1, 2, 3
            ), c2 AS (
                SELECT bg, sum(tf) AS c2 FROM tf GROUP BY 1
            ), c1 AS (
                SELECT head, sum(tf) AS c1 FROM tf GROUP BY 1
            )
            SELECT doc_id,
                   round(sum(tf * -ln(CAST(c2 AS DOUBLE) / c1)) / sum(tf), 4)
                       AS bnll,
                   CAST(sum(tf) AS BIGINT) AS n_bigrams
            FROM tf JOIN c2 USING (bg) JOIN c1 USING (head)
            GROUP BY doc_id
        """,
        # q66: same fingerprint normalization as the engine, INCLUDING the
        # empty-normalization fallback (docs whose alnum-normalization strips
        # empty — non-Latin scripts — fingerprint as md5(raw text)); batch
        # anti-joins the corpus fingerprint set, then keeps the min-id row
        # per raw-text hash within the batch.
        "q66_incremental_dedup": """
            WITH corpus AS (
                SELECT md5(CASE WHEN regexp_replace(lower(text), '[^a-z0-9]', '', 'g') <> ''
                                THEN regexp_replace(lower(text), '[^a-z0-9]', '', 'g')
                                ELSE text END) AS fp
                FROM documents WHERE doc_id < 250
            ), batch AS (
                SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
                UNION ALL
                SELECT doc_id + 1000 AS doc_id, lang, text FROM documents
                WHERE doc_id < 25
            ), fresh AS (
                SELECT b.* FROM batch b
                WHERE md5(CASE WHEN regexp_replace(lower(b.text), '[^a-z0-9]', '', 'g') <> ''
                               THEN regexp_replace(lower(b.text), '[^a-z0-9]', '', 'g')
                               ELSE b.text END)
                      NOT IN (SELECT fp FROM corpus)
            )
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id ASC) AS rn
                FROM fresh
            ) WHERE rn = 1
        """,
        # q67: chunk i = tokens[i*24+1 .. i*24+32] (inclusive DuckDB slice),
        # i in [0, ceil(n/24)); md5 of the re-joined chunk checks the text.
        "q67_chunking": """
            WITH toksrc AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), t -> t <> '') AS toks
                FROM documents
            ), ch AS (
                SELECT doc_id,
                       unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT)))
                           AS chunk_id,
                       toks
                FROM toksrc WHERE len(toks) > 0
            )
            SELECT doc_id, chunk_id,
                   md5(array_to_string(
                       toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' '))
                       AS chunk_md5,
                   CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32])
                        AS INTEGER) AS n_chunk_tokens
            FROM ch
        """,
        # q68: the stub embedder's rolling hash recomputed per dimension
        # (q45's list_reduce pattern over `text || ':' || d`); dim_sum is a
        # SEQUENTIAL list_reduce so the fold order matches Spark's
        # F.aggregate exactly.
        "q68_embed_plumbing": """
            WITH e AS (
                SELECT doc_id,
                       list_transform(range(0, 16), d ->
                           CAST(list_reduce(
                               list_prepend(CAST(0 AS BIGINT), list_transform(
                                   string_split(coalesce(text, '') || ':'
                                                || CAST(d AS VARCHAR), ''),
                                   ch -> CAST(ord(ch) AS BIGINT))),
                               (acc, c) -> (acc * 31 + c) % 2038074743) % 10000
                               AS DOUBLE) / 10000.0
                       ) AS emb
                FROM documents WHERE doc_id < 100
            )
            SELECT doc_id,
                   round(CAST(CAST(emb[1] AS FLOAT) AS DOUBLE), 4) AS e0,
                   round(CAST(CAST(emb[16] AS FLOAT) AS DOUBLE), 4) AS e15,
                   round(list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(emb,
                               v -> CAST(CAST(v AS FLOAT) AS DOUBLE))),
                       (a, b) -> a + b), 4) AS dim_sum
            FROM e
        """,
        # q69: ROLLUP with GROUPING_ID — DuckDB's grouping_id() matches
        # Spark's bit order for the same column list.
        "q69_rollup_grouping": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price,
                   CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                       AS gid
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        # q70: ntile/cume_dist/lead under the identical (balance, key)
        # ordering.
        "q70_dist_windows": """
            SELECT c_custkey, c_mktsegment,
                   CAST(ntile(4) OVER w AS INTEGER) AS bal_quartile,
                   round(cume_dist() OVER w, 6) AS cd,
                   lead(c_custkey, 1) OVER w AS next_custkey
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal ASC, c_custkey ASC)
        """,
        # q71: DuckDB's NATIVE ASOF LEFT JOIN as the oracle — independent
        # implementation of the same backward-inclusive semantics, value
        # column carried from the matched row.
        "q71_asof_value_carry": """
            WITH p AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE event_type = 'purchase'
            ), s AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       max(value) AS value
                FROM events WHERE event_type = 'signup'
                GROUP BY 1, 2
            )
            SELECT p.event_id, p.user_id, p.ts,
                   s.ts AS signup_ts,
                   round(s.value, 2) AS signup_value
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND p.ts >= s.ts
        """,
        # q72: DuckDB json_extract as the independent JSON engine; the
        # variant/classic mismatch counter must be 0 everywhere.
        "q72_variant_props": """
            SELECT event_type,
                   count(CAST(json_extract(props, '$.k') AS BIGINT))
                       AS n_with_k,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4)
                       AS avg_k,
                   CAST(0 AS BIGINT) AS variant_classic_mismatches
            FROM events
            GROUP BY 1
        """,
        # q73: DuckDB UNPIVOT — same wide projection, same long shape.
        "q73_unpivot": """
            SELECT p_partkey, metric, value FROM (
                SELECT p_partkey,
                       CAST(p_size AS DOUBLE) AS p_size,
                       p_retailprice
                FROM part
            ) UNPIVOT (value FOR metric IN (p_size, p_retailprice))
        """,
        # q74: the map is an implementation detail — the oracle recomputes
        # the projected scalars with conditional counts.
        "q74_map_ops": """
            SELECT user_id,
                   CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                       AS n_clicks,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS n_purchases
            FROM events
            GROUP BY 1
        """,
        # q75/q76: empty-set soundness gates (q43 pattern) — the oracle
        # asserts the same empty schema; any sketch-out-of-bounds row on the
        # Spark side breaks the match.
        "q75_hll_soundness": """
            SELECT CAST(NULL AS BIGINT) AS c_nationkey,
                   CAST(NULL AS BIGINT) AS exact,
                   CAST(NULL AS BIGINT) AS approx
            WHERE FALSE
        """,
        "q76_approx_quantile_soundness": """
            SELECT CAST(NULL AS VARCHAR) AS o_orderstatus,
                   CAST(NULL AS DOUBLE) AS exact_med,
                   CAST(NULL AS DOUBLE) AS approx_med
            WHERE FALSE
        """,
        # q80: soundness gate — empty iff PQ recall@3 >= 2/3 for all probes
        "q80_pq_recall_soundness": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS n_overlap
            WHERE FALSE
        """,
        # q89: RANGE-frame window on epoch seconds (ties are peers on both
        # engines)
        "q89_trailing_range_window": """
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 4) AS trail_sum,
                   count(*) OVER w AS trail_n
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        """,
        # q90: full-outer day reconciliation with zero fill
        "q90_daily_reconciliation": """
            WITH o AS (
                SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
                FROM orders GROUP BY 1
            ), e AS (
                SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
                FROM events GROUP BY 1
            )
            SELECT COALESCE(o.d, e.d) AS d,
                   COALESCE(n_orders, 0) AS n_orders,
                   COALESCE(n_events, 0) AS n_events
            FROM o FULL OUTER JOIN e ON o.d = e.d
        """,
        # q91: ANSI MERGE expressed as full-outer + CASE routing — matched
        # rows with spend > 3M delete, matched update acctbal += spend,
        # source-only keys insert with segment 'NEW'
        "q91_merge_upsert": """
            WITH t AS (
                SELECT c_custkey, c_acctbal, c_mktsegment
                FROM customer WHERE c_custkey < 100
            ), s AS (
                SELECT o_custkey AS c_custkey,
                       round(sum(o_totalprice), 2) AS spend
                FROM orders GROUP BY 1
            ), j AS (
                SELECT COALESCE(t.c_custkey, s.c_custkey) AS k,
                       t.c_custkey IS NOT NULL AS in_t,
                       s.c_custkey IS NOT NULL AS in_s,
                       t.c_acctbal, t.c_mktsegment, s.spend
                FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
            )
            SELECT k AS c_custkey,
                   CASE WHEN in_t AND in_s THEN round(c_acctbal + spend, 2)
                        WHEN in_t THEN c_acctbal
                        ELSE spend END AS c_acctbal,
                   CASE WHEN in_t THEN c_mktsegment
                        ELSE 'NEW' END AS c_mktsegment
            FROM j
            WHERE NOT (in_t AND in_s AND spend > 3000000)
            ORDER BY 1
        """,
        # q92: CDC diff between two order snapshots — the engine's
        # null-safe struct compare is IS DISTINCT FROM per column here
        "q92_snapshot_diff": """
            WITH o AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders
                WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            ), n AS (
                SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 10 = 0
                            THEN round(o_totalprice * 0.9, 2)
                            ELSE o_totalprice END AS o_totalprice
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            ), j AS (
                SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                       o.o_orderkey IS NOT NULL AS in_o,
                       n.o_orderkey IS NOT NULL AS in_n,
                       o.o_orderstatus AS os, o.o_totalprice AS op,
                       n.o_orderstatus AS ns, n.o_totalprice AS np
                FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            )
            SELECT k AS o_orderkey,
                   CASE WHEN NOT in_o THEN 'insert'
                        WHEN NOT in_n THEN 'delete'
                        ELSE 'update' END AS change_type
            FROM j
            WHERE (NOT in_o) OR (NOT in_n)
               OR (os IS DISTINCT FROM ns) OR (op IS DISTINCT FROM np)
            ORDER BY 1
        """,
        # q93: A-ES weighted sample — u from the engine-portable rolling
        # hash of '<doc_id> 42' (base 31 mod 2038074743, q42/q45's fold),
        # rank by ln(u)/w, top 50.  ln() is IEEE double in both engines;
        # key spacing ~1/n dwarfs any last-ulp library difference.
        "q93_weighted_sample": """
            WITH keyed AS (
                SELECT doc_id, n_chars,
                       ln((list_reduce(
                               list_prepend(CAST(0 AS BIGINT), list_transform(
                                   list_filter(
                                       string_split(CAST(doc_id AS VARCHAR) || ' 42', ''),
                                       ch -> ch <> ''),
                                   ch -> CAST(ord(ch) AS BIGINT))),
                               (acc, c) -> (acc * 31 + c) % 2038074743)
                            % 1048576 + 0.5) / 1048576.0)
                       / CAST(n_chars AS DOUBLE) AS aes_key
                FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, n_chars
            FROM keyed ORDER BY aes_key DESC, doc_id LIMIT 50
        """,
        # q94: generated bit-interleave SQL (see _zorder_sql) — exact
        # integer arithmetic, no library calls
        "q94_zorder_layout": _zorder_sql(),
        # q96: TPC-H Q21 shape — the correlated EXISTS / NOT EXISTS pair
        # runs as literal subqueries here, as semi/anti hash joins in Spark
        "q96_sole_late_supplier": """
            WITH late AS (
                SELECT l_orderkey, l_suppkey
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
                  AND date_diff('day', o_orderdate, l_shipdate) > 90
            )
            SELECT s_name, count(*) AS numwait
            FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE EXISTS (
                    SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                    SELECT 1 FROM late l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name LIMIT 25
        """,
        # q97: the oracle re-aggregates the WHOLE table — hash-match proves
        # the engine's base-rollup + delta-merge path equals full recompute
        "q97_incremental_rollup": """
            SELECT o_orderstatus,
                   CAST(year(o_orderdate) AS INTEGER) AS yr,
                   -- DECIMAL sum (exact, association-independent) cast to
                   -- double at the edge, mirroring the engine's decimal
                   -- rollup column
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi,
                   count(*) AS n
            FROM orders
            GROUP BY 1, 2
        """,
        # q98-q100: TPC-H Q7/Q8/Q22 shapes
        "q98_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 2) AS revenue
            FROM (
                SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                       CAST(year(l_shipdate) AS INTEGER) AS l_year,
                       l_extendedprice * (1 - l_discount) AS volume
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ns ON s_nationkey = ns.n_nationkey
                JOIN nation nc ON c_nationkey = nc.n_nationkey
                WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_8')
                   OR (ns.n_name = 'NATION_8' AND nc.n_name = 'NATION_3')
            )
            GROUP BY 1, 2, 3
        """,
        "q99_market_share": """
            WITH base AS (
                SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                       l_extendedprice * (1 - l_discount) AS volume,
                       ns.n_name AS supp_nation
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ns ON s_nationkey = ns.n_nationkey
                WHERE c_nationkey IN (
                    SELECT n_nationkey FROM nation
                    JOIN region ON n_regionkey = r_regionkey
                    WHERE r_name = 'ASIA')
            ), agg AS (
                SELECT o_year,
                       round(sum(CASE WHEN supp_nation = 'NATION_8'
                                      THEN volume ELSE 0.0 END), 2) AS nation_rev,
                       round(sum(volume), 2) AS total_rev
                FROM base GROUP BY 1
            )
            SELECT o_year, nation_rev, total_rev,
                   round(nation_rev / total_rev, 6) AS mkt_share
            FROM agg
        """,
        "q100_sales_opportunity": """
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
            GROUP BY 1
        """,
        # q105: per-source budgeted mix — q93's hash order + running
        # INCLUSIVE size sum per source against a CASE budget
        "q105_source_mix": """
            WITH keyed AS (
                SELECT doc_id, source, n_chars,
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT), list_transform(
                               list_filter(
                                   string_split(CAST(doc_id AS VARCHAR) || ' 42', ''),
                                   ch -> ch <> ''),
                               ch -> CAST(ord(ch) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 2038074743) % 1048576
                           AS mix_u,
                       CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 2000
                                   WHEN 'src2' THEN 1000 ELSE 0 END AS budget
                FROM documents
            ), cum AS (
                SELECT doc_id, source, n_chars, budget,
                       sum(n_chars) OVER (
                           PARTITION BY source ORDER BY mix_u, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS running
                FROM keyed
            )
            SELECT doc_id, source, n_chars FROM cum
            WHERE running <= budget ORDER BY doc_id
        """,
        # q106: leakage gate — recursive-CTE clusters (q50's), cluster-keyed
        # rolling-hash split, violating pairs (empty iff sound)
        "q106_split_leakage_gate": """
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(list_cat(a.shingles, b.shingles))) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ), comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
            ), split AS (
                SELECT doc_id,
                       CASE WHEN b < 90 THEN 'train'
                            WHEN b < 95 THEN 'val' ELSE 'test' END AS split
                FROM (
                    SELECT doc_id,
                           list_reduce(
                               list_prepend(CAST(0 AS BIGINT), list_transform(
                                   list_filter(
                                       string_split(CAST(cluster_id AS VARCHAR), ''),
                                       ch -> ch <> ''),
                                   ch -> CAST(ord(ch) AS BIGINT))),
                               (acc, c) -> (acc * 31 + c) % 2038074743) % 100 AS b
                    FROM comp
                )
            )
            SELECT p.id_a, p.id_b, sa.split AS sa, sb.split AS sb
            FROM pairs p
            JOIN split sa ON p.id_a = sa.doc_id
            JOIN split sb ON p.id_b = sb.doc_id
            WHERE sa.split <> sb.split
        """,
        # q104: per-group A-ES — q93's key formula ranked per source
        "q104_balanced_sample": """
            WITH keyed AS (
                SELECT doc_id, source, n_chars,
                       ln((list_reduce(
                               list_prepend(CAST(0 AS BIGINT), list_transform(
                                   list_filter(
                                       string_split(CAST(doc_id AS VARCHAR) || ' 42', ''),
                                       ch -> ch <> ''),
                                   ch -> CAST(ord(ch) AS BIGINT))),
                               (acc, c) -> (acc * 31 + c) % 2038074743)
                            % 1048576 + 0.5) / 1048576.0)
                       / CAST(n_chars AS DOUBLE) AS aes_key
                FROM documents WHERE n_chars > 0
            )
            SELECT doc_id, source, n_chars
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY source
                    ORDER BY aes_key DESC, doc_id) AS rn
                FROM keyed
            ) WHERE rn <= 10
            ORDER BY source, doc_id
        """,
        # q107: semantic dedup — cell assignment mirrors q49's asn CTE;
        # the threshold compare uses list_cosine_similarity (loose) because
        # every within-cell pair sits >= 1.7e-3 from 0.42 on this table,
        # orders of magnitude beyond any engine fold difference
        "q107_semantic_dedup": """
            WITH cent AS (
                -- scale-aware seed centroids mirroring semantic_dedup's
                -- auto cell count: 8 * max(1, ceil(n/5000)) (resolves to 8
                -- on the 500-vector sf0.01 tables, 32 at sf1.0's 20k)
                SELECT vec_id AS cell, embedding AS cv
                FROM embeddings
                WHERE vec_id < (
                    SELECT 8 * greatest(1, CAST(ceil(count(*) / 5000.0)
                                               AS BIGINT))
                    FROM embeddings)
            ), asn AS (
                SELECT id, cell FROM (
                    SELECT e.vec_id AS id, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding, c.cv)
                                        DESC, c.cell ASC) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ), v AS (
                SELECT vec_id AS id, embedding FROM embeddings
            ), dropped AS (
                SELECT DISTINCT b.id AS id
                FROM asn a JOIN asn b ON a.cell = b.cell AND a.id < b.id
                JOIN v va ON va.id = a.id
                JOIN v vb ON vb.id = b.id
                WHERE list_cosine_similarity(va.embedding, vb.embedding) >= 0.42
            )
            SELECT a.id AS vec_id, a.cell,
                   (d.id IS NULL) AS is_kept
            FROM asn a LEFT JOIN dropped d ON a.id = d.id
        """,
        # q108: RRF fusion of the q23 exact run and the q36 LSH run; the
        # two contribution sums are <=2-term double adds (order-independent,
        # bit-exact), so rank comparisons need no rounding guard
        "q108_rrf_fusion": f"""
            WITH ex AS (
                SELECT query_id, neighbor_id, rank FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                        c.vec_id ASC) AS rank
                    FROM embeddings q, embeddings c
                    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
                ) WHERE rank <= 3
            ), b AS (
                SELECT vec_id AS id, embedding AS v, {b35} AS bucket
                FROM embeddings
            ), ap AS (
                SELECT query_id, neighbor_id, rank FROM (
                    SELECT q.id AS query_id, c.id AS neighbor_id,
                           row_number() OVER (
                               PARTITION BY q.id
                               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                        c.id ASC) AS rank
                    FROM b q JOIN b c ON q.bucket = c.bucket AND c.id <> q.id
                    WHERE q.id < 5
                ) WHERE rank <= 3
            ), contrib AS (
                SELECT query_id, neighbor_id, 1.0 / (60 + rank) AS c FROM ex
                UNION ALL
                SELECT query_id, neighbor_id, 1.0 / (60 + rank) AS c FROM ap
            )
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sum_c DESC, neighbor_id ASC) AS fused_rank
            FROM (
                SELECT query_id, neighbor_id, sum(c) AS sum_c
                FROM contrib GROUP BY 1, 2
            )
        """,
        # q109/q110: event-log product analytics
        "q109_funnel": """
            WITH e AS (
                SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ets
                FROM events
            ), s0 AS (
                SELECT user_id, min(ets) AS t0 FROM e
                WHERE event_type = 'signup' GROUP BY 1
            ), s1 AS (
                SELECT e.user_id, min(ets) AS t1
                FROM e JOIN s0 USING (user_id)
                WHERE event_type = 'view' AND ets > t0 GROUP BY 1
            ), s2 AS (
                SELECT e.user_id, min(ets) AS t2
                FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND ets > t1 GROUP BY 1
            ), s3 AS (
                SELECT e.user_id, min(ets) AS t3
                FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND ets > t2 GROUP BY 1
            )
            SELECT CAST(stage AS INTEGER) AS stage, stage_name, n_users
            FROM (VALUES
                (0, 'signup',   (SELECT count(*) FROM s0)),
                (1, 'view',     (SELECT count(*) FROM s1)),
                (2, 'click',    (SELECT count(*) FROM s2)),
                (3, 'purchase', (SELECT count(*) FROM s3))
            ) AS t(stage, stage_name, n_users)
        """,
        "q110_cohort_retention": """
            WITH e AS (
                SELECT user_id,
                       CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
                FROM events
            ), first AS (
                SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1
            ), active AS (
                SELECT DISTINCT user_id, wk FROM e
            )
            SELECT cohort_week,
                   CAST((wk - cohort_week) / 7 AS INTEGER) AS week_offset,
                   count(DISTINCT user_id) AS n_users
            FROM active JOIN first USING (user_id)
            GROUP BY 1, 2
        """,
        "q111_sliding_window": """
            WITH e AS (
                SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value
                FROM events
            ), x AS (
                SELECT unnest(generate_series(
                           date_trunc('hour', t) - INTERVAL 1 HOUR,
                           date_trunc('hour', t),
                           INTERVAL 1 HOUR)) AS wstart,
                       event_type, value
                FROM e
            )
            SELECT wstart AS win_start,
                   wstart + INTERVAL 2 HOUR AS win_end,
                   event_type, count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM x GROUP BY 1, 2, 3
        """,
        "q112_daily_anomaly": """
            WITH d AS (
                SELECT event_type,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT event_type, day, n,
                   round((n - avg(n) OVER (PARTITION BY event_type))
                         / stddev_samp(n) OVER (PARTITION BY event_type),
                         3) AS z
            FROM d
        """,
        # q113/q114: corpus diagnostics over the shared token CTE shape
        "q113_vocab_overlap": r"""
            WITH vocab AS (
                SELECT DISTINCT source AS src, t.tok AS token
                FROM documents,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        x -> x <> '')) AS t(tok)
            ), sizes AS (
                SELECT src, count(*) AS n_tok FROM vocab GROUP BY 1
            ), shared AS (
                SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_shared
                FROM vocab a JOIN vocab b ON a.token = b.token AND a.src < b.src
                GROUP BY 1, 2
            )
            SELECT source_a, source_b, n_shared,
                   sa.n_tok AS n_a, sb.n_tok AS n_b,
                   round(n_shared / (sa.n_tok + sb.n_tok - n_shared), 4) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.src = source_a
            JOIN sizes sb ON sb.src = source_b
        """,
        "q114_zipf_slope": r"""
            WITH counts AS (
                SELECT source, t.tok AS token, count(*) AS n
                FROM documents,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        x -> x <> '')) AS t(tok)
                GROUP BY 1, 2
            ), xy AS (
                SELECT source, n,
                       ln(CAST(row_number() OVER (PARTITION BY source
                               ORDER BY n DESC, token ASC) AS DOUBLE)) AS x,
                       ln(CAST(n AS DOUBLE)) AS y
                FROM counts
            ), agg AS (
                SELECT source, count(*) AS n_types,
                       CAST(sum(n) AS BIGINT) AS n_tokens,
                       sum(x) AS sx, sum(y) AS sy,
                       sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM xy GROUP BY 1
            )
            SELECT source, n_types, n_tokens,
                   round((n_types * sxy - sx * sy)
                         / nullif(n_types * sxx - sx * sx, 0), 3) AS slope
            FROM agg
        """,
        # q115/q116: TPC-H Q17/Q15 shapes
        "q115_small_qty_revenue": """
            WITH part_f AS (
                SELECT p_partkey FROM part
                WHERE p_brand = 'Brand#4' AND p_size < 20
            ), fact AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part_f ON l_partkey = p_partkey
            ), caps AS (
                SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cap
                FROM fact GROUP BY 1
            )
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM fact JOIN caps USING (l_partkey)
            WHERE l_quantity < qty_cap
        """,
        "q116_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey AS s_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-07-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier USING (s_suppkey)
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s_suppkey
        """,
        # q117: incremental minhash — the oracle recomputes ALL pairs from
        # scratch (q24's formulation) and keeps those with a new endpoint
        "q117_incremental_minhash": """
            WITH sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                           / len(list_distinct(list_cat(a.shingles, b.shingles)))
                           AS j
                FROM sh a JOIN sh b ON a.id < b.id
            )
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM pairs
            WHERE j >= 0.5 AND (id_a % 10 = 0 OR id_b % 10 = 0)
        """,
        "q118_langid_eval": """
            SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS label,
                   CASE WHEN len(list_filter(
                       regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+'),
                       t -> t IN ('the','a','of','and','to','in','is','it'))) >= 1
                   THEN 'en' ELSE 'other' END AS predicted,
                   count(*) AS n
            FROM documents GROUP BY 1, 2
        """,
        # q119: shot boundaries — frame stride + rolling-hash stub feature
        # + lag distance, all recomputed exactly (identical double ops in
        # identical order, so the pre-round distances are bit-equal)
        "q119_shot_boundaries": """
            WITH v AS (
                SELECT doc_id AS media_id,
                       strlen(text) % 120 + 1 AS n_frames
                FROM documents
                WHERE doc_id < 100 AND doc_id % 3 = 0
            ), f AS (
                SELECT media_id,
                       CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx
                FROM v
            ), feat AS (
                SELECT media_id, frame_idx,
                       list_transform(range(0, 4), d ->
                           CAST(list_reduce(
                               list_prepend(CAST(0 AS BIGINT), list_transform(
                                   string_split(CAST(media_id AS VARCHAR) || ':'
                                                || CAST(frame_idx AS VARCHAR) || ':'
                                                || CAST(d AS VARCHAR), ''),
                                   ch -> CAST(ord(ch) AS BIGINT))),
                               (acc, c) -> (acc * 31 + c) % 2038074743) % 10000
                               AS DOUBLE) / 10000.0
                       ) AS feat
                FROM f
            ), lagd AS (
                SELECT media_id, frame_idx, feat,
                       lag(feat) OVER (PARTITION BY media_id
                                       ORDER BY frame_idx) AS prev
                FROM feat
            )
            SELECT media_id, frame_idx,
                   round(sqrt(list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(range(1, 5),
                               i -> (feat[i] - prev[i]) * (feat[i] - prev[i]))),
                       (a, b) -> a + b)), 4) AS dist,
                   (prev IS NULL OR
                    round(sqrt(list_reduce(
                        list_prepend(CAST(0 AS DOUBLE),
                            list_transform(range(1, 5),
                                i -> (feat[i] - prev[i]) * (feat[i] - prev[i]))),
                        (a, b) -> a + b)), 4) > 0.6) AS is_boundary
            FROM lagd
        """,
        # q120: BM25 — identical operation order in idf/tf terms (left-to-
        # right products, division last), so round(·,4) cannot diverge
        "q120_bm25": r"""
            WITH toks AS (
                SELECT doc_id, t.tok AS token
                FROM documents,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        x -> x <> '')) AS t(tok)
            ), dl AS (
                SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
            ), stats AS (
                SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
            ), tf AS (
                SELECT doc_id, token, count(*) AS tf FROM toks
                WHERE token IN ('hash', 'join', 'stream', 'vector')
                GROUP BY 1, 2
            ), dfq AS (
                SELECT token, count(*) AS df FROM tf GROUP BY 1
            )
            SELECT tf.doc_id,
                   round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))
                             * tf * 2.2
                             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
                       AS score,
                   count(*) AS n_matched
            FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)
            CROSS JOIN stats
            GROUP BY 1
        """,
        # q121: cluster representatives — q50's recursive-CTE components,
        # then a (quality DESC, id ASC) argmax per multi-member cluster
        "q121_cluster_reps": """
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM sh a JOIN sh b ON a.id < b.id
                WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / len(list_distinct(list_cat(a.shingles, b.shingles))) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ), comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
            ), qual AS (
                SELECT comp.doc_id, comp.cluster_id,
                       CAST(length(regexp_replace(d.text, '^\\s+|\\s+$', '', 'g'))
                            AS INT) AS q
                FROM comp JOIN documents d USING (doc_id)
            ), ranked AS (
                SELECT cluster_id, doc_id, q,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY q DESC, doc_id ASC) AS rn,
                       count(*) OVER (PARTITION BY cluster_id) AS n_members,
                       max(q) OVER (PARTITION BY cluster_id) AS max_quality
                FROM qual
            )
            SELECT cluster_id, doc_id AS rep_doc_id, n_members, max_quality
            FROM ranked WHERE rn = 1 AND n_members > 1
        """,
        "q122_fuzzy_blocking": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   a.c_nationkey, a.c_mktsegment,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment
             AND a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 2
        """,
        "q123_disjunctive_filter": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 30
                   AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 50
                   AND l_quantity BETWEEN 20 AND 50)
        """,
        "q124_nation_share": """
            SELECT c_nationkey, round(sum(c_acctbal), 2) AS nation_bal
            FROM customer GROUP BY 1
            HAVING sum(c_acctbal) >
                   0.05 * (SELECT sum(c_acctbal) FROM customer)
        """,
        "q125_late_order_priority": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY 1
        """,
        # q126: p is the raw IEEE quotient of two exact integers —
        # identical bits in any engine, deliberately unrounded
        "q126_transitions": """
            WITH ordered AS (
                SELECT user_id, event_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
                FROM events
            ), c AS (
                SELECT event_type AS from_type, nxt AS to_type,
                       count(*) AS n_trans
                FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
            )
            SELECT from_type, to_type, n_trans,
                   CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
                       AS n_from,
                   n_trans / CAST(sum(n_trans) OVER (PARTITION BY from_type)
                                  AS BIGINT) AS p
            FROM c
        """,
        "q127_time_to_conversion": """
            WITH s AS (
                SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS start_ts
                FROM events WHERE event_type = 'signup' GROUP BY 1
            ), conv AS (
                SELECT e.user_id, s.start_ts,
                       min(CAST(e.ts AS TIMESTAMP)) AS convert_ts
                FROM events e JOIN s USING (user_id)
                WHERE e.event_type = 'purchase'
                  AND CAST(e.ts AS TIMESTAMP) > s.start_ts
                GROUP BY 1, 2
            )
            SELECT user_id, start_ts, convert_ts,
                   CAST(epoch_us(convert_ts) - epoch_us(start_ts) AS DOUBLE)
                       / 1e6 AS seconds
            FROM conv
        """,
        # q128: the EWMA recurrence replayed step-by-step by a recursive
        # CTE — α=0.25 exactly representable, so e_t = 0.25·n + 0.75·e is
        # the same two IEEE multiplies + add the numpy scan performs
        "q128_ewma": """
            WITH RECURSIVE d AS (
                SELECT event_type,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            ), r AS (
                SELECT event_type, day, n,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY day) AS rk
                FROM d
            ), e AS (
                SELECT event_type, day, n, rk, CAST(n AS DOUBLE) AS ewma
                FROM r WHERE rk = 1
                UNION ALL
                SELECT r.event_type, r.day, r.n, r.rk,
                       0.25 * r.n + 0.75 * e.ewma
                FROM e JOIN r ON r.event_type = e.event_type
                             AND r.rk = e.rk + 1
            )
            SELECT event_type, day, n, ewma FROM e
        """,
        "q129_winsorized_stats": """
            WITH p AS (
                SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                       quantile_cont(l_extendedprice, 0.99) AS hi
                FROM lineitem
            )
            SELECT l_returnflag, count(*) AS n,
                   round(sum(l_extendedprice), 2) AS sum_raw,
                   round(sum(greatest(lo, least(hi, l_extendedprice))), 2)
                       AS sum_winsorized
            FROM lineitem CROSS JOIN p
            GROUP BY 1
        """,
        "q130_pmi": r"""
            WITH pres AS (
                SELECT DISTINCT doc_id, t.tok AS token
                FROM documents,
                     unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                        x -> x <> '')) AS t(tok)
            ), freq AS (
                SELECT token, count(*) AS c FROM pres GROUP BY 1
            ), vocab AS (
                SELECT token, c FROM (
                    SELECT token, c,
                           row_number() OVER (ORDER BY c DESC, token ASC) AS r
                    FROM freq
                ) WHERE r <= 15
            ), nn AS (SELECT count(*) AS n FROM documents),
            prs AS (
                SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_ab
                FROM pres a
                JOIN pres b ON a.doc_id = b.doc_id AND a.token < b.token
                JOIN vocab va ON va.token = a.token
                JOIN vocab vb ON vb.token = b.token
                GROUP BY 1, 2
            )
            SELECT tok_a, tok_b, n_ab,
                   round(ln(CAST(n_ab AS DOUBLE) * n
                            / (CAST(va.c AS DOUBLE) * vb.c)), 4) AS pmi
            FROM prs
            JOIN vocab va ON va.token = tok_a
            JOIN vocab vb ON vb.token = tok_b
            CROSS JOIN nn
            WHERE n_ab >= 5
        """,
        # q152: naive all-pairs recompute at the HARSH k=3 / t=0.4 — the
        # positional (minimal-shared-token) bound does the pruning there,
        # so the hash-match proves that refinement lossless
        "q152_positional_prefix": """
            WITH sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 3
                                THEN list_transform(range(1, len(toks) - 1),
                                         i -> array_to_string(toks[i:i+2], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                           / len(list_distinct(list_cat(a.shingles, b.shingles)))
                           AS j
                FROM sh a JOIN sh b ON a.id < b.id
            )
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.4
        """,
        # q131: the oracle is the NAIVE all-pairs recompute (k=4, t=0.6) —
        # hash-match proves prefix filtering drops no qualifying pair
        "q131_prefix_jaccard": """
            WITH sh AS (
                SELECT doc_id AS id,
                       list_distinct(
                           CASE WHEN len(toks) >= 4
                                THEN list_transform(range(1, len(toks) - 2),
                                         i -> array_to_string(toks[i:i+3], ' '))
                                ELSE [array_to_string(toks, ' ')] END
                       ) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split_regex(
                               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                               '\\s+') AS toks
                    FROM documents
                )
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                           / len(list_distinct(list_cat(a.shingles, b.shingles)))
                           AS j
                FROM sh a JOIN sh b ON a.id < b.id
            )
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.6
        """,
        "q132_promo_revenue": """
            SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                   round(sum(CASE WHEN p_type = 'PROMO'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0.0 END), 2) AS promo_revenue,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        # q133: forward as-of — rank-1 over strictly-later-or-equal
        # purchases per signup; LEFT JOIN keeps never-converting signups
        "q133_asof_forward": """
            WITH s AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE event_type = 'signup'
            ), p AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, value
                FROM events WHERE event_type = 'purchase'
            ), ranked AS (
                SELECT s.event_id, s.user_id, s.ts, p.pts, p.value,
                       row_number() OVER (PARTITION BY s.event_id
                                          ORDER BY p.pts) AS rn
                FROM s LEFT JOIN p
                  ON p.user_id = s.user_id AND p.pts >= s.ts
            )
            SELECT event_id, user_id, ts,
                   pts AS purchase_ts,
                   round(value, 2) AS purchase_value
            FROM ranked WHERE rn = 1
        """,
        # q134: MMR greedy unrolled (k=3) — rank 1 = relevance argmax,
        # ranks 2/3 = argmax of 0.7·rel − (1−0.7)·max-sim-to-selected;
        # all cosines on DOUBLE[] casts, argmax keys rounded to 6, ties on
        # id — the engine's exact determinism contract
        "q134_mmr_rerank": """
            WITH c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 4
            ), sc AS (
                SELECT query_id, c.vec_id AS nid, c.v AS cv,
                       list_cosine_similarity(qv, c.v) AS rel
                FROM q JOIN c ON c.vec_id <> q.query_id
            ), shortlist AS (
                SELECT query_id, nid, cv, rel FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY round(rel, 6) DESC, nid) AS rk
                    FROM sc WHERE rel IS NOT NULL
                ) WHERE rk <= 8
            ), s1 AS (
                SELECT query_id, nid, cv FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY round(rel, 6) DESC, nid) AS r
                    FROM shortlist
                ) WHERE r = 1
            ), rem1 AS (
                FROM shortlist ANTI JOIN s1 USING (query_id, nid)
            ), pick2 AS (
                SELECT query_id, nid, cv FROM (
                    SELECT r.query_id, r.nid, r.cv,
                           row_number() OVER (PARTITION BY r.query_id
                               ORDER BY round(0.7 * r.rel - (1 - 0.7) *
                                   list_cosine_similarity(r.cv, s.cv), 6) DESC,
                                   r.nid) AS p
                    FROM rem1 r JOIN s1 s USING (query_id)
                ) WHERE p = 1
            ), rem2 AS (
                FROM rem1 ANTI JOIN pick2 USING (query_id, nid)
            ), pick3 AS (
                SELECT query_id, nid FROM (
                    SELECT r.query_id, r.nid,
                           row_number() OVER (PARTITION BY r.query_id
                               ORDER BY round(0.7 * r.rel - (1 - 0.7) *
                                   greatest(list_cosine_similarity(r.cv, s.cv),
                                            list_cosine_similarity(r.cv, p.cv)),
                                   6) DESC, r.nid) AS p3
                    FROM rem2 r
                    JOIN s1 s USING (query_id)
                    JOIN pick2 p USING (query_id)
                ) WHERE p3 = 1
            )
            SELECT query_id, nid AS neighbor_id, CAST(1 AS INT) AS rank FROM s1
            UNION ALL
            SELECT query_id, nid, CAST(2 AS INT) FROM pick2
            UNION ALL
            SELECT query_id, nid, CAST(3 AS INT) FROM pick3
        """,
        "q135_volume_trend": """
            WITH d AS (
                SELECT event_type,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            ), xy AS (
                SELECT event_type,
                       CAST(day - min(day) OVER (PARTITION BY event_type)
                            AS BIGINT) AS x,
                       n AS y
                FROM d
            ), agg AS (
                SELECT event_type, count(*) AS n_days,
                       sum(x) AS sx, sum(y) AS sy,
                       sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM xy GROUP BY 1
            )
            SELECT event_type, n_days,
                   CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
                        ELSE CAST(n_days * sxy - sx * sy AS DOUBLE)
                             / CAST(n_days * sxx - sx * sx AS DOUBLE)
                   END AS slope
            FROM agg
        """,
        "q136_robust_anomaly": """
            WITH d AS (
                SELECT event_type,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            ), med AS (
                SELECT event_type, quantile_cont(n, 0.5) AS m
                FROM d GROUP BY 1
            ), dev AS (
                SELECT d.*, m FROM d JOIN med USING (event_type)
            ), mad AS (
                SELECT event_type, quantile_cont(abs(n - m), 0.5) AS md
                FROM dev GROUP BY 1
            )
            SELECT event_type, day, n,
                   round(CASE WHEN 1.4826 * md = 0 THEN NULL
                         ELSE (n - m) / (1.4826 * md) END, 3) AS robust_z
            FROM dev JOIN mad USING (event_type)
        """,
        "q137_gapfilled_counts": """
            WITH d AS (
                SELECT event_type,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            ), rng AS (
                SELECT event_type, min(day) AS lo, max(day) AS hi
                FROM d GROUP BY 1
            ), spine AS (
                SELECT event_type,
                       CAST(unnest(generate_series(
                           CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                           INTERVAL 1 DAY)) AS DATE) AS day
                FROM rng
            )
            SELECT s.event_type, count(*) AS n_days,
                   CAST(sum(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_zero_days,
                   CAST(sum(coalesce(d.n, 0)) AS BIGINT) AS total_events,
                   min(s.day) AS first_day, max(s.day) AS last_day
            FROM spine s LEFT JOIN d USING (event_type, day)
            GROUP BY 1
        """,
        "q138_custdist": """
            WITH per AS (
                SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                FROM customer c
                LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                 AND o.o_orderpriority <> '1-URGENT'
                GROUP BY 1
            )
            SELECT c_count, count(*) AS custdist
            FROM per GROUP BY 1
        """,
        # q139: the REAL DCT pHash recomputed relationally — pixels
        # exploded from the rpad-1024 raster text, two relational matmul
        # passes against the inlined integer cosine table (the engine's
        # _dct_table literals), window median over the 63 AC coefficients,
        # bit-packed hash, then NAIVE all-pairs hamming.  Integer
        # arithmetic end-to-end: bit-exact across engines, and the
        # hash-match proves the band join's pigeonhole recall.
        "q139_phash_neardup": f"""
            WITH m AS (
                SELECT doc_id AS id,
                       rpad(substr(text, 1, 1024), 1024, ' ') AS t
                FROM documents WHERE doc_id < 200
                UNION ALL
                SELECT doc_id + 1000, rpad(substr(text, 1, 1024), 1024, ' ')
                FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
                UNION ALL
                SELECT doc_id + 2000,
                       substr(rpad(substr(text, 1, 1024), 1024, ' '), 1, 16)
                       || '~'
                       || substr(rpad(substr(text, 1, 1024), 1024, ' '),
                                 18, 1007)
                FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
            ), d(u, i, w) AS (VALUES {_phash_table_sql()}),
            pix AS (
                SELECT id, CAST(p // 32 AS INT) AS i, CAST(p % 32 AS INT) AS j,
                       CAST(ord(substr(t, CAST(p + 1 AS INT), 1)) AS BIGINT) AS v
                FROM m, range(0, 1024) r(p)
            ), t1 AS (
                SELECT pix.id, d.u, pix.j, SUM(d.w * pix.v) AS s
                FROM pix JOIN d ON d.i = pix.i GROUP BY 1, 2, 3
            ), c AS (
                SELECT t1.id, t1.u, d2.u AS vv, SUM(t1.s * d2.w) AS coef
                FROM t1 JOIN d d2 ON d2.i = t1.j GROUP BY 1, 2, 3
            ), f AS (
                SELECT id, u * 8 + vv - 1 AS idx, coef
                FROM c WHERE NOT (u = 0 AND vv = 0)
            ), med AS (
                SELECT id, coef AS m FROM (
                    SELECT id, coef,
                           row_number() OVER (
                               PARTITION BY id ORDER BY coef) AS rn
                    FROM f) WHERE rn = 32
            ), h AS (
                SELECT f.id,
                       SUM(CASE WHEN f.coef > med.m
                           THEN (CAST(1 AS BIGINT) << CAST(f.idx AS INT))
                           ELSE 0 END) AS phash
                FROM f JOIN med ON med.id = f.id GROUP BY 1
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
            FROM h a JOIN h b ON a.id < b.id
            WHERE bit_count(xor(a.phash, b.phash)) <= 2
        """,
        # q149: same relational DCT as q139, naive all-pairs restricted to
        # pairs with a NEW endpoint (new ids are +1000/+2000, corpus ids
        # < 200, so the larger endpoint of any such pair is >= 1000) —
        # proving the stored-index probe equals a full re-run
        "q149_incremental_phash": f"""
            WITH m AS (
                SELECT doc_id AS id,
                       rpad(substr(text, 1, 1024), 1024, ' ') AS t
                FROM documents WHERE doc_id < 200
                UNION ALL
                SELECT doc_id + 1000, rpad(substr(text, 1, 1024), 1024, ' ')
                FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
                UNION ALL
                SELECT doc_id + 2000,
                       substr(rpad(substr(text, 1, 1024), 1024, ' '), 1, 16)
                       || '~'
                       || substr(rpad(substr(text, 1, 1024), 1024, ' '),
                                 18, 1007)
                FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
            ), d(u, i, w) AS (VALUES {_phash_table_sql()}),
            pix AS (
                SELECT id, CAST(p // 32 AS INT) AS i, CAST(p % 32 AS INT) AS j,
                       CAST(ord(substr(t, CAST(p + 1 AS INT), 1)) AS BIGINT) AS v
                FROM m, range(0, 1024) r(p)
            ), t1 AS (
                SELECT pix.id, d.u, pix.j, SUM(d.w * pix.v) AS s
                FROM pix JOIN d ON d.i = pix.i GROUP BY 1, 2, 3
            ), c AS (
                SELECT t1.id, t1.u, d2.u AS vv, SUM(t1.s * d2.w) AS coef
                FROM t1 JOIN d d2 ON d2.i = t1.j GROUP BY 1, 2, 3
            ), f AS (
                SELECT id, u * 8 + vv - 1 AS idx, coef
                FROM c WHERE NOT (u = 0 AND vv = 0)
            ), med AS (
                SELECT id, coef AS m FROM (
                    SELECT id, coef,
                           row_number() OVER (
                               PARTITION BY id ORDER BY coef) AS rn
                    FROM f) WHERE rn = 32
            ), h AS (
                SELECT f.id,
                       SUM(CASE WHEN f.coef > med.m
                           THEN (CAST(1 AS BIGINT) << CAST(f.idx AS INT))
                           ELSE 0 END) AS phash
                FROM f JOIN med ON med.id = f.id GROUP BY 1
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
            FROM h a JOIN h b ON a.id < b.id
            WHERE bit_count(xor(a.phash, b.phash)) <= 2
              AND b.id >= 1000
        """,
        # q140: nearest as-of — per signup the backward (max earlier) and
        # forward (min later) purchase candidates, CASE-picked by distance
        # with the backward tie preference; value joined back on the
        # chosen timestamp (purchase (user, ts) keys are unique)
        "q140_asof_nearest": """
            WITH s AS (
                SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE event_type = 'signup'
            ), p AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, value
                FROM events WHERE event_type = 'purchase'
            ), bw AS (
                SELECT s.event_id, max(p.pts) AS bts
                FROM s JOIN p ON p.user_id = s.user_id AND p.pts <= s.ts
                GROUP BY 1
            ), fw AS (
                SELECT s.event_id, min(p.pts) AS fts
                FROM s JOIN p ON p.user_id = s.user_id AND p.pts >= s.ts
                GROUP BY 1
            ), sel AS (
                SELECT s.event_id, s.user_id, s.ts,
                       CASE WHEN bts IS NULL THEN fts
                            WHEN fts IS NULL THEN bts
                            WHEN epoch_us(s.ts) - epoch_us(bts)
                                 <= epoch_us(fts) - epoch_us(s.ts) THEN bts
                            ELSE fts END AS mts
                FROM s
                LEFT JOIN bw USING (event_id)
                LEFT JOIN fw USING (event_id)
            )
            SELECT sel.event_id, sel.user_id, sel.ts,
                   sel.mts AS purchase_ts,
                   round(p.value, 2) AS purchase_value
            FROM sel LEFT JOIN p
              ON p.user_id = sel.user_id AND p.pts = sel.mts
        """,
        "q141_wow_revenue": """
            WITH weekly AS (
                SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
                       round(sum(o_totalprice), 2) AS revenue
                FROM orders GROUP BY 1
            )
            SELECT week, revenue,
                   lag(revenue) OVER (ORDER BY week) AS prev_revenue,
                   round(revenue - lag(revenue) OVER (ORDER BY week), 2)
                       AS delta,
                   (revenue - lag(revenue) OVER (ORDER BY week))
                       / lag(revenue) OVER (ORDER BY week) AS pct_change
            FROM weekly
        """,
        # q142: ntile chains end on o_custkey so bucketing is a total
        # order; rec/freq are exact ints, spend ties are custkey-broken
        "q142_rfm_segments": """
            WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
            per AS (
                SELECT o_custkey,
                       CAST((SELECT m FROM mx) AS DATE)
                           - CAST(max(o_orderdate) AS DATE) AS rec,
                       count(*) AS freq,
                       sum(o_totalprice) AS spend
                FROM orders GROUP BY 1
            ), seg AS (
                SELECT o_custkey, spend,
                       ntile(4) OVER (ORDER BY rec ASC, o_custkey ASC)
                           AS r_bucket,
                       ntile(4) OVER (ORDER BY freq DESC, o_custkey ASC)
                           AS f_bucket,
                       ntile(4) OVER (ORDER BY spend DESC, o_custkey ASC)
                           AS m_bucket
                FROM per
            )
            SELECT r_bucket, f_bucket, m_bucket,
                   count(*) AS n_customers,
                   round(sum(spend), 2) AS segment_spend
            FROM seg GROUP BY 1, 2, 3
        """,
        "q143_ordered_string_agg": """
            WITH ranked AS (
                SELECT c_nationkey, c_name,
                       row_number() OVER (PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
                FROM customer
            ), agg AS (
                SELECT c_nationkey, count(*) AS n_customers
                FROM customer GROUP BY 1
            ), top3 AS (
                SELECT c_nationkey,
                       string_agg(c_name, ',' ORDER BY rn) AS top3_names
                FROM ranked WHERE rn <= 3 GROUP BY 1
            )
            SELECT a.c_nationkey, a.n_customers, t.top3_names
            FROM agg a JOIN top3 t USING (c_nationkey)
        """,
        "q144_grouped_corr": """
            SELECT l_returnflag, count(*) AS n,
                   round(corr(l_quantity,
                              l_extendedprice * (1 - l_discount)), 4) + 0.0
                       AS corr_qty_price,
                   round(covar_samp(l_quantity,
                                    l_extendedprice * (1 - l_discount)), 4) + 0.0
                       AS covar_qty_price
            FROM lineitem GROUP BY 1
        """,
        # q145: soundness gate (q75 pattern) — merged-vs-full sketch
        # equality and the error bound hold, so the result is empty
        "q145_sketch_rollup": """
            SELECT CAST(NULL AS VARCHAR) AS month,
                   CAST(NULL AS BIGINT) AS inc_est,
                   CAST(NULL AS BIGINT) AS full_est,
                   CAST(NULL AS BIGINT) AS exact
            WHERE FALSE
        """,
        # q103: k-NN vote — same ranking/tie-break chain as the engine
        # (cos desc, neighbor asc; then votes desc, sim-sum desc, label asc);
        # cosine in DOUBLE, avg rounded to 4 (q35's float-tolerance
        # convention)
        "q103_knn_label_vote": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 20
            ), c AS (
                SELECT vec_id AS neighbor_id, embedding AS cv, label
                FROM embeddings
            ), scored AS (
                -- bit-exact mirror of the engine's dot: per-element product
                -- in FLOAT32 (Spark's zip_with multiplies the float elements
                -- before the double accumulator sees them), then strictly
                -- left-to-right double summation via list_reduce —
                -- list_dot_product would accumulate in a different order/
                -- precision and drift in the 4th decimal
                SELECT query_id, neighbor_id, label,
                       list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * cv[i] AS DOUBLE))), (acc, v) -> acc + v)
                       / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] * qv[i] AS DOUBLE))), (acc, v) -> acc + v))
                          * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(cv) + 1), i -> CAST(cv[i] * cv[i] AS DOUBLE))), (acc, v) -> acc + v))) AS cos_sim
                FROM q, c WHERE neighbor_id <> query_id
            ), topk AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rn
                    FROM scored) WHERE rn <= 5
            ), votes AS (
                -- cosine_topk OUTPUTS cos_sim rounded to 4 (its value
                -- contract); the vote aggregates those rounded values, so
                -- the oracle rounds per-neighbor BEFORE summing.
                -- NULL-labeled neighbors consume top-k slots but cannot
                -- vote (the engine joins labels AFTER top-k and drops
                -- NULLs) — filter here, after topk, not in the corpus CTE
                SELECT query_id, label, count(*) AS votes,
                       sum(round(cos_sim, 4)) AS sim_sum
                FROM topk WHERE label IS NOT NULL GROUP BY 1, 2
            )
            SELECT query_id, label, votes, round(sim_sum, 4) AS sim_sum
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY votes DESC, sim_sum DESC, label) AS rn
                FROM votes) WHERE rn = 1
        """,
        # q102: per-column profile — UNION ALL of per-column aggregates;
        # n_distinct counts non-NULL values (both engines' COUNT(DISTINCT))
        "q102_table_profile": """
            SELECT 'doc_id' AS column, count(*) AS n_rows,
                   count(CASE WHEN doc_id IS NULL THEN 1 END) AS n_nulls,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS DOUBLE) AS min_num,
                   CAST(max(doc_id) AS DOUBLE) AS max_num,
                   CAST(NULL AS VARCHAR) AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str
            FROM documents
            UNION ALL
            SELECT 'lang', count(*),
                   count(CASE WHEN lang IS NULL THEN 1 END),
                   count(DISTINCT lang),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   min(lang), max(lang)
            FROM documents
            UNION ALL
            SELECT 'source', count(*),
                   count(CASE WHEN source IS NULL THEN 1 END),
                   count(DISTINCT source),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   min(source), max(source)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*),
                   count(CASE WHEN n_chars IS NULL THEN 1 END),
                   count(DISTINCT n_chars),
                   CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM documents
        """,
        # q101: CDC chunking recomputed with DuckDB list ops — same
        # normalization, window hash (base 1000003 mod 2038074743), cut
        # rule, bound handling, and md5 chunk fingerprints as
        # dedup.cdc_chunks; array_slice is 1-based end-inclusive, range()
        # end-exclusive (matching Spark's inclusive sequence(0, n-w))
        "q101_cdc_dup_stats": """
            WITH d AS (
                SELECT doc_id,
                       regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm
                FROM documents
            ), codes AS (
                SELECT doc_id, norm, len(norm) AS n,
                       list_transform(
                           list_filter(string_split(norm, ''), c -> c <> ''),
                           c -> CAST(ord(c) AS BIGINT)) AS cs
                FROM d WHERE len(norm) > 0
            ), cuts AS (
                SELECT doc_id, norm, n,
                       CASE WHEN n >= 8 THEN
                           list_sort(list_distinct(
                               [CAST(0 AS BIGINT)] ||
                               list_filter(
                                   list_transform(range(0, n - 8 + 1), i ->
                                       CASE WHEN list_reduce(
                                               list_prepend(CAST(0 AS BIGINT),
                                                   array_slice(cs, i + 1, i + 8)),
                                               (acc, c) -> (acc * 1000003 + c)
                                                           % 2038074743) % 64 = 0
                                            THEN CAST(i + 8 AS BIGINT)
                                            ELSE CAST(-1 AS BIGINT) END),
                                   x -> x <> -1) ||
                               [CAST(n AS BIGINT)]))
                       ELSE [CAST(0 AS BIGINT), CAST(n AS BIGINT)] END AS bounds
                FROM codes
            ), chunks AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(bounds)), j ->
                           md5(substr(norm, CAST(bounds[j] + 1 AS INTEGER),
                                      CAST(bounds[j + 1] - bounds[j] AS INTEGER)))))
                           AS chunk_fp
                FROM cuts
            ), flagged AS (
                SELECT doc_id, chunk_fp,
                       count(DISTINCT doc_id) OVER (PARTITION BY chunk_fp)
                           AS docs_with
                FROM chunks
            )
            SELECT doc_id, count(*) AS n_chunks,
                   CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_shared
            FROM flagged GROUP BY 1
        """,
        # q95: per-user gaps strictly over 24h; epoch() is double seconds
        # at microsecond precision in both engines
        "q95_event_gaps": """
            WITH g AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events
            )
            SELECT user_id,
                   round(epoch(prev), 6) AS gap_start_epoch,
                   round(epoch(ts), 6) AS gap_end_epoch,
                   round(epoch(ts) - epoch(prev), 6) AS gap_seconds
            FROM g
            WHERE epoch(ts) - epoch(prev) > 86400.0
        """,
        # q87: INTERSECT then EXCEPT (Spark intersect/exceptAll are
        # set-distinct on the left intersect side; mirrored exactly)
        "q87_source_set_ops": """
            SELECT source FROM (
                SELECT source FROM documents WHERE doc_id % 7 < 3
                INTERSECT
                SELECT source FROM documents WHERE doc_id % 7 >= 3
            )
            EXCEPT
            SELECT DISTINCT source FROM documents WHERE n_chars < 52
        """,
        # q88: scalar-subquery threshold filter
        "q88_above_average_orders": """
            SELECT o_orderkey, o_orderstatus,
                   round(o_totalprice, 2) AS o_totalprice
            FROM orders
            WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
        """,
        # q86: ntile quartiles under a deterministic total order
        "q86_price_quartiles": """
            WITH q AS (
                SELECT o_orderstatus, o_totalprice,
                       ntile(4) OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice ASC, o_orderkey ASC)
                           AS quartile
                FROM orders
            )
            SELECT o_orderstatus, quartile, count(*) AS n,
                   round(min(o_totalprice), 2) AS min_price,
                   round(max(o_totalprice), 2) AS max_price
            FROM q GROUP BY 1, 2
        """,
        # q84: TPC-H Q3 shape (top-10 by revenue, deterministic tie-break)
        "q84_shipping_priority": """
            SELECT l.l_orderkey,
                   CAST(o.o_orderdate AS DATE) AS o_orderdate,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
              AND l.l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY 1, 2
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        # q85: TPC-H Q18 shape (having-over-fact, customer attribution)
        "q85_large_volume_orders": """
            WITH big AS (
                SELECT l_orderkey, sum(l_quantity) AS total_qty
                FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
            )
            SELECT c.c_name, o.o_orderkey,
                   CAST(o.o_orderdate AS DATE) AS o_orderdate,
                   round(o.o_totalprice, 2) AS o_totalprice,
                   b.total_qty
            FROM big b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        # q83: soundness gate — empty iff merged per-source HLL sketches
        # estimate exact distinct counts within 5%
        "q83_sketch_union_soundness": """
            SELECT CAST(NULL AS VARCHAR) AS source,
                   CAST(NULL AS BIGINT) AS exact,
                   CAST(NULL AS BIGINT) AS estimate
            WHERE FALSE
        """,
        # q81: BPE step-1 pair counts — words dedup to (word, count) first,
        # pairs weighted by count; top-20 by (n desc, pair asc)
        "q81_bpe_merge_candidates": """
            WITH toks AS (
                SELECT unnest(list_filter(string_split_regex(
                    lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                    '\\s+'), t -> t <> '')) AS w
                FROM documents
            ), words AS (
                SELECT w, count(*) AS wc FROM toks GROUP BY 1
            ), pairs AS (
                SELECT unnest(list_transform(range(1, len(string_split(w, ''))),
                       i -> string_split(w, '')[i] || string_split(w, '')[i+1]))
                       AS pair,
                       wc
                FROM words WHERE length(w) >= 2
            )
            SELECT pair, CAST(sum(wc) AS BIGINT) AS n
            FROM pairs GROUP BY 1
            ORDER BY n DESC, pair ASC
            LIMIT 20
        """,
        # q82: Gopher rule flags, thresholds mirrored from the query call
        # (min_words=20); symbol chars are '#' and the ellipsis
        "q82_gopher_quality_flags": """
            WITH base AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), t -> t <> '') AS toks
                FROM documents
            ), m AS (
                SELECT doc_id,
                       len(toks) AS n_words,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                                 / len(toks) END AS mean_len,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(length(text)
                                 - length(regexp_replace(text, '[#…]', '', 'g')) AS DOUBLE)
                                 / len(toks) END AS symbol_ratio,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                                 / len(toks) END AS alpha_frac,
                       len(list_filter(toks, t -> t IN
                           ('the','a','of','and','to','in','is','it'))) AS stop_hits
                FROM base
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(mean_len, 4) AS mean_word_len,
                   round(alpha_frac, 4) AS alpha_word_frac,
                   (n_words >= 20 AND n_words <= 100000) AS word_count_ok,
                   (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_word_len_ok,
                   (symbol_ratio <= 0.1) AS symbol_ratio_ok,
                   (alpha_frac >= 0.8) AS alpha_frac_ok,
                   (stop_hits >= 2) AS stopwords_ok,
                   (n_words >= 20 AND n_words <= 100000
                    AND mean_len >= 3.0 AND mean_len <= 10.0
                    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
                    AND stop_hits >= 2) AS keep
            FROM m
        """,
        # q77: needles = first-3-token prefixes of docs 0-7 (lowercased, the
        # engine's token CTE); hit = verbatim containment in a lowered doc,
        # self-matches excluded
        "q77_substring_contamination": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), t -> t <> '') AS t
                FROM documents WHERE doc_id < 8
            ), needles AS (
                SELECT doc_id AS needle_id, array_to_string(t[1:3], ' ') AS needle
                FROM toks WHERE len(t) >= 3
            )
            SELECT d.doc_id, n.needle_id
            FROM documents d JOIN needles n
              ON contains(lower(d.text), n.needle)
            WHERE d.doc_id <> n.needle_id
        """,
        # q78: suffix-3 == another doc's prefix-3 over the engine token CTE
        "q78_prefix_suffix_overlap": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), t -> t <> '') AS t
                FROM documents
            ), base AS (
                SELECT doc_id,
                       array_to_string(t[1:3], ' ') AS prefix,
                       array_to_string(t[len(t)-2:len(t)], ' ') AS suffix
                FROM toks WHERE len(t) >= 3
            )
            SELECT s.doc_id AS suffix_doc, p.doc_id AS prefix_doc
            FROM base s JOIN base p ON s.suffix = p.prefix
            WHERE s.doc_id <> p.doc_id
        """,
        # q79: per-doc share of distinct 5-grams appearing in >= 2 docs
        "q79_dup_ngram_fraction": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                           '\\s+'), t -> t <> '') AS t
                FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(t) - 3),
                              i -> array_to_string(t[i:i+4], ' '))) AS gram
                FROM toks WHERE len(t) >= 5
            ), gd AS (
                SELECT gram, count(*) AS gram_docs FROM grams GROUP BY 1
            )
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   round(sum(CASE WHEN gd.gram_docs > 1 THEN 1 ELSE 0 END)::DOUBLE
                         / count(*), 4) AS dup_fraction
            FROM grams g JOIN gd USING (gram)
            GROUP BY g.doc_id
        """,
    }
    # q155 probes STORED SQ8 codes; the stored probe is mathematically the
    # from-scratch path (same deterministic encode), so the oracle is
    # q151's end-to-end relational replay, verbatim — the hash-match is
    # the stored-probe == from-scratch proof.
    sql["q155_sq8_stored_probe"] = sql["q151_sq8_topk"]
    # q156's old∪batch is the whole documents table and stored-index probe →
    # incremental fold must equal a full recompute, so the oracle is q50's
    # from-scratch recursive-CTE clustering, verbatim.
    sql["q156_clusters_via_stored_index"] = sql["q50_neardup_clusters"]
    # q157: merge chain replayed as a list_reduce fold (see _bpe_syms_sql),
    # ids by dense_rank over the emergent subword vocabulary, positions by
    # one per-doc window — all three contracts hash-pinned cross-engine.
    sql["q157_bpe_encode"] = f"""
        WITH doctoks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), t -> t <> '') AS t
            FROM documents WHERE doc_id < 40
        ), words AS (
            SELECT DISTINCT unnest(t) AS w FROM doctoks
        ), subs AS (
            SELECT w, string_split({_bpe_syms_sql(_Q157_MERGES)}, ' ') AS subs
            FROM words
        ), vocab AS (
            SELECT token,
                   CAST(dense_rank() OVER (ORDER BY token) - 1 AS INT)
                       AS token_id
            FROM (SELECT DISTINCT unnest(subs) AS token FROM subs)
        ), toks AS (
            SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS wpos
            FROM doctoks
        ), sub_pos AS (
            SELECT doc_id, wpos, unnest(subs) AS token,
                   generate_subscripts(subs, 1) AS spos
            FROM toks JOIN subs USING (w)
        )
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY wpos, spos) - 1 AS INT) AS pos,
               token, token_id
        FROM sub_pos JOIN vocab USING (token)
    """
    # q160: q24's exact string-level pair replay + least/greatest source
    # attribution + per-source-pair rollup (avg over the per-pair
    # round(j,4) values, matching the engine's rounded-pair inputs)
    sql["q160_source_dedup_pressure"] = """
        WITH sh AS (
            SELECT doc_id AS id,
                   list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                   ) AS shingles
            FROM (
                SELECT doc_id,
                       string_split_regex(
                           regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                           '\\s+') AS toks
                FROM documents
            )
        ), pairs AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                       / len(list_distinct(list_cat(a.shingles, b.shingles))), 4)
                       AS j
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_cat(a.shingles, b.shingles))) >= 0.5
        ), attributed AS (
            SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b,
                   p.j
            FROM pairs p
            JOIN documents da ON p.id_a = da.doc_id
            JOIN documents db ON p.id_b = db.doc_id
        )
        SELECT source_a, source_b, count(*) AS n_pairs,
               round(avg(j), 4) AS avg_jaccard
        FROM attributed GROUP BY 1, 2
    """
    # q161: q50's recursive components (all docs, singletons included) +
    # per-source canonical rollup
    sql["q161_dedup_rate_by_source"] = """
        WITH RECURSIVE sh AS (
            SELECT doc_id AS id,
                   list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                   ) AS shingles
            FROM (
                SELECT doc_id,
                       string_split_regex(
                           regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                           '\\s+') AS toks
                FROM documents
            )
        ), pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_cat(a.shingles, b.shingles))) >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
        ), comp AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        )
        SELECT d.source, count(*) AS n_docs,
               CAST(sum(CASE WHEN comp.doc_id = comp.cluster_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
               round(1.0 - sum(CASE WHEN comp.doc_id = comp.cluster_id
                                    THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 4) AS dedup_rate
        FROM comp JOIN documents d USING (doc_id)
        GROUP BY 1
    """
    # q162: shingle sets (q24's CTE) -> df rollup -> per-doc novelty;
    # n_unique cast BIGINT (the r9 dtype lesson)
    sql["q162_ngram_novelty"] = """
        WITH sh AS (
            SELECT doc_id AS id,
                   list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                   ) AS shingles
            FROM (
                SELECT doc_id,
                       string_split_regex(
                           regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                           '\\s+') AS toks
                FROM documents
            )
        ), inv AS (
            SELECT id, unnest(shingles) AS g FROM sh
        ), freq AS (
            SELECT g, count(*) AS df FROM inv GROUP BY 1
        )
        SELECT id AS doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS novelty
        FROM inv JOIN freq USING (g)
        WHERE id < 100
        GROUP BY 1
    """
    # q166: cross-doc line dedup — normalized-line distinct-doc frequency,
    # boilerplate (> 1 doc) lines dropped, string_agg ORDER BY pos rebuild;
    # empty-norm lines never counted, hence always kept.
    sql["q166_line_dedup"] = """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), x -> x <> '') AS toks
            FROM documents
        ), reflowed AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                       i -> array_to_string(toks[i*8+1:i*8+8], ' ')),
                       chr(10)) AS text
            FROM t WHERE len(toks) > 0
        ), lines AS (
            SELECT doc_id,
                   unnest(string_split(text, chr(10))) AS line,
                   generate_subscripts(string_split(text, chr(10)), 1) AS pos
            FROM reflowed
        ), norm AS (
            SELECT doc_id, pos, line,
                   regexp_replace(lower(line),
                                  '^[ \t\x0B\f\r]+|[ \t\x0B\f\r]+$',
                                  '', 'g') AS n
            FROM lines
        ), dup AS (
            SELECT n FROM norm WHERE n <> ''
            GROUP BY n HAVING count(DISTINCT doc_id) > 1
        )
        SELECT norm.doc_id,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN dup.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               coalesce(string_agg(CASE WHEN dup.n IS NULL THEN line END,
                                   chr(10) ORDER BY pos), '') AS text_kept
        FROM norm LEFT JOIN dup ON norm.n = dup.n
        GROUP BY 1
    """
    # q167/q169: the in-engine trained quality classifier replayed
    # end-to-end — hashed-unigram BINARY-presence features (portable
    # rolling hash mod 64), the distilled label = the q21 language_guess
    # stopword rule, 8 unrolled GD CTE steps (_gd_ctes_sql), then either
    # the sigmoid scoring tail (q167) or the gate-vs-rule confusion tail
    # (q169) off the final weight CTE.  Zero-token docs carry no feature
    # mass and are excluded on both sides.
    _qc_prob = (
        "1 / (1 + exp(-(wb + "
        + " + ".join(f"w{j} * x{j}" for j in range(_QC_D))
        + ")))"
    )
    sql["q167_quality_classifier"] = f"""
        {_qc_train_chain_sql()}
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               round({_qc_prob}, 4) AS prob
        FROM feat CROSS JOIN w{_QC_IT}
    """
    # q170: same GD replay as q167, but the gate is the THRESHOLDED
    # prediction (round-4 prob >= 0.5, matching the engine's rounded
    # scorer) — order-insensitive booleans immune to the ~1e-12
    # dense-vs-sparse float-reduction drift near 4dp rounding boundaries
    sql["q170_sparse_classifier"] = f"""
        {_qc_train_chain_sql()}
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               round({_qc_prob}, 4) >= 0.5 AS pred
        FROM feat CROSS JOIN w{_QC_IT}
    """
    sql["q169_classifier_eval"] = f"""
        {_qc_train_chain_sql()}, scored AS (
            SELECT y, {_qc_prob} >= 0.5 AS pred
            FROM feat CROSS JOIN w{_QC_IT}
        ), cm AS (
            SELECT
              CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_tp,
              CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_fp,
              CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_fn,
              CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_tn
            FROM scored
        )
        SELECT n_tp, n_fp, n_fn, n_tn,
               CASE WHEN n_tp + n_fp > 0
                    THEN round(n_tp / CAST(n_tp + n_fp AS DOUBLE), 4)
               END AS prec,
               CASE WHEN n_tp + n_fn > 0
                    THEN round(n_tp / CAST(n_tp + n_fn AS DOUBLE), 4)
               END AS rec,
               CASE WHEN 2 * n_tp + n_fp + n_fn > 0
                    THEN round(2 * n_tp
                               / CAST(2 * n_tp + n_fp + n_fn AS DOUBLE), 4)
               END AS f1
        FROM cm
    """
    # q168: entropy signals replayed relationally — unnest chars/tokens,
    # group counts, H = log2(n) − Σ k·log2(k)/n; empty docs coalesce to 0.
    sql["q168_entropy_signals"] = """
        WITH che AS (
            SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars,
                   round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 4)
                       AS char_entropy
            FROM (
                SELECT doc_id, c, count(*) AS k
                FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                      FROM documents)
                WHERE c <> '' GROUP BY 1, 2
            ) GROUP BY 1
        ), tke AS (
            SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
                   round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 4)
                       AS token_entropy
            FROM (
                SELECT doc_id, t, count(*) AS k
                FROM (SELECT doc_id, unnest(list_filter(
                          string_split_regex(
                              lower(regexp_replace(text, '^\\s+|\\s+$',
                                                   '', 'g')),
                              '\\s+'), x -> x <> '')) AS t
                      FROM documents)
                GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(che.n_chars, 0) AS n_chars,
               coalesce(che.char_entropy, CAST(0 AS DOUBLE)) AS char_entropy,
               coalesce(tke.n_tokens, 0) AS n_tokens,
               coalesce(tke.token_entropy, CAST(0 AS DOUBLE)) AS token_entropy
        FROM documents d LEFT JOIN che USING (doc_id)
                         LEFT JOIN tke USING (doc_id)
    """
    # q171: CMS replayed relationally — per-occurrence salted buckets
    # (rolling hash of '<row> <token>'), counter table, min over probed
    # rows with absent buckets as 0.
    sql["q171_count_min"] = """
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), x -> x <> '')) AS token
            FROM documents
        ), exact AS (
            SELECT token, count(*) AS exact_cnt FROM toks GROUP BY 1
        ), top AS (
            SELECT token, exact_cnt FROM exact
            ORDER BY exact_cnt DESC, token LIMIT 20
        ), th AS (
            SELECT token, list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(regexp_replace(
                               token, '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743) AS h
            FROM toks
        ), hb AS (
            SELECT i, ((2*i + 1) * h + i * 1000003) % 2038074743 % 512 AS b
            FROM th CROSS JOIN range(4) r(i)
        ), cms AS (
            SELECT i, b, count(*) AS cnt FROM hb GROUP BY 1, 2
        ), probe AS (
            SELECT token, exact_cnt, i,
                   ((2*i + 1) * list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(regexp_replace(
                               token, '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743)
                    + i * 1000003) % 2038074743 % 512 AS b
            FROM top CROSS JOIN range(4) r(i)
        )
        SELECT token, exact_cnt,
               CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_cnt
        FROM probe LEFT JOIN cms USING (i, b)
        GROUP BY 1, 2
    """
    # q179: Bloom replayed relationally — distinct affine bit positions
    # over the corpus token stream (q171's fingerprint + hash family,
    # width 2048), probes = exact top-20 + 20 synthetic absent tokens,
    # hit = all 4 probed positions present
    sql["q179_bloom_gate"] = """
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), x -> x <> '')) AS token
            FROM documents
        ), exact AS (
            SELECT token, count(*) AS c FROM toks GROUP BY 1
        ), top AS (
            SELECT token, TRUE AS in_corpus FROM exact
            ORDER BY c DESC, token LIMIT 20
        ), absent AS (
            SELECT 'zzabsent' || CAST(i AS VARCHAR) AS token,
                   FALSE AS in_corpus
            FROM range(20) r(i)
        ), probes AS (
            SELECT * FROM top UNION ALL SELECT * FROM absent
        ), th AS (
            SELECT DISTINCT token,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(regexp_replace(
                               token, '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743) AS h
            FROM toks
        ), bits AS (
            SELECT DISTINCT ((2*i + 1) * h + i * 1000003)
                       % 2038074743 % 2048 AS b
            FROM th CROSS JOIN range(4) r(i)
        ), ph AS (
            SELECT p.token, p.in_corpus,
                   ((2*i + 1) * list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(regexp_replace(
                               p.token, '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743)
                    + i * 1000003) % 2038074743 % 2048 AS b
            FROM probes p CROSS JOIN range(4) r(i)
        )
        SELECT ph.token, ph.in_corpus,
               count(*) = count(bits.b) AS bloom_hit
        FROM ph LEFT JOIN bits USING (b)
        GROUP BY 1, 2
    """
    # q180: duplicated spans replayed — 8-token windows hashed with the
    # portable char-fold, >=2 marking, lag/cumsum island merge, maximal
    # span stats; integer-only output
    sql["q180_duplicated_spans"] = """
        WITH t AS (
            SELECT doc_id, list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), x -> x <> '') AS toks
            FROM documents
        ), n AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
            FROM t
        ), w AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(regexp_replace(
                               array_to_string(toks[i+1:i+8], ' '),
                               '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743) AS wh
            FROM n CROSS JOIN
                 unnest(range(0, greatest(n_tokens - 7, 0))) r(i)
        ), dup AS (
            SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2
        ), m AS (
            SELECT doc_id, pos FROM w JOIN dup USING (wh)
        ), isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) IS NULL
                         OR pos - lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) > 8
                        THEN 1 ELSE 0 END AS new_grp
            FROM m
        ), grp AS (
            SELECT doc_id, pos,
                   sum(new_grp) OVER
                       (PARTITION BY doc_id ORDER BY pos) AS g
            FROM isl
        ), spans AS (
            SELECT doc_id, g, min(pos) AS s, max(pos) + 8 AS e
            FROM grp GROUP BY 1, 2
        ), stats AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(sum(e - s) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY 1
        )
        SELECT n.doc_id, n.n_tokens,
               coalesce(stats.n_dup_spans, 0) AS n_dup_spans,
               coalesce(stats.dup_tokens, 0) AS dup_tokens
        FROM n LEFT JOIN stats USING (doc_id)
    """
    # q181: the stored-index probe must equal the from-scratch union
    # replay restricted to batch documents (exact count additivity) -
    # same chain as q180 with the final projection filtered
    sql["q181_span_index_probe"] = (
        sql["q180_duplicated_spans"].rstrip()[:-len("""
        FROM n LEFT JOIN stats USING (doc_id)
    """.rstrip())]
        + """
        FROM n LEFT JOIN stats USING (doc_id)
        WHERE n.doc_id % 10 = 9
    """
    )
    # q182: the cut replayed — q180's span chain, then per-token
    # coverage via NOT EXISTS and an ORDER BY-position rebuild
    _q180_chain = sql["q180_duplicated_spans"][
        : sql["q180_duplicated_spans"].index("), stats AS (")
    ]
    sql["q182_span_cut"] = (
        _q180_chain
        + """), tk AS (
            SELECT doc_id, CAST(i AS BIGINT) AS tpos, toks[i+1] AS tok
            FROM n CROSS JOIN unnest(range(0, n_tokens)) r(i)
        ), kept AS (
            SELECT tk.doc_id, tk.tpos, tk.tok
            FROM tk
            WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = tk.doc_id
                  AND tk.tpos >= s.s AND tk.tpos < s.e
            )
        ), reb AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(tok, ' ' ORDER BY tpos) AS text_kept
            FROM kept GROUP BY 1
        )
        SELECT n.doc_id, n.n_tokens,
               coalesce(reb.n_kept, 0) AS n_kept,
               coalesce(reb.text_kept, '') AS text_kept
        FROM n LEFT JOIN reb USING (doc_id)
    """
    )
    # q183/q184: the CHAR-granular span family replayed — 50-char substr
    # windows hashed with the RAW ord() fold (no normalization: exact-
    # substring identity), >=2 marking, island merge; the cut rebuilds via
    # per-char coverage + ORDER BY-position string_agg (the oracle may
    # explode chars; the engine must not)
    _char_chain = """
        WITH n AS (
            SELECT doc_id, coalesce(text, '') AS txt,
                   CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
            FROM documents
        ), w AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(
                               substr(txt, CAST(i + 1 AS INT), 50), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743) AS wh
            FROM n CROSS JOIN
                 unnest(range(0, greatest(n_chars - 49, 0))) r(i)
        ), dup AS (
            SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2
        ), m AS (
            SELECT doc_id, pos FROM w JOIN dup USING (wh)
        ), isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) IS NULL
                         OR pos - lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) > 50
                        THEN 1 ELSE 0 END AS new_grp
            FROM m
        ), grp AS (
            SELECT doc_id, pos,
                   sum(new_grp) OVER
                       (PARTITION BY doc_id ORDER BY pos) AS g
            FROM isl
        ), spans AS (
            SELECT doc_id, g, min(pos) AS s, max(pos) + 50 AS e
            FROM grp GROUP BY 1, 2
        )"""
    sql["q183_char_spans"] = _char_chain + """, stats AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(sum(e - s) AS BIGINT) AS dup_chars
            FROM spans GROUP BY 1
        )
        SELECT n.doc_id, n.n_chars,
               coalesce(stats.n_dup_spans, 0) AS n_dup_spans,
               coalesce(stats.dup_chars, 0) AS dup_chars
        FROM n LEFT JOIN stats USING (doc_id)
    """
    sql["q184_char_span_cut"] = _char_chain + """, ch AS (
            SELECT doc_id, CAST(i AS BIGINT) AS cpos,
                   substr(txt, CAST(i + 1 AS INT), 1) AS c
            FROM n CROSS JOIN unnest(range(0, n_chars)) r(i)
        ), kept AS (
            SELECT ch.doc_id, ch.cpos, ch.c
            FROM ch
            WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = ch.doc_id
                  AND ch.cpos >= s.s AND ch.cpos < s.e
            )
        ), reb AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(c, '' ORDER BY cpos) AS text_kept
            FROM kept GROUP BY 1
        )
        SELECT n.doc_id, n.n_chars,
               coalesce(reb.n_kept, 0) AS n_kept,
               coalesce(reb.text_kept, '') AS text_kept
        FROM n LEFT JOIN reb USING (doc_id)
    """
    # q173: CMS merge-vs-rebuild gate — halves' counters summed must equal
    # the one-pass counters exactly; same salted bucketing as q171.
    sql["q173_cms_rollup_gate"] = """
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), x -> x <> '')) AS token
            FROM documents
        ), th AS (
            SELECT doc_id, list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_transform(
                           list_filter(string_split(regexp_replace(
                               token, '[^a-z0-9 ]', '', 'g'), ''),
                               ch -> ch <> ''),
                           ch -> CAST(ord(ch) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2038074743) AS h
            FROM toks
        ), hb AS (
            SELECT doc_id, i,
                   ((2*i + 1) * h + i * 1000003) % 2038074743 % 256 AS b
            FROM th CROSS JOIN range(4) r(i)
        ), merged AS (
            SELECT i, b, sum(cnt) AS cnt_m FROM (
                SELECT i, b, count(*) AS cnt FROM hb
                WHERE doc_id % 2 = 0 GROUP BY 1, 2
                UNION ALL
                SELECT i, b, count(*) AS cnt FROM hb
                WHERE doc_id % 2 = 1 GROUP BY 1, 2
            ) GROUP BY 1, 2
        ), full_t AS (
            SELECT i, b, count(*) AS cnt_f FROM hb GROUP BY 1, 2
        ), j AS (
            SELECT cnt_m, cnt_f
            FROM merged FULL OUTER JOIN full_t USING (i, b)
        )
        SELECT CAST(sum(CASE WHEN cnt_m IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_merged,
               CAST(sum(CASE WHEN cnt_f IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_full,
               CAST(sum(CASE WHEN coalesce(cnt_m, -1) <> coalesce(cnt_f, -2)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
               CAST(sum(coalesce(cnt_f, 0)) AS BIGINT) AS total_mass
        FROM j
    """

    # q174: normalization replayed — the same dirt injection and the same
    # seven-step chain (zero-widths, CR/LF, control chars, smart-punct
    # translate, space/tab collapse, blank-line collapse, outer trim).
    def _norm_sql(expr: str) -> str:
        e = expr
        e = ("regexp_replace(" + e
             + ", '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g')")
        e = "regexp_replace(" + e + ", '\\r\\n?', chr(10), 'g')"
        e = ("regexp_replace(" + e
             + ", '[\\x{2028}\\x{2029}]', chr(10), 'g')")
        e = ("regexp_replace(" + e
             + ", '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{80}-\\x{9F}]',"
             + " '', 'g')")
        e = ("translate(" + e + ", '‘’“”–—', chr(39) || chr(39) || '""--')")
        e = "regexp_replace(" + e + ", '[ \\t\\x{A0}]+', ' ', 'g')"
        e = ("regexp_replace(" + e
             + ", '\\n{3,}', chr(10) || chr(10), 'g')")
        return "regexp_replace(" + e + ", '^\\s+|\\s+$', '', 'g')"

    _dirty = ("chr(8203) || '  ' || regexp_replace(text, ' ', '  ', 'g')"
              " || chr(9) || chr(13) || chr(10)")
    sql["q174_normalize_text"] = f"""
        SELECT doc_id,
               CAST(length({_dirty}) AS INT) AS n_dirty,
               {_norm_sql(_dirty)} AS text_norm,
               {_norm_sql(_dirty)} = {_norm_sql('text')} AS matches
        FROM documents
    """
    # q175: template stripping replayed — stamped banner, min/max extremes,
    # LCP scan over range(0, bound+1), gated substring tail.
    sql["q175_template_strip"] = """
        WITH tpl AS (
            SELECT doc_id, source,
                   '[' || source || ' header] ' || text AS text
            FROM documents
        ), ext AS (
            SELECT source, min(text) AS lo, max(text) AS hi,
                   count(*) AS n_docs
            FROM tpl GROUP BY 1
        ), lcp AS (
            SELECT source, n_docs,
                   list_max(list_transform(
                       range(0, least(length(lo), length(hi)) + 1),
                       k -> CASE WHEN substr(lo, 1, CAST(k AS INT))
                                      = substr(hi, 1, CAST(k AS INT))
                                 THEN k ELSE 0 END)) AS prefix_len
            FROM ext
        )
        SELECT t.doc_id, t.source,
               CAST(CASE WHEN n_docs >= 2 THEN prefix_len ELSE 0 END AS INT)
                   AS stripped_len,
               substr(t.text,
                      CAST(CASE WHEN n_docs >= 2 THEN prefix_len ELSE 0 END
                           AS INT) + 1) AS text
        FROM tpl t JOIN lcp USING (source)
    """
    # q176: containment over the doc∪snippet frame — q28's shingle CTE,
    # denominator least(|A|,|B|) instead of the union size.
    sql["q176_containment_pairs"] = """
        WITH uni AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000 AS doc_id,
                   array_to_string((list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), x -> x <> ''))[1:12], ' ') AS text
            FROM documents WHERE doc_id < 40
        ), sh AS (
            SELECT doc_id AS id,
                   list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [array_to_string(toks, ' ')] END
                   ) AS shingles
            FROM (
                SELECT doc_id,
                       string_split_regex(
                           regexp_replace(lower(text), '^\\s+|\\s+$',
                                          '', 'g'),
                           '\\s+') AS toks
                FROM uni
            )
        ), pairs AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                       / least(len(a.shingles), len(b.shingles)) AS c
            FROM sh a JOIN sh b ON a.id < b.id
        )
        SELECT id_a, id_b, round(c, 4) AS containment
        FROM pairs WHERE c >= 0.9
    """
    # q177: footer stripping — q175's scan on reversed strings, reversed
    # back for the suffix, gated length-preserving tail substring.
    sql["q177_footer_strip"] = """
        WITH tpl AS (
            SELECT doc_id, source,
                   text || ' [' || source || ' footer]' AS text
            FROM documents
        ), ext AS (
            SELECT source, min(reverse(text)) AS lo, max(reverse(text)) AS hi,
                   count(*) AS n_docs
            FROM tpl GROUP BY 1
        ), lcp AS (
            SELECT source, n_docs,
                   list_max(list_transform(
                       range(0, least(length(lo), length(hi)) + 1),
                       k -> CASE WHEN substr(lo, 1, CAST(k AS INT))
                                      = substr(hi, 1, CAST(k AS INT))
                                 THEN k ELSE 0 END)) AS suffix_len
            FROM ext
        )
        SELECT t.doc_id, t.source,
               CAST(CASE WHEN n_docs >= 2 THEN suffix_len ELSE 0 END AS INT)
                   AS stripped_len,
               substr(t.text, 1,
                      length(t.text)
                      - CAST(CASE WHEN n_docs >= 2 THEN suffix_len ELSE 0 END
                             AS INT)) AS text
        FROM tpl t JOIN lcp USING (source)
    """
    # q163: winnowing replayed relationally — grams as an unnest(range)
    # position scan (same md5-prefix 60-bit hash convention as q25), window
    # minima as a ROWS frame anchored at each window start, rightmost tie
    # as max(i) over the in-window h = minh rows, per-doc DISTINCT last
    sql["q163_winnow_fingerprints"] = """
        WITH norm AS (
            SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
            FROM documents WHERE doc_id % 5 = 0
        ), grams AS (
            SELECT doc_id, i,
                   CAST(concat('0x', substr(md5(substr(s, i, 5)), 1, 15))
                        AS BIGINT) AS h
            FROM (SELECT doc_id, s, unnest(range(1, len(s) - 3)) AS i
                  FROM norm WHERE len(s) >= 5)
        ), wins AS (
            SELECT doc_id, i AS j,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS minh,
                   max(i) OVER (PARTITION BY doc_id) AS m
            FROM grams
        ), sel AS (
            SELECT w.doc_id, w.minh AS fp_hash, max(g.i) AS pos
            FROM wins w JOIN grams g
              ON g.doc_id = w.doc_id AND g.i BETWEEN w.j AND w.j + 3
             AND g.h = w.minh
            WHERE w.j <= greatest(w.m - 3, 1)
            GROUP BY w.doc_id, w.j, w.minh
        )
        SELECT DISTINCT doc_id, fp_hash, CAST(pos AS BIGINT) AS pos FROM sel
    """
    # q164: same winnow CTE at k=15/window=5, per-doc distinct hashes,
    # QUALIFY df <= 20 boilerplate cap, self-join pair counts
    sql["q164_winnow_similarity"] = """
        WITH norm AS (
            SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
            FROM documents
        ), grams AS (
            SELECT doc_id, i,
                   CAST(concat('0x', substr(md5(substr(s, i, 15)), 1, 15))
                        AS BIGINT) AS h
            FROM (SELECT doc_id, s, unnest(range(1, len(s) - 13)) AS i
                  FROM norm WHERE len(s) >= 15)
        ), wins AS (
            SELECT doc_id, i AS j,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
                       AS minh,
                   max(i) OVER (PARTITION BY doc_id) AS m
            FROM grams
        ), fp AS (
            SELECT DISTINCT doc_id, minh AS fp_hash
            FROM wins WHERE j <= greatest(m - 4, 1)
        ), kept AS (
            SELECT doc_id, fp_hash FROM fp
            QUALIFY count(*) OVER (PARTITION BY fp_hash) <= 20
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash
                                AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
    """
    # q165: DSIR unigram importance weights — tf compression, add-1
    # smoothed target (lang='en') and source (whole corpus) LMs over the
    # shared vocab, tf-weighted log-ratio sum; n_tokens BIGINT-cast (the
    # r9 dtype lesson)
    sql["q165_importance_weights"] = """
        WITH tf AS (
            SELECT doc_id, token, count(*) AS tf,
                   max(lang = 'en') AS is_target
            FROM (
                SELECT doc_id, lang, unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                        '\\s+'),
                    t -> t <> '')) AS token
                FROM documents
            )
            GROUP BY 1, 2
        ), counts AS (
            SELECT token,
                   sum(tf) AS cnt_s,
                   sum(CASE WHEN is_target THEN tf ELSE 0 END) AS cnt_t
            FROM tf GROUP BY 1
        ), totals AS (
            SELECT count(*) AS vocab,
                   sum(cnt_s) AS total_s,
                   sum(cnt_t) AS total_t
            FROM counts
        )
        SELECT doc_id,
               round(sum(tf * (ln((cnt_t + 1) / CAST(total_t + vocab AS DOUBLE))
                             - ln((cnt_s + 1) / CAST(total_s + vocab AS DOUBLE)))),
                     4) AS log_weight,
               CAST(sum(tf) AS BIGINT) AS n_tokens
        FROM tf JOIN counts USING (token) CROSS JOIN totals
        GROUP BY doc_id
    """
    # q158: bbox-ONLY facade page — q51's scene synthesis, strict-overlap
    # predicate, valid filter, ORDER BY date DESC, pid ASC page [6..25]
    sql["q158_bbox_only_page"] = """
        SELECT pid, CAST(o_orderdate AS DATE) AS date_acquired,
               west_lon, east_lon, south_lat, north_lat
        FROM (
            SELECT o_orderkey AS pid, o_orderdate,
                   o_orderkey % 97 = 0 AS invalid,
                   CAST(o_custkey % 360 - 180 AS DOUBLE) AS west_lon,
                   CAST(o_custkey % 360 - 178 AS DOUBLE) AS east_lon,
                   CAST(o_orderkey % 170 - 85 AS DOUBLE) AS south_lat,
                   CAST(o_orderkey % 170 - 83 AS DOUBLE) AS north_lat
            FROM orders
        )
        WHERE NOT invalid
          AND east_lon > -20.0 AND 20.0 > west_lon
          AND north_lat > -30.0 AND 30.0 > south_lat
        ORDER BY o_orderdate DESC, pid ASC
        LIMIT 20 OFFSET 5
    """
    # q159: BOTH BPE phases replayed — 6 unrolled train iterations
    # (argmax pair + fold rewrite per step), then q157's application/
    # id-assignment tail over the learned word→subwords table.
    sql["q159_bpe_train_encode"] = f"""
        WITH doctoks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(
                       lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                       '\\s+'), t -> t <> '') AS t
            FROM documents WHERE doc_id < 30
        ), w0 AS (
            SELECT w, count(*) AS wc,
                   array_to_string(string_split(w, ''), ' ') AS syms
            FROM (SELECT unnest(t) AS w FROM doctoks)
            GROUP BY 1
        ), {_bpe_train_ctes_sql(6)}, subs AS (
            SELECT w, string_split(syms, ' ') AS subs FROM w6
        ), vocab AS (
            SELECT token,
                   CAST(dense_rank() OVER (ORDER BY token) - 1 AS INT)
                       AS token_id
            FROM (SELECT DISTINCT unnest(subs) AS token FROM subs)
        ), toks AS (
            SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS wpos
            FROM doctoks
        ), sub_pos AS (
            SELECT doc_id, wpos, unnest(subs) AS token,
                   generate_subscripts(subs, 1) AS spos
            FROM toks JOIN subs USING (w)
        )
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY wpos, spos) - 1 AS INT) AS pos,
               token, token_id
        FROM sub_pos JOIN vocab USING (token)
    """
    return sql
