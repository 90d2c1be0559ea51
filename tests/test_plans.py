"""Plan-shape regression tests: pushdown, pruning, broadcast, codegen —
the properties that keep these operators viable at 100 TB."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as E
from eodatadown_spark.plans import audit

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry_spark(spark):
    from eodatadown_spark.session import apply_runtime_confs

    return apply_runtime_confs(spark)


def test_q01_pushdown_and_pruning(entry_spark):
    df = E.queries()["q01_pricing_summary"](entry_spark, SF)
    assert any("l_shipdate" in f for f in audit.pushed_filters(df))
    # 6 of lineitem's 11 columns read — projection reached the scan
    assert audit.scan_column_counts(df) == [6]
    assert audit.codegen_stage_count(df) >= 1


def test_q02_filter_pushdown(entry_spark):
    df = E.queries()["q02_date_range_page"](entry_spark, SF)
    pf = audit.pushed_filters(df)
    assert any("o_orderdate" in f and "LessThanOrEqual" in f for f in pf)
    assert any("o_orderdate" in f and "GreaterThanOrEqual" in f for f in pf)


def test_q178_keyset_page_no_global_window(entry_spark):
    """The seek-method page must plan WITHOUT a row_number window: no
    Window operator, no single-partition exchange — each page is a
    TakeOrderedAndProject (per-partition top-n) regardless of page depth,
    while its OFFSET twin q02 pays a global-order window."""
    df = E.queries()["q178_keyset_page"](entry_spark, SF)
    plan = audit.physical_plan(df, "simple")
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan
    # the OFFSET twin DOES window — the contrast this test documents
    q02 = audit.physical_plan(
        E.queries()["q02_date_range_page"](entry_spark, SF), "simple"
    )
    assert "Window" in q02


def test_q10_dims_broadcast(entry_spark):
    df = E.queries()["q10_revenue_by_nation"](entry_spark, SF)
    joins = audit.join_strategies(df)
    assert joins.get("BroadcastHashJoin", 0) >= 3  # cust/nation/region at least
    assert "BroadcastNestedLoopJoin" not in joins
    # the only shuffles are the aggregation (+ AQE reads); no join shuffle
    assert audit.exchange_count(df) <= 2


def test_q23_corpus_never_shuffles(entry_spark):
    df = E.queries()["q23_cosine_topk"](entry_spark, SF)
    joins = audit.join_strategies(df)
    # query side broadcast → corpus scan stays partition-parallel
    assert joins.get("BroadcastNestedLoopJoin", 0) == 1
    assert audit.exchange_count(df) <= 1  # only the per-query top-k window


def test_text_ops_stay_in_codegen(entry_spark):
    df = E.queries()["q20_text_profile"](entry_spark, SF)
    assert audit.codegen_stage_count(df) >= 1
    assert audit.exchange_count(df) == 1  # single agg shuffle


def test_q45_split_is_shuffle_free_until_agg(entry_spark):
    # the split assignment itself is a narrow projection; the only exchange
    # is the final 3-group aggregate
    df = E.queries()["q45_hash_split"](entry_spark, SF)
    assert audit.exchange_count(df) == 1
    assert audit.codegen_stage_count(df) >= 1


def test_q48_packing_single_window_exchange(entry_spark):
    df = E.queries()["q48_sequence_packing"](entry_spark, SF)
    # one exchange for the per-lang window, one for the bin aggregate; the
    # window must NOT be a global single partition
    assert audit.exchange_count(df) <= 2
    assert "SinglePartition" not in audit.physical_plan(df, "simple")


def test_q49_ivf_corpus_joins_are_broadcast_or_equi(entry_spark):
    df = E.queries()["q49_ivf_topk"](entry_spark, SF)
    joins = audit.join_strategies(df)
    # centroid assignment: corpus × broadcast(8 centroids) BNLJ is the only
    # nested-loop; candidate generation must be equi-joins (hash), never a
    # corpus-sized cross join
    assert joins.get("SortMergeJoin", 0) == 0
    assert audit.codegen_stage_count(df) >= 1


def test_q44_tfidf_corpus_count_broadcast(entry_spark):
    df = E.queries()["q44_tfidf_keywords"](entry_spark, SF)
    joins = audit.join_strategies(df)
    # the 1-row corpus-size frame joins via broadcast NLJ; token df join is
    # a hash join on token
    assert joins.get("BroadcastNestedLoopJoin", 0) == 1


def test_scnlist_queries_prune_columns(landsat_scenes, tmp_path, spark):
    """Stage-list reads over a real parquet catalog only scan the columns
    they filter/select on."""
    from eodatadown_spark import queries as Q
    from eodatadown_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write(landsat_scenes, "landsat_scenes")
    df = Q.get_scnlist_download(cat.read("landsat_scenes"))
    counts = audit.scan_column_counts(df)
    # pid, date_acquired, downloaded, invalid (+partition col not in scan)
    assert counts and counts[0] <= 5
    pf = audit.pushed_filters(df)
    assert any("downloaded" in f for f in pf)


def test_q59_asof_single_exchange(entry_spark):
    """The as-of join is one keyed-window shuffle — no nested loop, no
    second exchange (SCALING.md temporal-joins claim)."""
    df = E.queries()["q59_asof_join"](entry_spark, SF)
    assert audit.exchange_count(df) == 1
    joins = audit.join_strategies(df)
    assert joins.get("BroadcastNestedLoopJoin", 0) == 0


def test_q61_range_join_is_equi(entry_spark):
    """The interval join runs as a hash/sort-merge equi-join on
    (key, bucket) — never a nested-loop theta join."""
    df = E.queries()["q61_range_join"](entry_spark, SF)
    joins = audit.join_strategies(df)
    assert joins.get("BroadcastNestedLoopJoin", 0) == 0
    assert joins.get("CartesianProduct", 0) == 0
    assert (joins.get("BroadcastHashJoin", 0) + joins.get("SortMergeJoin", 0)) >= 1


def test_q77_substring_contamination_broadcasts_needles(entry_spark):
    """The corpus side never shuffles: needles broadcast into one
    BroadcastNestedLoopJoin with a codegen'd contains predicate, and the
    needle scan's doc_id < 8 filter is pushed to parquet."""
    df = E.queries()["q77_substring_contamination"](entry_spark, SF)
    joins = audit.join_strategies(df)
    assert joins.get("BroadcastNestedLoopJoin", 0) == 1
    assert audit.exchange_count(df) == 0
    assert "LessThan(doc_id" in ",".join(audit.pushed_filters(df))


def test_q78_overlap_is_single_equi_join(entry_spark):
    """Boundary-string equi-join — no nested loop, no cartesian."""
    df = E.queries()["q78_prefix_suffix_overlap"](entry_spark, SF)
    joins = audit.join_strategies(df)
    assert joins.get("BroadcastNestedLoopJoin", 0) == 0
    assert joins.get("CartesianProduct", 0) == 0
    assert sum(joins.values()) == 1


def test_q79_dup_ngram_two_exchanges_no_join(entry_spark):
    """Window formulation: gram-count is a count-over-gram window, so the
    whole metric is exactly two shuffles (gram, then doc) and ZERO joins —
    one exchange fewer than aggregate-then-rejoin, which can't reuse the
    gram exchange."""
    df = E.queries()["q79_dup_ngram_fraction"](entry_spark, SF)
    assert audit.exchange_count(df) == 2
    assert audit.join_strategies(df) == {}


def test_q84_q88_broadcast_shapes(entry_spark):
    """q84 (TPC-H Q3 shape): the customer dim broadcasts, no nested loop;
    q88: the one-row scalar aggregate joins as a broadcast nested loop (the
    correct shape for a scalar — not a shuffle)."""
    q3 = E.queries()["q84_shipping_priority"](entry_spark, SF)
    joins = audit.join_strategies(q3)
    assert joins.get("BroadcastHashJoin", 0) >= 1
    scalar = E.queries()["q88_above_average_orders"](entry_spark, SF)
    joins = audit.join_strategies(scalar)
    assert joins.get("BroadcastNestedLoopJoin", 0) == 1
    assert audit.exchange_count(scalar) <= 1  # only the scalar agg


def test_q89_range_window_single_exchange(entry_spark):
    """The trailing-range window is exactly one keyed shuffle."""
    df = E.queries()["q89_trailing_range_window"](entry_spark, SF)
    assert audit.exchange_count(df) == 1
    assert audit.join_strategies(df) == {}


def test_q54_unigram_reuses_tf_exchange(entry_spark):
    """The twin tf subplans (scoring join + corpus counts) collapse to a
    ReusedExchange — the token stream is exploded for aggregation once per
    side, not recomputed for the total."""
    df = E.queries()["q54_unigram_lm"](entry_spark, SF)
    df.collect()  # AQE finalizes reuse at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_q93_weighted_sample_no_exchange(entry_spark):
    # A-ES sampling plans as TakeOrderedAndProject: per-partition top-k,
    # zero shuffles before the driver-bounded merge
    df = E.queries()["q93_weighted_sample"](entry_spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert audit.exchange_count(df) == 0


def test_q94_zorder_key_no_exchange(entry_spark):
    df = E.queries()["q94_zorder_layout"](entry_spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert audit.exchange_count(df) == 0
    assert audit.codegen_stage_count(df) >= 1  # interleave stays in codegen


def test_q91_merge_shares_key_exchange(entry_spark):
    # the ANSI-uniqueness window and the full-outer join hash on the same
    # key: Catalyst reuses the partitioning instead of re-shuffling the
    # source between the two operators
    df = E.queries()["q91_merge_upsert"](entry_spark, SF)
    # agg on o_custkey + window/join on c_custkey + final orderBy range —
    # anything beyond 4 exchanges means the window added its own shuffle
    assert audit.exchange_count(df) <= 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_q96_no_cartesian_and_broadcast_supplier(entry_spark):
    df = E.queries()["q96_sole_late_supplier"](entry_spark, SF)
    joins = audit.join_strategies(df)
    assert "CartesianProduct" not in joins
    assert joins.get("BroadcastHashJoin", 0) >= 1  # supplier dim broadcast


def test_q95_gaps_single_window_exchange(entry_spark):
    df = E.queries()["q95_event_gaps"](entry_spark, SF)
    assert audit.exchange_count(df) == 1  # one keyed lag-window shuffle


def test_q101_cdc_bounded_memory_shape(entry_spark):
    # chunking is per-row expression work; the dup profile deliberately
    # trades one extra exchange for bounded reducer memory (distinct-pair
    # aggregate + fp equi-join, NEVER a per-fp id list in window state)
    df = E.queries()["q101_cdc_dup_stats"](entry_spark, SF)
    joins = audit.join_strategies(df)
    assert "CartesianProduct" not in joins
    assert "BroadcastNestedLoopJoin" not in joins
    assert sum(joins.values()) == 1  # the single fp equi-join
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan  # the unbounded-state formulation
    assert audit.exchange_count(df) <= 4

def test_q103_knn_broadcast_queries(entry_spark):
    df = E.queries()["q103_knn_label_vote"](entry_spark, SF)
    joins = audit.join_strategies(df)
    # the query side broadcasts through the scoring cross join; the label
    # attach is a hash join on neighbor_id
    assert joins.get("BroadcastNestedLoopJoin", 0) == 1


def test_q146_multiprobe_single_bucket_exchange(entry_spark):
    """Multiprobe probe-set generation is pure Catalyst on the broadcast
    query side: the plan carries ONE exchange (the bucket equi-join's
    corpus side never shuffles beyond it) and a broadcast join."""
    df = E.queries()["q146_lsh_multiprobe"](entry_spark, SF)
    assert audit.exchange_count(df) <= 2
    assert "BroadcastHashJoin" in (audit.join_strategies(df) or {})


def test_q149_incremental_phash_broadcast_probe(entry_spark):
    """The new-batch band rows probe the index through a broadcast hash
    join (batch side small by construction); one exchange for the pair
    dedup."""
    df = E.queries()["q149_incremental_phash"](entry_spark, SF)
    # exchange_count sees every shuffle, the parallelism floor's
    # round-robin repartitions included (one per narrow scan under
    # defaultParallelism, so host-dependent); the bound is on the rest
    floors = audit.physical_plan(df, "simple").count("RoundRobinPartitioning")
    assert audit.exchange_count(df) - floors <= 2
    assert "BroadcastHashJoin" in (audit.join_strategies(df) or {})


def test_q147_sketch_rollup_bounded_exchanges(entry_spark):
    """KLL build + merge + exact-median verify: each groupBy is one
    partial→final exchange; no join-induced extra shuffles."""
    df = E.queries()["q147_quantile_sketch_rollup"](entry_spark, SF)
    assert audit.exchange_count(df) <= 3


def test_q120_bm25_single_exchange(entry_spark):
    """r14 (VERDICT r13 item 4): BM25 for a small query bag is one array
    traversal per document + ONE global single-partition aggregate (N,
    avgdl, per-term df all in the same row) broadcast back — the r13
    exploded shape paid 8 exchanges (doclen/tf/df aggregates, doc-keyed
    joins, final groupBy).  No token ever shuffles."""
    df = E.queries()["q120_bm25"](entry_spark, SF)
    assert audit.exchange_count(df) == 1
    joins = audit.join_strategies(df)
    # only the 1-row stats broadcast attaches (BNLJ on a literal-true
    # cross join of one row is the intended shape)
    assert "SortMergeJoin" not in joins and "ShuffledHashJoin" not in joins


# A final AQE plan as the SQL status store keeps it ("formatted" explain):
# a reused exchange, a window-group limit, the Initial Plan subtree of the
# outer plan and of a cached relation, per-node details, and a subquery.
CANNED_AQE_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (30)
+- == Final Plan ==
   ResultQueryStage (20), Statistics(sizeInBytes=8.0 EiB)
   +- * Filter (19)
      +- Window (18)
         +- WindowGroupLimit (17)
            +- * Sort (16)
               +- * SortMergeJoin Inner (15)
                  :- * Sort (9)
                  :  +- AQEShuffleRead (7)
                  :     +- ShuffleQueryStage (6), Statistics(sizeInBytes=672.0 B, rowCount=28)
                  :        +- Exchange (5)
                  :           +- * HashAggregate (4)
                  :              +- * ColumnarToRow (2)
                  :                 +- Scan parquet  (1)
                  +- * Sort (14)
                     +- TableCacheQueryStage (13), Statistics(sizeInBytes=80.0 B, rowCount=5)
                        +- InMemoryTableScan (12) (columnarIn=false, columnarOut=true)
                              +- InMemoryRelation (11)
                                    +- AdaptiveSparkPlan (25)
                                    +- == Final Plan ==
                                       ResultQueryStage (23)
                                       +- ShuffleQueryStage (22), Statistics(sizeInBytes=672.0 B, rowCount=28)
                                          +- ReusedExchange (21)
                                    +- == Initial Plan ==
                                       Exchange (24)
                                       +- Scan parquet  (1)
            +- BroadcastQueryStage (27), Statistics(sizeInBytes=1.0 KiB)
               +- BroadcastExchange (26)
                  +- * Scan ExistingRDD (8)
+- == Initial Plan ==
   Filter (29)
   +- Window (28)
      +- SortMergeJoin Inner (31)
         :- Exchange (32)
         +- Exchange (33)


(1) Scan parquet
Output [2]: [doc_id#0L, text#1]
ReadSchema: struct<doc_id:bigint,text:string>

(5) Exchange
Input [2]: [k#1L, count#22L]
Arguments: hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=72]

===== Subqueries =====

Subquery:1 Hosting operator id = 19 Hosting Expression = Subquery subquery#26, [id=#367]
AdaptiveSparkPlan (40)
+- == Final Plan ==
   ResultQueryStage (38)
   +- * HashAggregate (37)
      +- ShuffleQueryStage (36), Statistics(sizeInBytes=96.0 B, rowCount=4)
         +- Exchange (35)
            +- * Range (34)
+- == Initial Plan ==
   HashAggregate (39)
   +- Exchange (41)

(34) Range
Output [1]: [id#28L]
"""


def test_plan_nodes_parses_a_canned_aqe_plan():
    nodes = audit.plan_nodes(CANNED_AQE_PLAN)
    # two shuffles ran: the join side and the subquery's aggregate; the
    # reused one and the broadcast are their own node names, and no
    # Initial Plan subtree (outer, cached or subquery) is counted
    assert nodes["Exchange"] == 2
    assert nodes["ReusedExchange"] == 1
    assert nodes["BroadcastExchange"] == 1
    assert nodes["WindowGroupLimit"] == 1 and nodes["Window"] == 1
    assert nodes["SortMergeJoin"] == 1
    assert nodes["Scan parquet"] == 1 and nodes["Scan ExistingRDD"] == 1
    assert nodes["Filter"] == 1  # the Initial Plan's Filter is skipped
    assert nodes["Range"] == 1   # the subquery tree, not its details
    # the "simple" explain form of the same nodes parses alike
    simple = """\
AdaptiveSparkPlan isFinalPlan=false
+- *(2) Project [k#1L]
   +- WindowGroupLimit [k#1L], [c#2L ASC NULLS FIRST], row_number(), 2, Final
      +- *(1) BroadcastHashJoin [k#1L], [k#8L], Inner, BuildRight, false
         :- *(1) FileScan parquet [k#1L] Batched: true, ReadSchema: struct<k:bigint>
         :  +- ReusedExchange [k#8L], Exchange hashpartitioning(k#1L, 4)
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]))
            +- Exchange hashpartitioning(k#8L, 4), ENSURE_REQUIREMENTS, [plan_id=5]
               +- *(1) Scan ExistingRDD[k#8L]
"""
    nodes = audit.plan_nodes(simple)
    assert nodes["Exchange"] == 1 and nodes["ReusedExchange"] == 1
    assert nodes["BroadcastExchange"] == 1
    assert nodes["Scan parquet"] == 1 and nodes["Scan ExistingRDD"] == 1
    assert nodes["WindowGroupLimit"] == 1 and nodes["Project"] == 1


SF01 = os.path.join(os.path.dirname(SF), "sf0.01")


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.01 test data not present")
def test_recorded_counts_every_execution(entry_spark):
    """The run record reads every job and SQL execution a block created,
    including the ones the fused cluster entries run on pool threads."""
    from bench import free_pinned, run_once

    records = {}
    for name in ("q120_bm25", "q150_incremental_clusters"):
        with audit.recorded(entry_spark, name) as rec:
            run_once(E.queries()[name](entry_spark, SF01))
        free_pinned(entry_spark)
        records[name] = rec
    q120, q150 = records["q120_bm25"], records["q150_incremental_clusters"]
    assert q120["sql_actions"] == 1
    assert q120["shuffle_exchanges"] == 1
    assert q120["shuffle_bytes"] > 0
    assert len(q120["plans"]) == 1
    assert q150["sql_actions"] <= 10
    assert q150["jobs"] <= 54
    assert q150["nodes"]["Scan ExistingRDD"] > 0  # the pins' own executions
    with audit.recorded(entry_spark, "nothing") as rec:
        pass
    assert (rec["jobs"], rec["sql_actions"], rec["nodes"]) == (0, 0, {})


STRUCTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_structure.json",
)


def test_bench_structure_matches_committed(entry_spark):
    """The bench's structure gate: every HEADLINE and EXTENDED entry runs
    once at sf0.001 on this session (local[4], 4 shuffle partitions) under
    ``audit.recorded``, and its jobs, SQL actions, shuffle exchanges and
    shuffle bytes must equal BENCH_structure.json.  Any difference fails,
    a drop as well as a rise, so the committed file never goes stale.
    The failure message ends with the whole observed table in the file's
    own layout; after checking the differences are intended, refresh the
    file by copying that table into it."""
    import bench

    with open(STRUCTURE, encoding="utf-8") as fh:
        committed = json.load(fh)
    observed = {}
    for name in bench.HEADLINE + bench.EXTENDED:
        with audit.recorded(entry_spark, name) as rec:
            bench.run_once(E.queries()[name](entry_spark, SF))
        bench.free_pinned(entry_spark)
        observed[name] = {field: rec[field] for field in bench.STRUCTURE_FIELDS}
    diffs = []
    for name, row in observed.items():
        for field, value in row.items():
            old = committed.get(name, {}).get(field)
            if old != value:
                diffs.append(f"{name} {field}: committed {old}, observed {value}")
    diffs += [f"{name}: committed but not a bench entry"
              for name in committed if name not in observed]
    table = "{\n" + ",\n".join(
        f" {json.dumps(name)}: {json.dumps(row)}" for name, row in observed.items()
    ) + "\n}"
    assert not diffs, (
        "\n".join(diffs)
        + f"\n\nobserved table (copy into {os.path.basename(STRUCTURE)}):\n"
        + table
    )
