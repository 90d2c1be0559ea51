"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

Each query executes to completion through the `noop` DataSourceV2 sink so
the full plan runs (a bare .count() would let Catalyst prune projections).
Every timed block runs through :func:`sample`, which reads each run's
record from `eodatadown_spark.plans.audit.recorded`; the sidecar
(BENCH_extended_latest.json) keeps each entry's structure row next to
its wall times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from eodatadown_spark.plans.audit import recorded  # noqa: E402
from eodatadown_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family, weighted toward the scale-relevant
# ops (joins, window dedup, minhash, similarity, text profile, rollups).
#
# NO-REGRESSION RULE: the plan structure of every HEADLINE and EXTENDED
# entry (jobs, SQL actions, shuffle exchanges, shuffle bytes) is gated by
# tests/test_plans.py against the committed BENCH_structure.json; each
# bench run records the same rows at its own scale factor (`structure` in
# the sidecar).  Wall time is a single-draw median with its [min, max]
# spread: a warm median delta counts as a regression only if the spreads
# of the two runs (queries_warm_spread) do NOT overlap.  At sf0.1 the
# dimension scans of the small-parquet join family (q10 and kin) land on
# ≤3 input partitions (SCALING.md "3-partition CPU trap"), so their warm
# medians move ±0.4 s with host scheduling noise while the plan (4 BHJ,
# 2 exchanges, pushed filters — asserted in
# tests/test_plans.py::test_q10_dims_broadcast) is already the wanted one;
# chasing the median inside the spread churns plans for noise.
HEADLINE = [
    "q01_pricing_summary",
    "q02_date_range_page",
    "q05_inlist_month",
    "q07_keep_latest",
    "q10_revenue_by_nation",
    "q13_summary_stats",
    "q17_obs_date_rollup",
    "q20_text_profile",
    "q23_cosine_topk",
    "q24_minhash_neardup",
    "q26_window_rollup",
    "q29_sessionize",
    "q31_topk_per_group",
]

# round-4/5 operators benched warm-only in a separate JSON section
# (headline membership is frozen for round-over-round comparability)
EXTENDED = [
    "q91_merge_upsert",
    "q93_weighted_sample",
    "q96_sole_late_supplier",
    "q97_incremental_rollup",
    "q101_cdc_dup_stats",
    "q107_semantic_dedup",
    "q109_funnel",
    "q111_sliding_window",
    "q113_vocab_overlap",
    "q120_bm25",
    "q126_transitions",
    "q131_prefix_jaccard",
    "q134_mmr_rerank",
    # round-7 operators
    "q139_phash_neardup",
    "q146_lsh_multiprobe",
    "q149_incremental_phash",
    "q150_incremental_clusters",
    # round-8 operators
    "q152_positional_prefix",
    "q153_ivf_stored_probe",
    "q154_incremental_simhash",
    # round-9 operators
    "q155_sq8_stored_probe",
    "q156_clusters_via_stored_index",
    "q157_bpe_encode",
    # round-10 operators
    "q158_bbox_only_page",
    "q159_bpe_train_encode",
    "q166_line_dedup",
    # q167/q170 are TRAININGS, not queries: fused timing here re-trained
    # the classifier 4x per entry (VERDICT r10 item 4).  Their one-training
    # build cost + steady-state probe cost live in queries_incremental_split
    # (E.incremental_phases: dense q167, sparse q170) — each path trains
    # exactly once per bench run.
    "q168_entropy_signals",
    "q171_count_min",
    # round-11 operators
    "q178_keyset_page",
    "q179_bloom_gate",
    "q180_duplicated_spans",
    "q182_span_cut",
    "q172_hard_negatives",
    "q173_cms_rollup_gate",
    "q174_normalize_text",
    "q175_template_strip",
    "q176_containment_pairs",
    "q177_footer_strip",
    # round-12 operators: the char-granular ExactSubstr family
    "q183_char_spans",
    "q184_char_span_cut",
]


def run_once(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def free_pinned(spark) -> int:
    """Unpersist every persistent RDD (localCheckpoint blocks included).

    The pinned operators (``dedup._pin``) localCheckpoint their
    intermediates, and those blocks are NEVER auto-freed — across the
    extended/incremental sections each timed invocation leaves new pins
    behind, so block-manager memory ratchets up and the sections timed
    LAST pay alien GC/eviction pressure (measured round 12: the e2e
    pipeline read 36 s inside the bench vs 12.8 s in a fresh session —
    a 3x contamination, not an engine regression; q24's sf1 warm read
    22 s with q23's blocks live vs 2.6 s freed).  Called BETWEEN
    measurements everywhere except inside an incremental-split entry,
    whose state DataFrames must keep their blocks until its last sample.
    Returns the number of RDDs freed."""
    jrdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for jrdd in jrdds:
        # blocking: an async removal would overlap (and tax) the NEXT
        # timed measurement — pay the cleanup here, between timings
        jrdd.unpersist(True)
    return len(jrdds)


# the load-independent plan facts of one run record: the bench sidecar's
# `structure` rows and the committed BENCH_structure.json share them
STRUCTURE_FIELDS = (
    "jobs", "sql_actions", "shuffle_exchanges", "shuffle_bytes",
)


def sample(spark, label: str, fn, n: int = 1, free: bool = True) -> dict:
    """The bench's one sampling path: run ``fn()`` ``n`` times, each run
    under :func:`recorded` and followed by :func:`free_pinned` unless
    ``free`` is False (inside an incremental entry, whose state must keep
    its blocks).  Returns the median ``wall_s``, the ``[min, max]``
    ``spread``, the last run's ``structure`` row and ``plan``: the
    distinct executed-plan node counts of the runs and whether they
    differ (``plan_flipped``, an AQE flip), so a wall swing under one
    signature is the host's, not the plan's."""
    walls, sigs = [], set()
    for _ in range(n):
        with recorded(spark, label) as rec:
            fn()
        if free:
            free_pinned(spark)
        walls.append(rec["wall_s"])
        sigs.add(",".join(f"{k}:{v}" for k, v in rec["nodes"].items()))
    walls.sort()
    return {
        "wall_s": walls[len(walls) // 2],
        "spread": [walls[0], walls[-1]],
        "structure": {field: rec[field] for field in STRUCTURE_FIELDS},
        "plan": {"plan_flipped": len(sigs) > 1, "distinct_sigs": sorted(sigs)},
    }


def e2e_pipeline(spark, sf_dir: str) -> tuple[float, list[dict]]:
    """End-to-end state-machine wall time (VERDICT r5 item 7): the full
    CLI lifecycle — index ingest (chknewscns) → process stage
    (read-modify-write through the versioned catalog) → summary → obs-date
    report — against a landsat-index-shaped view of the orders table, so
    the M1-M6 read-modify-write overhead is tracked round-over-round, not
    just per-query analytics.

    Each phase runs under :func:`recorded`; returns the summed phase wall
    seconds (the recorder's own reads are outside them) and the phase
    records, plan texts dropped."""
    import contextlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from eodatadown_spark import pipeline, reports, run
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.sensor import get_sensor_obj
    from eodatadown_spark.sources.index_adapters import landsat_index_scenes

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = F.date_format("o_orderdate", "yyyy-MM-dd")
    dc = F.date_format("o_orderdate", "yyyyMMdd")
    raw = orders.select(
        F.concat(F.lit("SC_"), F.col("o_orderkey")).alias("scene_id"),
        # field 4 (0-indexed) must be the yyyyMMdd processing date the
        # dedup stage parses (ingest.parse_product_process_date)
        F.concat(
            F.lit("LC08_L1TP_001001_"), dc, F.lit("_"), dc, F.lit("_01_T1_"),
            F.col("o_orderkey"),
        ).alias("product_id"),
        F.lit("LANDSAT_8").alias("spacecraft_id"),
        F.lit("OLI_TIRS").alias("sensor_id"),
        d.alias("date_acquired"),
        F.concat(d, F.lit("T10:00:00.000000Z")).alias("sensing_time"),
        F.lit("01").alias("collection_number"),
        F.lit("T1").alias("collection_category"),
        F.lit("L1TP").alias("data_type"),
        (F.col("o_orderkey") % 233).cast("string").alias("wrs_path"),
        (F.col("o_orderkey") % 248).cast("string").alias("wrs_row"),
        (F.col("o_custkey") % 100).cast("string").alias("cloud_cover"),
        ((F.col("o_custkey") % 80) - 30).cast("string").alias("north_lat"),
        ((F.col("o_custkey") % 80) - 32).cast("string").alias("south_lat"),
        ((F.col("o_orderkey") % 360) - 178).cast("string").alias("east_lon"),
        ((F.col("o_orderkey") % 360) - 180).cast("string").alias("west_lon"),
        F.col("o_totalprice").cast("long").cast("string").alias("total_size"),
        F.concat(F.lit("gs://bench/"), F.col("o_orderkey")).alias("base_url"),
    )
    phases: list[dict] = []

    @contextlib.contextmanager
    def phase(label: str):
        with recorded(spark, label) as rec:
            yield
        del rec["plans"]
        phases.append(rec)

    work = tempfile.mkdtemp(prefix="eodd_bench_e2e_")
    try:
        with phase("init_sensor_db"):
            cat = ParquetCatalog(spark, work)
            sensor = get_sensor_obj("LandsatGOOG", cat)
            sensor.init_sensor_db()
        with phase("check_new_scns"):
            sensor.check_new_scns(landsat_index_scenes(raw))
        with phase("scenes_need_processing"):
            catalog = cat.read_clean("landsat_scenes")
            pipeline.scenes_need_processing(catalog).count()
        with phase("run_stage_download"):
            sensor.run_stage(
                sensor.get_scnlist_download(),
                lambda s: {"pid": s["pid"], "downloaded": True,
                           "download_path": f"{work}/dl/{s['pid']}"},
                run.STAGES["download"][1],
            )
        with phase("summary_counts"):
            catalog = cat.read_clean("landsat_scenes")
            reports.sensor_summary_counts(catalog).first()
        with phase("column_stats"):
            reports.column_stats(catalog, "total_size", approx=True).first()
        with phase("obs_dates"):
            obs, _bridge = reports.build_obs_date_records(
                catalog, "LandsatGOOG")
            reports.get_obs_scns(obs).count()
        return round(sum(p["wall_s"] for p in phases), 3), phases
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    t_start = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")

    queries = E.queries()

    def query(name: str, at: str = sf_dir):
        return lambda: run_once(queries[name](spark, at))

    # JVM/codegen warmup on the smallest table so q01 doesn't absorb startup
    run_once(queries["q27_top1_watermark"](spark, sf_dir))

    # wall seconds per bench section, each timed from the end of the last
    section_wall: dict[str, float] = {}
    mark = time.perf_counter()

    def end_section(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        section_wall[name] = round(now - mark, 3)
        mark = now

    # pins freed between measurements since r12 (see free_pinned):
    # carrying a pinned query's blocks into the next measurement
    # contaminated it (8x on the sf1 block, 3x on e2e); flagged in the
    # payload as bench_methodology for round-over-round reads.  The cold
    # pass gives each entry's structure row.
    timings: dict[str, float] = {}
    structure: dict[str, dict] = {}
    for name in HEADLINE:
        cold = sample(spark, name, query(name))
        timings[name] = cold["wall_s"]
        structure[name] = cold["structure"]
    end_section("headline_cold")
    total = round(sum(timings.values()), 3)

    # warm passes: same plans re-executed — codegen/compile cost is gone, so
    # this is the data-proportional steady-state number (the one that
    # extrapolates to cluster scale); the cold pass above stays the headline
    # for round-over-round comparability.  Three samples per query from ONE
    # draw, reported as median plus [min, max] spread, with the executed
    # (post-AQE) plan signatures of the samples, so an AQE flip
    # (plan_flipped=true) is recorded evidence and an unflipped 2x swing
    # indicts the host.  Structural regressions are gated by
    # tests/test_plans.py against BENCH_structure.json, not by wall time.
    warm: dict[str, float] = {}
    warm_spread: dict[str, list[float]] = {}
    plan_sigs: dict[str, dict] = {}
    for name in HEADLINE:
        res = sample(spark, name, query(name), 3)
        warm[name] = res["wall_s"]
        warm_spread[name] = res["spread"]
        plan_sigs[name] = res["plan"]
    end_section("headline_warm")

    # extended (non-headline) section: round-4 operators timed warm-only.
    # Kept OUT of HEADLINE so the headline total stays round-over-round
    # comparable; these numbers track the new operators' own trajectory.
    extended: dict[str, float] = {}
    extended_spread: dict[str, list[float]] = {}
    for name in EXTENDED:
        run_once(queries[name](spark, sf_dir))  # warm-up pass
        free_pinned(spark)
        res = sample(spark, name, query(name), 3)
        extended[name] = res["wall_s"]
        extended_spread[name] = res["spread"]
        structure[name] = res["structure"]
        plan_sigs[name] = res["plan"]
    end_section("extended")

    # Stored-index build vs per-batch probe (VERDICT r8 item 3): the
    # EXTENDED timings above fuse index construction with the probe, so
    # they say nothing about the cost a continuous-ingest user pays per
    # batch.  Here the persistent state is built+materialized (timed) and
    # the batch probe is timed separately (median of 3 after warm-ups)
    # against the already-materialized state — the steady-state number.
    #
    # Builds get the spread treatment probes got in r12 (VERDICT r12 item
    # 5: q167's dense-GD build read 19/21.7/77.6 s across three runs —
    # maximally load-sensitive many-small-jobs loops).  build_sec stays
    # the FIRST (cold) build for r12 comparability — it is the one-shot
    # cost a real user pays; repeats, all kept in build_samples, show its
    # reproducibility: one repeat always, a second only when the build is
    # cheap (<8 s) so the section cannot blow the bench's time budget.
    incr_split: dict[str, dict] = {}
    incr_phases = E.incremental_phases()
    # ONE untimed warmup build before the first timed entry (VERDICT r13
    # item 7): the very first build of a bench run pays JVM/JIT warmup
    # for the whole build-job family (~2x the settled repeats, measured
    # r13), and that tax landed on whichever entry happened to run
    # first, widening its build spread.  The warmup state is
    # discarded and its pins freed — every TIMED number below still
    # recomputes from the parquet inputs; marked in the sidecar as
    # incremental_methodology.
    if incr_phases:
        next(iter(incr_phases.values()))[0](spark, sf_dir)
        free_pinned(spark)
    for name, (build, probe) in incr_phases.items():
        box: dict = {}

        def build_once():
            box["state"] = build(spark, sf_dir)

        first = sample(spark, name, build_once, free=False)
        build_samples = [first["wall_s"]]
        for _ in range(2 if first["wall_s"] < 8.0 else 1):
            # free the previous build's pinned blocks FIRST — repeats must
            # not be timed under (or leave the probes under) a prior
            # build's block-manager pressure
            free_pinned(spark)
            build_samples.append(
                sample(spark, name, build_once, free=False)["wall_s"])
        state = box["state"]
        # TWO warm-up passes (VERDICT r11 item 2, root-caused): probes
        # like q150's are multi-ACTION plans (pins, counts, a driver
        # union-find collect) — the first post-build pass still pays
        # leftover codegen/JIT for that job family (measured: 8.2 s first
        # vs 5.2-6.6 s settled over 8 runs), which is exactly the 2x
        # "spread" r11 flagged.
        run_once(probe(spark, sf_dir, state))
        run_once(probe(spark, sf_dir, state))
        res = sample(
            spark, name, lambda: run_once(probe(spark, sf_dir, state)), 3,
            free=False,
        )
        free_pinned(spark)  # entry done — its state blocks are dead
        plan_sigs[f"{name}:probe"] = res["plan"]
        incr_split[name] = {
            "build_sec": build_samples[0],
            "build_samples": build_samples,
            "build_structure": first["structure"],
            "probe_sec": res["wall_s"],
            "probe_spread": res["spread"],
            "probe_structure": res["structure"],
        }
    end_section("incremental_split")
    aqe_flips = sum(1 for v in plan_sigs.values() if v["plan_flipped"])

    # ANN retrieval quality at the bench scale factor: recall@10 vs exact
    # cosine for each approximate index (same configs the pytest floors
    # gate) — correctness-vs-oracle proves the plans, recall proves the
    # approximations still RETRIEVE; tracked round-over-round here.
    import eodatadown_spark.operators.similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint()
    qvecs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint()
    ann_exact = S.cosine_topk(emb, qvecs, k=10).localCheckpoint()
    n_corpus = emb.count()
    sq8_scalars = S.sq8_train(emb)
    ann_recall = {
        "ivf_np4": round(S.topk_recall(
            S.ivf_topk(emb, qvecs, k=10, n_centroids=8, n_probe=4), ann_exact
        ), 3),
        "ivf_np6": round(S.topk_recall(
            S.ivf_topk(emb, qvecs, k=10, n_centroids=8, n_probe=6), ann_exact
        ), 3),
        # shortlist scales with the corpus (q80's rule): a fixed shortlist
        # starves the exact rerank as the corpus grows and would read as
        # quality drift when it is really a mis-sized knob
        "ivf_pq_np8": round(S.topk_recall(
            S.ivf_pq_topk(emb, qvecs, k=10, n_centroids=8, n_probe=8,
                          m=8, n_codes=16,
                          shortlist=max(120, n_corpus // 5)),
            ann_exact,
        ), 3),
        # SQ8 (VERDICT r8 item 2): fixed-50 shortlist tracks the raw 8-bit
        # approximation quality; the corpus-scaled shortlist follows q80's
        # sizing rule (fixed shortlists starve the exact rerank as the
        # corpus grows and read as quality drift)
        "sq8_sl50": round(S.topk_recall(
            S.sq8_topk(emb, qvecs, k=10, shortlist=50, scalars=sq8_scalars),
            ann_exact,
        ), 3),
        "sq8_sl_scaled": round(S.topk_recall(
            S.sq8_topk(emb, qvecs, k=10, scalars=sq8_scalars,
                       shortlist=max(50, n_corpus // 10)),
            ann_exact,
        ), 3),
        "lsh_p4_t8": round(S.topk_recall(
            S.lsh_bucket_topk(emb, qvecs, k=10, n_planes=4, dim=64,
                              n_tables=8),
            ann_exact,
        ), 3),
        "lsh_p4_t8_mp2": round(S.topk_recall(
            S.lsh_bucket_topk(emb, qvecs, k=10, n_planes=4, dim=64,
                              n_tables=8, n_probe=2),
            ann_exact,
        ), 3),
    }
    end_section("ann_recall")

    # e2e is measured twice and the SECOND run is the headline: the first
    # pass pays cold page-cache/tempdir costs that swing 2-3x with host
    # state (measured r11: 35.7 cold vs 9.4-11.7 converged on BOTH the
    # r10 and r11 trees) — the steady-state number is the one that
    # compares round-over-round; the cold one is recorded alongside.
    free_pinned(spark)  # ann section's checkpoints are dead past here
    e2e_cold_sec, e2e_cold_phases = e2e_pipeline(spark, sf_dir)
    e2e_sec, e2e_phases = e2e_pipeline(spark, sf_dir)
    end_section("e2e")

    # sf1.0 headline (VERDICT r11 item 6): round-over-round SCALE tracking
    # inside the artifact, not just SCALING.md prose.  Five queries with
    # known sf1 baselines (BENCH_sf1.json, round 4), cold+warm, against a
    # cached 10x scale-up of the driver's sf0.1 data (generated once by
    # tools/gen_scale_data.py into .cache/sf1; ~2 min, then reused every
    # round).  Fail-safe: any error leaves the block null rather than
    # killing the bench.
    try:
        if os.environ.get("SPARK_GRAFT_SKIP_SF1"):
            raise RuntimeError("skipped: SPARK_GRAFT_SKIP_SF1 set")
        # time-budget guard: the sf1 block is a bonus artifact — on a host
        # slow enough that the sf0.1 sections already took >25 min, skip
        # it rather than risk the whole bench overrunning the driver
        if time.time() - t_start > 1500:
            raise RuntimeError("skipped: sf0.1 sections exceeded 25 min")
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".cache", "sf1"),
        )
        if not os.path.exists(os.path.join(sf1_dir, "documents.parquet")):
            import subprocess

            os.makedirs(sf1_dir, exist_ok=True)
            subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "tools", "gen_scale_data.py"),
                 sf1_dir, "10"],
                check=True, capture_output=True, timeout=1200,
            )
        sf1_queries = [
            "q01_pricing_summary", "q10_revenue_by_nation",
            "q20_text_profile", "q23_cosine_topk", "q24_minhash_neardup",
        ]
        sf1_cold, sf1_warm = {}, {}
        # free pins between sf1 queries: at this scale a single query's
        # pinned blocks (q23/q24 checkpoint 10x-size relations) are large
        # enough that carrying them across queries contaminated the next
        # measurements 8x (measured: q24 warm 22 s with q23's blocks live
        # vs 2.6 s freed)
        for times in (sf1_cold, sf1_warm):
            for name in sf1_queries:
                times[name] = sample(
                    spark, name, query(name, sf1_dir))["wall_s"]
        sf1_block = {
            "queries_cold": sf1_cold,
            "queries_warm": sf1_warm,
            "total_warm": round(sum(sf1_warm.values()), 3),
        }
    except Exception as exc:  # noqa: BLE001 — never kill the bench for sf1
        sf1_block = {"error": str(exc)[:200]}
    end_section("sf1")

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    extended_payload = {
        "metric": "headline_queries_extended",
        "queries_warm_spread": warm_spread,
        "warm_plan_signatures": plan_sigs,
        "structure": structure,
        "queries_extended_warm": extended,
        "queries_extended_warm_spread": extended_spread,
        "queries_incremental_split": incr_split,
        "incremental_methodology": "first_build_jit_warmup_since_r14",
        "ann_recall": ann_recall,
        "sf1_headline": sf1_block,
        "e2e_phases": {"cold": e2e_cold_phases, "warm": e2e_phases},
        "section_wall_s": section_wall,
        "sf": sf_val,
    }
    # extended sections go FIRST (and to a sidecar file): the driver's
    # artifact keeps only the TAIL of stdout (2000 chars in r12), so the
    # required one-line JSON prints LAST and short enough to always
    # survive the capture
    print(json.dumps(extended_payload))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_extended_latest.json"), "w"
        ) as fh:
            json.dump(extended_payload, fh, indent=1)
    except OSError:
        pass
    # Final line (VERDICT r12 item 2: BENCH_r12 recorded "parsed": null
    # because this line outgrew the driver's 2000-char tail buffer).
    # Budget: headline cold+warm per-query numbers, compact sf1 summary,
    # methodology markers.  Everything bulky (ann_recall, incremental
    # splits, spreads, structure rows, plan signatures, sf1 per-query
    # detail) lives in the sidecar above.  A hard length guard drops
    # optional keys rather than ever again emitting an unparseable
    # official artifact.
    sf1_compact = sf1_block
    if "total_warm" in sf1_block:
        sf1_compact = {"total_warm": sf1_block["total_warm"]}
    final_payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "total_warm": round(sum(warm.values()), 3),
        "e2e_pipeline_sec": e2e_sec,
        "e2e_pipeline_cold_sec": e2e_cold_sec,
        # ADVICE r11: e2e_pipeline_sec switched from the cold to the warm
        # (second) run in r11 — markers keep older artifacts comparable
        "e2e_methodology": "warm_second_run_since_r11",
        "bench_methodology": (
            "pins_freed_between_measurements_since_r12;"
            "single_draw_structure_gated"
        ),
        "aqe_flips_detected": aqe_flips,
        "sf1_headline": sf1_compact,
        "sf": sf_val,
    }
    # guard: the driver tail keeps 2000 chars — stay under 1900 with the
    # newline, shedding the least-essential keys first (all duplicated in
    # the sidecar or derivable from it)
    for drop in ("sf1_headline", "e2e_pipeline_cold_sec", "queries_warm"):
        if len(json.dumps(final_payload)) <= 1900:
            break
        final_payload.pop(drop, None)
    print(json.dumps(final_payload))
    spark.stop()


if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # emit a parseable payload even on failure so
        # the per-round artifact records WHAT broke instead of a bare rc=1
        import traceback

        frame = ""
        here = os.path.dirname(os.path.abspath(__file__))
        for fr in traceback.extract_tb(exc.__traceback__):
            if fr.filename.startswith(here):
                frame = f"{os.path.relpath(fr.filename, here)}:{fr.lineno}"
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": None,
                    "unit": "sec",
                    "bench_status": "error",
                    "error": f"{type(exc).__name__}: {str(exc)[:500]}",
                    "frame": frame,
                }
            )
        )
        raise
