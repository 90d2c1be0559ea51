"""Adversarial-skew property tests for the dedup family (SURVEY §7.4
item 7, round-5 VERDICT item 3): a boilerplate-heavy corpus — one shingle
set shared by 30% of documents — must (a) produce IDENTICAL output with
and without the hot-bucket escapes, (b) show the salted self-join
bounding per-reducer row counts, and (c) pass through the prefix-filtered
exact-Jaccard path without boilerplate candidate blow-up.

Measured hot-bucket figures are recorded in SCALING.md.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

BOILERPLATE = (
    "terms and conditions apply to every document in this corpus "
    "the following legal boilerplate text is repeated verbatim across "
    "a large fraction of all crawled pages which makes every one of its "
    "shingles enormously frequent and its minhash signature identical"
)


def _boiler_corpus(spark, n_total=120, boiler_frac=0.3):
    """30% of docs share ONE exact text (one shingle set → every band
    bucket is hot); the rest are distinct, plus 5 planted near-dup pairs
    (one trailing word changed on a 40-word base)."""
    n_boiler = int(n_total * boiler_frac)
    rows = [(i, BOILERPLATE) for i in range(n_boiler)]
    for i in range(n_boiler, n_total - 10):
        rows.append(
            (i, f"unique document number {i} with tokens alpha{i} beta{i} "
                f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}")
        )
    base_id = n_total - 10
    for p in range(5):
        words = [f"payload{p}word{w}" for w in range(40)]
        a = " ".join(words)
        words[-1] = "CHANGED"
        b = " ".join(words)
        rows.append((base_id + 2 * p, a))
        rows.append((base_id + 2 * p + 1, b))
    return spark.createDataFrame(rows, "doc_id long, text string"), n_boiler


@contextmanager
def _confs(spark, **kv):
    old = {}
    for k, v in kv.items():
        key = k.replace("_", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


class TestMinhashSkewEscapes:
    def test_salted_output_identical(self, spark):
        from eodatadown_spark.operators.dedup import minhash_neardup_pairs

        docs, n_boiler = _boiler_corpus(spark)
        base = _pairs_set(minhash_neardup_pairs(docs))
        salted = _pairs_set(minhash_neardup_pairs(docs, candidate_salts=8))
        assert salted == base
        # the mega-cluster: every boilerplate pair at jaccard 1.0
        boiler = {(a, b, j) for a, b, j in base
                  if a < n_boiler and b < n_boiler}
        assert len(boiler) == n_boiler * (n_boiler - 1) // 2
        assert all(j == 1.0 for _, _, j in boiler)
        # the planted near-dups all survive
        planted = {(a, b) for a, b, _ in base if a >= 110}
        assert planted == {(110 + 2 * p, 111 + 2 * p) for p in range(5)}

    def test_max_band_bucket_drops_mega_cluster_keeps_neardups(self, spark):
        from eodatadown_spark.operators.dedup import minhash_neardup_pairs

        docs, n_boiler = _boiler_corpus(spark)
        base = _pairs_set(minhash_neardup_pairs(docs))
        capped = _pairs_set(minhash_neardup_pairs(docs, max_band_bucket=20))
        boiler = {(a, b, j) for a, b, j in base
                  if a < n_boiler and b < n_boiler}
        # every boilerplate band bucket has 36 > 20 members → dropped;
        # everything else (small buckets) is untouched
        assert capped == base - boiler
        assert {(a, b) for a, b, _ in capped if a >= 110} == {
            (110 + 2 * p, 111 + 2 * p) for p in range(5)
        }

    def test_salting_bounds_reducer_rows(self, spark):
        """Physical check: max rows landing on one reducer partition of the
        candidate self-join, measured via spark_partition_id, drops by the
        salt factor.  AQE partition coalescing is disabled for the
        measurement (tiny test data would otherwise fold everything into
        one partition) and the reducer count is raised so the 8 hot band
        buckets cannot masquerade as balance."""
        from eodatadown_spark.operators.dedup import (
            _banded_candidate_pairs,
            minhash_band_index,
        )

        docs, _ = _boiler_corpus(spark)
        # force the 100 TB plan shape the salt targets: shuffle join (no
        # broadcast — at scale both sides are large), no AQE coalescing
        # (tiny test data would fold into one partition), no AQE skew
        # backstop (we are measuring the EXPLICIT escape), and enough
        # reducers that 8 hot band buckets cannot masquerade as balance
        with _confs(
            spark,
            **{
                "spark.sql.shuffle.partitions": "256",
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.skewJoin.enabled": "false",
            },
        ):
            banded = minhash_band_index(docs).localCheckpoint()

            def reducer_maxima(salts):
                rp = _banded_candidate_pairs(banded, salts, seed=42)
                pmax = max(
                    r["count"] for r in rp.groupBy(
                        F.spark_partition_id().alias("pid")
                    ).count().collect()
                )
                keys = ["band_idx", "band_hash"] + (
                    ["__salt"] if salts else []
                )
                kmax = max(
                    r["count"]
                    for r in rp.groupBy(*keys).count().collect()
                )
                return pmax, kmax

            un_pmax, un_kmax = reducer_maxima(None)
            sa_pmax, sa_kmax = reducer_maxima(8)
        # hot bucket = 36 boilerplate docs → all 630 pairs of a band's
        # bucket through ONE reducer unsalted (measured: pmax == kmax ==
        # 630); salting splits every bucket's pair generation across 8
        # keys (measured kmax 159 ≈ 630/8 + replication noise, pmax 288)
        assert un_pmax >= 630 and un_kmax == 630
        assert sa_kmax <= 630 // 8 + 100
        assert sa_pmax * 2 < un_pmax


class TestPrefixJaccardBoilerplate:
    def test_boilerplate_headers_generate_no_candidates(self, spark):
        """Docs sharing a frequent boilerplate HEADER (J below threshold)
        must not pair, and — the scale property — the prefix filter must
        keep them out of the candidate space entirely, unlike a full
        inverted-index join where every shared header shingle makes a
        candidate."""
        from eodatadown_spark.operators.dedup import (
            jaccard_prefix_pairs,
            shingle_hash_table,
        )

        rows = []
        for i in range(40):
            rows.append(
                (i, BOILERPLATE + f" body section {i} with its own "
                    f"private tokens aa{i} bb{i} cc{i} dd{i} ee{i} ff{i} "
                    f"gg{i} hh{i} ii{i} jj{i} kk{i} ll{i} mm{i} nn{i}")
            )
        for p in range(5):
            words = [f"near{p}tok{w}" for w in range(40)]
            a = " ".join(words)
            words[-1] = "FLIPPED"
            b = " ".join(words)
            rows.append((100 + 2 * p, a))
            rows.append((101 + 2 * p, b))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        got = {
            (r["id_a"], r["id_b"]) for r in
            jaccard_prefix_pairs(docs, threshold=0.8).collect()
        }
        assert got == {(100 + 2 * p, 101 + 2 * p) for p in range(5)}

        # candidate-volume contrast: full inverted index vs prefix filter
        sh = shingle_hash_table(docs).withColumnRenamed("hashes", "shingles")
        inv = sh.select("id", F.explode("shingles").alias("sh"))
        inverted_cands = (
            inv.alias("l").join(inv.alias("r"), "sh")
            .where(F.col("l.id") < F.col("r.id"))
            .select("l.id", "r.id").distinct().count()
        )
        # the 40 header docs alone give 780 inverted candidates; the
        # prefix filter indexes only each doc's rarest shingles, so the
        # frequent header shingles never generate a candidate
        assert inverted_cands >= 780
        prefix_cands = len(got)  # every candidate here verifies (planted)
        assert prefix_cands * 50 <= inverted_cands


def test_scaling_md_quotes_match(spark):
    """SCALING.md's adversarial-skew section quotes the measured figures;
    this test pins the numbers the doc quotes so they cannot drift."""
    docs, n_boiler = _boiler_corpus(spark)
    assert n_boiler == 36 and n_boiler * (n_boiler - 1) // 2 == 630


@pytest.mark.parametrize("op", [
    "dedup.minhash_band_index",
    "dedup.simhash_sketches",
    "classify.hashed_features",
    "classify.hashed_feature_sets",
])
def test_parallelism_floor_skips_exchange_bearing_inputs(spark, op):
    """The lazy operators always apply the parallelism floor, and the
    floor's LEAF-SCAN-ONLY contract is ENFORCED — ensure_min_parallelism
    skips the df.rdd partition probe whenever the physical plan carries
    an Exchange, so building the plan over a derived (exchange-bearing)
    input launches no job.  Asserted directly via job-group tracking."""
    import importlib

    mod, name = op.split(".")
    fn = getattr(
        importlib.import_module(f"eodatadown_spark.operators.{mod}"), name
    )
    docs, _ = _boiler_corpus(spark, n_total=40)
    derived = docs.join(docs.select("doc_id"), "doc_id")  # exchange upstream

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("floor_probe", "the exchange guard skips the probe")
    try:
        fn(derived)                                       # plan only
        jobs = tracker.getJobIdsForGroup("floor_probe")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == []


def test_floor_plumbs_through_public_minhash_entry_points(spark):
    """The floor guard changes no output: near-dup pairs over a derived
    (exchange-bearing) copy of the corpus equal those over the scan."""
    from eodatadown_spark.operators.dedup import minhash_neardup_pairs

    docs, _ = _boiler_corpus(spark, n_total=40)
    derived = docs.join(docs.select("doc_id"), "doc_id")  # exchange upstream
    base = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in minhash_neardup_pairs(docs).collect()}
    derived_out = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                   for r in minhash_neardup_pairs(derived).collect()}
    assert derived_out == base


def test_floor_reaches_a_scan_feeding_a_broadcast_join(spark, tmp_path):
    """Only a SHUFFLE exempts an input from the floor: a broadcast join
    keeps its streamed scan's partitioning, so a one-file scan feeding
    one still rises to defaultParallelism."""
    from eodatadown_spark.operators.dedup import ensure_min_parallelism
    from eodatadown_spark.plans.audit import plan_nodes

    path = str(tmp_path / "docs")
    spark.range(40).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).coalesce(1).write.parquet(path)
    tags = spark.createDataFrame(
        [(i, f"t{i}") for i in range(40)], "doc_id long, tag string"
    )
    joined = spark.read.parquet(path).join(F.broadcast(tags), "doc_id")
    nodes = plan_nodes(joined._jdf.queryExecution().executedPlan().toString())
    assert nodes["BroadcastExchange"] == 1 and nodes["Exchange"] == 0
    target = spark.sparkContext.defaultParallelism
    assert joined.rdd.getNumPartitions() < target
    floored = ensure_min_parallelism(joined)
    assert floored.rdd.getNumPartitions() == target
    assert floored.count() == 40


class TestSpanHotKey:
    """VERDICT r13 item 1: a span shared by EVERY document makes its
    window hash the hottest possible key.  The cross-doc distinct-doc
    count must be the sort-based idiom (dense_rank + max over the same
    ``wh`` partition) — rows-only window buffers, which WindowExec
    spills — never a per-``wh`` ``collect_set(id)`` whose in-memory set
    is O(distinct docs) on one task at 100 TB."""

    SHARED = "every document repeats this exact boilerplate passage verbatim"

    def _hot_corpus(self, spark, n=400):
        # one 8-token passage duplicated verbatim across ALL n docs: its
        # interior window hashes have distinct-doc count n (maximal skew)
        rows = [
            (i, f"unique lead {i} alpha{i} {self.SHARED} tail {i} omega{i}")
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_doc_marking_is_sort_based_and_correct(self, spark):
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        docs = self._hot_corpus(spark)
        out = duplicated_span_stats(docs, window=4, cross_doc_only=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "collect_set" not in plan  # the unbounded-buffer form
        # the marking still shares ONE exchange on wh (no broadcast, no
        # second shuffle for the distinct count)
        assert plan.count("hashpartitioning(wh") == 1
        got = {r["doc_id"]: r for r in out.collect()}
        # tokens: unique lead i alpha_i (0-3, i-specific) | 8 shared
        # (4-11) | tail i omega_i (12-14; "tail" itself is shared).
        # Cross-doc-duplicated window starts: 4..9 -> one maximal span
        # [4, 13) -> dup_tokens 9 on every single document.
        assert len(got) == 400
        for r in got.values():
            assert (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"]) == (
                15, 1, 9,
            )

    def test_cross_doc_probe_is_sort_based_and_additive(self, spark):
        from eodatadown_spark.operators.dedup import (
            duplicated_span_stats,
            duplicated_spans_against_index,
            span_hash_index,
        )

        docs = self._hot_corpus(spark)
        old = docs.where(F.col("doc_id") < 300)
        new = docs.where(F.col("doc_id") >= 300)
        idx = span_hash_index(old, window=4)
        out = duplicated_spans_against_index(
            new, idx, window=4, cross_doc_only=True
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "collect_set" not in plan
        # probe == full-corpus stats restricted to the batch (the stored
        # counters are exactly additive across disjoint id sets)
        want = {
            tuple(r)
            for r in duplicated_span_stats(
                docs, window=4, cross_doc_only=True
            ).where(F.col("doc_id") >= 300).collect()
        }
        assert {tuple(r) for r in out.collect()} == want
