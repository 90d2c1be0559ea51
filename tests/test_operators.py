"""Training-data operators: dedup recall/precision on planted near-dups,
similarity top-k vs numpy, text metrics vs Python reference."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from eodatadown_spark.operators import dedup as D
from eodatadown_spark.operators import similarity as S
from eodatadown_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    """60 random docs + planted near-duplicate pairs."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(800)]
    rows = []
    for i in range(60):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(80))))
    # planted near-dups: copy doc i with small tail edits
    for i, base in [(100, 0), (101, 1), (102, 2)]:
        words = rows[base][1].split()
        words[-3:] = [rng.choice(vocab) for _ in range(3)]
        rows.append((i, " ".join(words)))
    rows.append((200, rows[5][1]))  # exact dup of doc 5
    return spark.createDataFrame(rows, "doc_id long, text string")


def _jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(docs):
    out = D.exact_dedup(docs, ["text"])
    assert out.count() == docs.count() - 1
    assert out.where(F.col("doc_id") == 200).count() == 0  # min-id kept


def test_exact_dedup_multicol_no_boundary_ambiguity(spark):
    # ("ab","c") and ("a","bc") concat to the same bytes under any
    # separator-less scheme; ("ab\x01c","d") vs ("ab","c\x01d") defeats an
    # in-band separator.  All four must survive multi-column dedup.
    rows = [
        (1, "ab", "c"),
        (2, "a", "bc"),
        (3, "ab\x01c", "d"),
        (4, "ab", "c\x01d"),
        (5, "ab", "c"),  # true duplicate of 1 — must still collapse
    ]
    df = spark.createDataFrame(rows, "doc_id long, t1 string, t2 string")
    out = D.exact_dedup(df, ["t1", "t2"])
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 4]


def test_exact_dedup_multicol_null_vs_empty(spark):
    # NULL and '' are distinct contents, not the same document
    rows = [(1, "x", None), (2, "x", ""), (3, "x", None)]
    df = spark.createDataFrame(rows, "doc_id long, t1 string, t2 string")
    out = D.exact_dedup(df, ["t1", "t2"])
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_minhash_finds_planted_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_neardup_pairs(docs, jaccard_threshold=0.6).collect()
    }
    assert {(0, 100), (1, 101), (2, 102), (5, 200)} <= pairs
    # random docs over an 800-word vocab must not collide
    assert all(a in (0, 1, 2, 5) for a, b in pairs)


def test_minhash_jaccard_is_exact(docs):
    rows = D.minhash_neardup_pairs(docs, jaccard_threshold=0.6).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rows:
        expect = _jaccard(texts[r["id_a"]], texts[r["id_b"]])
        assert abs(r["jaccard"] - expect) < 1e-3


def test_minhash_salted_candidates_identical_output(spark):
    """Hot-bucket skew: a 400-doc duplicate cluster puts 400 ids in every
    band bucket (159,600 candidate pairs through one reducer unsalted).
    candidate_salts must spread the pair generation WITHOUT changing the
    output."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    hot = " ".join(rng.choice(vocab) for _ in range(40))
    rows = [(i, hot) for i in range(400)]
    rows += [(1000 + i, " ".join(rng.choice(vocab) for _ in range(40))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = D.minhash_neardup_pairs(df, jaccard_threshold=0.9)
    salted = D.minhash_neardup_pairs(
        df, jaccard_threshold=0.9, candidate_salts=8
    )
    n = 400 * 399 // 2
    assert plain.count() == n
    assert salted.count() == n
    assert salted.exceptAll(plain).count() == 0


def test_minhash_band_bucket_cap_drops_mega_cluster(spark):
    rng = random.Random(12)
    vocab = [f"w{i}" for i in range(500)]
    hot = " ".join(rng.choice(vocab) for _ in range(40))
    near = hot.rsplit(" ", 1)[0] + " zzz"  # near-dup pair outside the cluster
    rows = [(i, hot) for i in range(50)]
    rows += [(500, near), (501, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.minhash_neardup_pairs(
        df, jaccard_threshold=0.9, max_band_bucket=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    # the 50-doc mega-cluster saturates every band bucket → dropped;
    # the 2-doc near-dup bucket is under the cap → kept
    assert (500, 501) in got
    assert all(a >= 500 for a, b in got)


def test_ngram_jaccard_exact_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert {(0, 100), (1, 101), (2, 102), (5, 200)} == set(pairs)
    assert pairs[(5, 200)] == 1.0


def test_simhash_finds_planted_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_neardup_pairs(docs, max_hamming=8, band_bits=6).collect()
    }
    assert {(0, 100), (1, 101), (2, 102), (5, 200)} <= pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(40)
    ]
    # vec 100 ≈ vec 0 (tiny perturbation) → must be its top neighbor
    rows.append((100, [v + 0.001 for v in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_cosine_topk_matches_bruteforce(vectors):
    qs = vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.cosine_topk(vectors, qs, k=3).collect()
    data = {r["vec_id"]: list(r["embedding"]) for r in vectors.collect()}
    expect = sorted(
        ((nid, _cos(data[0], v)) for nid, v in data.items() if nid != 0),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [
        e[0] for e in expect
    ]
    assert out[0]["cos_sim"] >= 0.999  # the planted near-identical vector


def test_lsh_topk_finds_near_identical(vectors):
    qs = vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.lsh_bucket_topk(vectors, qs, k=3, n_planes=6, dim=16).collect()
    # near-identical vector lands in the same bucket by construction
    assert any(r["neighbor_id"] == 100 for r in out)


def test_embedding_neardup(vectors):
    out = S.embedding_neardup_pairs(vectors, threshold=0.999, n_planes=6, dim=16).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 100)}


def test_text_metrics_vs_python(spark):
    df = spark.createDataFrame(
        [(1, "The cat, and a dog!"), (2, "   "), (3, "xyzzy qwerty")],
        "doc_id long, text string",
    )
    c = F.col("text")
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        X.char_count(c).alias("n_chars"),
        X.token_count(c).alias("n_tokens"),
        X.punct_ratio(c).alias("punct_ratio"),
        X.stopword_hits(c).alias("stopword_hits"),
        X.language_guess(c).alias("lang_guess"),
    ).collect()}
    assert rows[1]["n_tokens"] == 5
    assert rows[1]["n_chars"] == 19
    assert rows[1]["stopword_hits"] == 3  # 'the', 'and', 'a' ('cat,'/'dog!' carry punct)
    assert rows[1]["lang_guess"] == "en"
    assert rows[2]["n_tokens"] == 0
    assert rows[3]["lang_guess"] == "other"
    # punct: ',' and '!' over 19 chars
    assert abs(rows[1]["punct_ratio"] - 2 / 19) < 1e-3


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "HELLO-world")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(X.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_bpe_like_token_count(spark):
    import re

    from eodatadown_spark.operators.text import BPE_PATTERN, bpe_like_token_count

    samples = ["Hello, world 42", "a  b", "", "don't stop!"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, t string")
    got = {r["i"]: r["n"] for r in df.select("i", bpe_like_token_count("t").alias("n")).collect()}
    for i, s in enumerate(samples):
        assert got[i] == len(re.findall(BPE_PATTERN, s))


def test_rolling_fingerprint_matches_python(spark):
    from eodatadown_spark.operators.text import ROLLING_BASE, ROLLING_PRIME, rolling_fingerprint

    def py_fp(s):
        h = 0
        for ch in "".join(c for c in s.lower() if c.isascii() and (c.isalnum() or c == " ")):
            h = (h * ROLLING_BASE + ord(ch)) % ROLLING_PRIME
        return h

    samples = ["Hello, World!", "", "same text", "same text", "Same-Text"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, t string")
    got = {r["i"]: r["f"] for r in df.select("i", rolling_fingerprint("t").alias("f")).collect()}
    for i, s in enumerate(samples):
        assert got[i] == py_fp(s)
    assert got[2] == got[3] and got[2] != got[4]  # punctuation differs ('-' removed vs space kept)


# ---------------------------------------------------------------------------
# corpus ops: splits, TF-IDF, packing
# ---------------------------------------------------------------------------

def test_assign_split_deterministic_and_partitioned(spark):
    from eodatadown_spark.operators import corpus as C

    df = spark.createDataFrame([(i, f"text {i}") for i in range(500)], "doc_id long, text string")
    a = {r["doc_id"]: r["split"] for r in C.assign_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in C.assign_split(df).collect()}
    assert a == b  # pure function of id
    from collections import Counter

    counts = Counter(a.values())
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # adding rows never changes existing assignments (the split contract)
    bigger = spark.createDataFrame([(i, f"text {i}") for i in range(800)], "doc_id long, text string")
    c = {r["doc_id"]: r["split"] for r in C.assign_split(bigger).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_tfidf_topk_hand_check(spark):
    from eodatadown_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date date date")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["rank"]): r for r in C.tfidf_topk_keywords(df, k=2).collect()}
    # doc 1: 'apple' tf=2 df=1 must outrank 'banana' tf=1 df=2
    assert out[(1, 1)]["token"] == "apple" and out[(1, 2)]["token"] == "banana"
    # doc 3: 'date' tf=3 df=1 top
    assert out[(3, 1)]["token"] == "date"
    score = out[(1, 1)]["score"]
    assert abs(score - round(2 * (math.log(4 / 2) + 1.0), 4)) < 1e-9


def test_pack_sequences_bins(spark):
    from eodatadown_spark.operators import corpus as C

    rows = [(i, "en", "tok " * 100) for i in range(6)]  # 100 tokens each
    df = spark.createDataFrame(
        [(i, lang, t.strip()) for i, lang, t in rows], "doc_id long, lang string, text string"
    )
    out = {r["doc_id"]: r for r in C.pack_sequences(df, max_tokens=250, group_col="lang").collect()}
    # cumsum-before: 0,100,200,300,400,500 → bins 0,0,0,1,1,2
    assert [out[i]["bin_id"] for i in range(6)] == [0, 0, 0, 1, 1, 2]
    assert all(out[i]["n_tokens"] == 100 for i in range(6))


# ---------------------------------------------------------------------------
# text ops: repetition ratio, PII redaction
# ---------------------------------------------------------------------------

def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "all words here are unique"), (3, "hi")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["rr"]
        for r in df.select("doc_id", X.repetition_ratio(F.col("text")).alias("rr")).collect()
    }
    assert got[1] == 0.25  # 4 bigrams, 1 distinct
    assert got[2] == 1.0
    assert got[3] == 1.0  # sub-n doc: single whole-doc gram


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe@example.com or call 555-123-4567 now"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in X.redact_pii(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert got[2]["n_emails"] == 0 and got[2]["n_phones"] == 0
    import hashlib

    expected = "mail me at [EMAIL] or call [PHONE] now"
    assert got[1]["redacted_fp"] == hashlib.md5(expected.encode()).hexdigest()
    assert got[2]["redacted_fp"] == hashlib.md5(b"no pii here").hexdigest()


# ---------------------------------------------------------------------------
# IVF ANN + near-dup clustering
# ---------------------------------------------------------------------------

def test_ivf_topk_finds_near_identical(vectors):
    qs = vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivf_topk(vectors, qs, k=3, n_centroids=8, n_probe=3).collect()
    # query 0 and its near-identical copy share the nearest centroid
    assert out and out[0]["neighbor_id"] == 100 and out[0]["rank"] == 1


def test_ivf_probe_fraction(vectors):
    # with 1 probe of 8 cells, candidates must be a strict subset of corpus
    qs = vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cells = S.ivf_assign_cells(
        vectors, vectors.where(F.col("vec_id") < 8), n_probe=1
    )
    per_cell = cells.groupBy("cell").count().collect()
    assert len(per_cell) > 1  # corpus actually spreads across lists


def test_neardup_clusters_transitive(spark):
    # A~B and B~C but A~C weaker: component must still merge all three
    base = " ".join(f"w{i}" for i in range(40))
    mid = " ".join(f"w{i}" for i in range(8, 48))
    far = " ".join(f"w{i}" for i in range(16, 56))
    df = spark.createDataFrame(
        [(1, base), (2, mid), (3, far), (9, "totally different text entirely")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.neardup_clusters(df, threshold=0.3).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["is_canonical"] and not out[2]["is_canonical"]
    assert out[9]["cluster_id"] == 9 and out[9]["is_canonical"]


def test_ivf_topk_custom_id_col(vectors):
    # regression: the corpus-list quantizer call must forward centroid_id_col
    renamed = vectors.withColumnRenamed("vec_id", "doc_id")
    qs = renamed.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("qid"), "embedding"
    )
    out = S.ivf_topk(
        renamed, qs, k=3, n_centroids=8, n_probe=3,
        id_col="doc_id", query_id_col="qid",
    ).collect()
    assert out and out[0]["neighbor_id"] == 100


def test_neardup_clusters_raises_on_nonconvergence(spark):
    # 4-doc chain needs >1 round; max_iter=1 must fail loudly, not silently
    # split the component
    import pytest

    texts = [" ".join(f"w{j}" for j in range(i, i + 40)) for i in range(0, 32, 8)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    with pytest.raises(RuntimeError, match="did not converge"):
        # small_graph_edges=None forces the DISTRIBUTED propagation — the
        # union-find fast path has no iteration cap to trip
        D.neardup_clusters(
            df, threshold=0.3, max_iter=1, small_graph_edges=None
        )


def test_contamination_and_decontaminate(spark):
    corpus = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "totally unrelated words describing other things entirely here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta epsilon suffix words")],
        "doc_id long, text string",
    )
    hits = D.contamination_pairs(corpus, bench, k=5).collect()
    # corpus 10 shares the 5-gram "alpha beta gamma delta epsilon"
    assert [(r["corpus_id"], r["bench_id"], r["n_shared"]) for r in hits] == [(10, 1, 1)]
    clean = D.decontaminate(corpus, bench, k=5)
    assert [r["doc_id"] for r in clean.collect()] == [11]


def test_contamination_broadcast_guard(spark):
    """Above max_broadcast_rows the benchmark side must NOT carry a broadcast
    hint (shuffle join instead of forced executor-OOM broadcast); results are
    identical either way."""
    from eodatadown_spark.plans import audit

    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta epsilon suffix words")],
        "doc_id long, text string",
    )
    forced_small = D.contamination_pairs(corpus, bench, k=5)
    guarded = D.contamination_pairs(corpus, bench, k=5, max_broadcast_rows=0)
    # with the session's auto-broadcast disabled, only the hinted plan keeps
    # a BroadcastHashJoin
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastHashJoin" in audit.physical_plan(forced_small, "simple")
        assert "BroadcastHashJoin" not in audit.physical_plan(guarded, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert [tuple(r) for r in guarded.collect()] == [tuple(r) for r in forced_small.collect()]


def test_unigram_lm_scores_hand_computed(spark):
    """Two docs, known token counts: nll matches the hand-derived unigram
    MLE; repeated-token weighting equals per-instance mean."""
    import math

    from eodatadown_spark.operators.corpus import unigram_lm_scores

    # corpus tokens: a a a b  (total 4): p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame([(1, "a a a"), (2, "b")], "doc_id long, text string")
    got = {r["doc_id"]: (r["nll"], r["n_tokens"])
           for r in unigram_lm_scores(df).collect()}
    assert got[1] == (round(-math.log(0.75), 4), 3)
    assert got[2] == (round(-math.log(0.25), 4), 1)


def test_stratified_sample_thresholds(spark):
    """rate=1.0 keeps every row of the stratum, rate=0.0 (default) drops
    all; fractional rates follow the deterministic id bucket."""
    from eodatadown_spark.operators.corpus import split_bucket, stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de", "x") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = stratified_sample(df, {"de": 1.0, "en": 0.4})
    by_lang = {r["lang"]: r["n"] for r in
               kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang["de"] == 100                      # all kept
    buckets = {r["doc_id"]: r["b"] for r in
               df.select("doc_id", split_bucket("doc_id").alias("b")).collect()}
    want_en = sum(1 for i in range(0, 200, 2) if buckets[i] < 40)
    assert by_lang.get("en", 0) == want_en
    # unknown stratum drops under default_rate=0
    extra = spark.createDataFrame([(999, "fr", "y")], "doc_id long, lang string, text string")
    assert stratified_sample(extra, {"en": 1.0}).count() == 0


def test_topk_tokens_tie_break(spark):
    from eodatadown_spark.operators.corpus import topk_tokens

    df = spark.createDataFrame(
        [(1, "en", "b a b a c"), (2, "de", "z z y")],
        "doc_id long, lang string, text string",
    )
    got = [(r["group"], r["token"], r["n"], r["rank"])
           for r in topk_tokens(df, k=2).orderBy("group", "rank").collect()]
    # en: a and b tie at 2 → token asc puts a first; de: z(2) then y(1)
    assert got == [("de", "z", 2, 1), ("de", "y", 1, 2),
                   ("en", "a", 2, 1), ("en", "b", 2, 2)]


def test_length_histogram_buckets(spark):
    from eodatadown_spark.operators.corpus import length_histogram

    df = spark.createDataFrame(
        [(1, 1), (2, 7), (3, 8), (4, 0), (5, -3)], "doc_id long, n_chars long"
    )
    got = {r["len_bucket"]: (r["n_docs"], r["min_chars"], r["max_chars"])
           for r in length_histogram(df).collect()}
    # 1 → bucket 0; 7 → bucket 2; 8 → bucket 3; 0 and -3 excluded
    assert got == {0: (1, 1, 1), 2: (1, 7, 7), 3: (1, 8, 8)}


def test_label_centroid_distances_hand_computed(spark):
    """Two 2-d vectors per label: centroid is the midpoint, both members sit
    at half the pair distance."""
    from eodatadown_spark.operators.similarity import label_centroid_distances

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 7), (2, [2.0, 0.0], 7), (3, [1.0, 1.0], 8)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["label"]: (r["n_vecs"], r["avg_dist"], r["max_dist"])
           for r in label_centroid_distances(df).collect()}
    assert got[7] == (2, 1.0, 1.0)   # centroid (1,0); both at distance 1
    assert got[8] == (1, 0.0, 0.0)   # singleton sits on its centroid


def test_asof_join_semantics(spark):
    """Inclusive vs strict exact-match, NULL before any right row, value
    columns carried from the matched right row."""
    import datetime as dt

    from eodatadown_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 1, t("2024-01-01T10:00:00")),   # before any quote -> NULL
         (2, 1, t("2024-01-01T12:00:00")),   # exact-match boundary
         (3, 1, t("2024-01-01T13:30:00")),   # most recent = 12:00
         (4, 2, t("2024-01-01T12:30:00"))],  # other key
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t("2024-01-01T12:00:00"), 5.0), (2, t("2024-01-01T11:00:00"), 7.0)],
        "user_id long, ts timestamp, price double",
    )
    incl = {r["event_id"]: (r["ts_right"], r["price_right"])
            for r in asof_join(left, right, ["user_id"],
                               right_value_cols=["price"]).collect()}
    assert incl[1] == (None, None)
    assert incl[2] == (t("2024-01-01T12:00:00"), 5.0)   # equal ts matches
    assert incl[3] == (t("2024-01-01T12:00:00"), 5.0)
    assert incl[4] == (t("2024-01-01T11:00:00"), 7.0)
    strict = {r["event_id"]: r["ts_right"]
              for r in asof_join(left, right, ["user_id"],
                                 allow_exact_matches=False).collect()}
    assert strict[2] is None                            # equal ts excluded
    assert strict[3] == t("2024-01-01T12:00:00")


def test_range_join_bucket_boundary(spark):
    """Pairs that straddle a bucket boundary must still match (the explode
    covers both buckets); gap == max included, gap == 0 and > max excluded."""
    import datetime as dt

    from eodatadown_spark.operators.temporal import range_join

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    e = spark.createDataFrame(
        [(1, 1, s(0)), (2, 1, s(60)),       # gap 60 == max -> included
         (3, 1, s(60.5)), (4, 1, s(121)),   # gap 60.5 > max from 1; 3->4 gap 60.5 excluded
         (5, 1, s(119)),                    # 4->5 negative; 3->5 gap 58.5 straddles buckets
         (6, 2, s(10)), (7, 3, s(10))],     # other keys, no partner
        "event_id long, user_id long, ts timestamp",
    )
    got = {(r["event_id"], r["event_id_b"]): r["gap_s"]
           for r in range_join(
               e, e.withColumnRenamed("event_id", "event_id_b"), ["user_id"],
               min_gap=0.0, max_gap=60.0,
               left_cols=["event_id"], right_cols=["event_id_b"]).collect()}
    assert got == {(1, 2): 60.0, (2, 3): 0.5, (2, 5): 59.0,
                   (3, 5): 58.5, (5, 4): 2.0}


def test_session_window_matches_sessionize_boundary(spark):
    """session_window and sessionize agree at the gap boundary: exactly-equal
    gap merges, +1 µs splits — pinned so a Spark behavior change surfaces
    here (q62's oracle relies on the equivalence)."""
    import datetime as dt

    from eodatadown_spark.operators.temporal import session_window_rollup
    from eodatadown_spark.streaming.incremental import sessionize

    t0 = dt.datetime(2024, 1, 1)
    for us, want in ((0, 1), (1, 2)):
        df = spark.createDataFrame(
            [(1, 1, t0), (2, 1, t0 + dt.timedelta(seconds=1800, microseconds=us))],
            "event_id long, user_id long, ts timestamp",
        )
        native = session_window_rollup(df, ["user_id"], gap="30 minutes")
        assert native.count() == want
        classic = sessionize(df, ["user_id"], "ts", 1800.0, order_cols=["event_id"])
        assert classic.agg(F.max("session_id")).first()[0] == want


def test_group_kl_divergence_hand_computed(spark):
    """Two groups with known distributions: KL matches the closed form; a
    group distributed like the corpus has KL near 0."""
    import math

    from eodatadown_spark.operators.corpus import group_kl_divergence

    # group A: a a b  (p = 2/3, 1/3); group B: a b b  → corpus: a=3/6, b=3/6
    df = spark.createDataFrame(
        [(1, "A", "a a b"), (2, "B", "a b b")], "doc_id long, lang string, text string"
    )
    got = {r["group"]: (r["n_tokens"], r["kl"])
           for r in group_kl_divergence(df, group_col="lang").collect()}
    want = round((2 / 3) * math.log((2 / 3) / 0.5)
                 + (1 / 3) * math.log((1 / 3) / 0.5), 4)
    assert got["A"] == (3, want)
    assert got["B"] == (3, want)  # symmetric construction


def test_temperature_resample_rates(spark):
    """alpha=1 keeps everything; alpha=0.5 keeps all of the smallest group
    and sqrt(Nmin/Ng)-gated members of larger ones (membership recomputed
    via the same deterministic bucket)."""
    import math

    from eodatadown_spark.operators.corpus import split_bucket, temperature_resample

    rows = [(i, "big" if i < 400 else "small", "x") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    assert temperature_resample(df, alpha=1.0).count() == 500

    kept = temperature_resample(df, alpha=0.5)
    by = {r["lang"]: r["n"] for r in
          kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by["small"] == 100                      # smallest keeps 100%
    rate = math.sqrt(100 / 400)
    buckets = {r["doc_id"]: r["b"] for r in
               df.select("doc_id", split_bucket("doc_id", 10_000).alias("b")).collect()}
    want_big = sum(1 for i in range(400) if buckets[i] < rate * 10_000)
    assert by["big"] == want_big


def test_bigram_lm_scores_hand_computed(spark):
    """Corpus 'a b a b' + 'a c': bigram counts c(a b)=2, c(b a)=1, c(a c)=1;
    heads c(a.)=3, c(b.)=1 — doc surprisals match the closed form; a
    one-token doc has no bigrams and is absent."""
    import math

    from eodatadown_spark.operators.corpus import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["bnll"], r["n_bigrams"])
           for r in bigram_lm_scores(df).collect()}
    # doc 1 bigrams: (a b)x2 -ln(2/3); (b a) -ln(1/1)=0
    want1 = round((2 * -math.log(2 / 3) + 0.0) / 3, 4)
    assert got[1] == (want1, 3)
    assert got[2] == (round(-math.log(1 / 3), 4), 1)   # (a c): c2=1, c(a.)=3
    assert 3 not in got


def test_perplexity_prune_budget_and_determinism(spark):
    """Exactly the lowest-nll half of each group survives (ties cut by id);
    rerun is identical."""
    from eodatadown_spark.operators.corpus import perplexity_prune, unigram_lm_scores

    rows = [(i, "en", " ".join(["common"] * 5 + [f"rare{i}"] * (i % 4))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = perplexity_prune(df, keep_frac=0.5)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == sorted(r["doc_id"] for r in perplexity_prune(df, 0.5).collect())
    scored = {r["doc_id"]: r["nll"] for r in unigram_lm_scores(df).collect()}
    order = sorted(scored, key=lambda i: (scored[i], i))
    # percent_rank <= 0.5 over 40 rows keeps ranks 1..20 ((r-1)/39 <= 0.5)
    assert ids == sorted(order[:20])


def test_dedup_against_incremental(spark):
    """Fingerprint anti-join drops re-crawls (normalization-insensitive);
    within-batch exact dups collapse to the min id."""
    from eodatadown_spark.operators.corpus import dedup_against

    corpus = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "old news")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "hello world"),        # normalized dup of corpus 1 -> dropped
         (11, "fresh content"),
         (12, "fresh content"),      # in-batch dup of 11 -> dropped
         (13, "another one")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup_against(batch, corpus).collect())
    assert kept == [11, 13]


def test_chunk_documents_windows(spark):
    """Chunk boundaries: stride-spaced starts while start < n, window-capped
    lengths, tail chunk short, every token covered; empty doc -> no chunks."""
    from eodatadown_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),   # one short chunk
         (2, " ".join(f"t{i}" for i in range(40))),   # starts 0, 24
         (3, " ".join(f"t{i}" for i in range(24))),   # exactly one stride
         (4, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, window=32, stride=24).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
           for r in out}
    assert set(got) == {(1, 0), (2, 0), (2, 1), (3, 0)}
    assert got[(1, 0)][0] == 10
    assert got[(2, 0)][0] == 32 and got[(2, 1)][0] == 16
    assert got[(2, 1)][1].startswith("t24 ")       # overlap: starts at stride
    assert got[(3, 0)][0] == 24


def test_ivf_and_lsh_recall_floor(spark):
    """Recall harness on the driver's real embeddings table, 20 queries,
    k=3 vs brute-force exact: IVF recall rises monotonically with n_probe
    and reaches 1.0 at full probe; LSH single-table recall is weak on
    unstructured embeddings and OR-amplification (n_tables) recovers it —
    the quantified version of SCALING.md's speed/recall trade."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 3

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = hits(S.cosine_topk(emb, qs, k=k))
    assert len(exact) == 20 * k

    ivf_recalls = [
        len(hits(S.ivf_topk(emb, qs, k=k, n_centroids=8, n_probe=p)) & exact)
        / len(exact)
        for p in (1, 2, 8)
    ]
    assert ivf_recalls == sorted(ivf_recalls)     # more probes, never worse
    assert ivf_recalls[1] >= 0.6                  # 2/8 probes
    assert ivf_recalls[2] == 1.0                  # full probe == exact

    lsh1 = len(hits(S.lsh_bucket_topk(emb, qs, k=k, n_planes=4, dim=64)) & exact) / len(exact)
    lsh8 = len(hits(S.lsh_bucket_topk(emb, qs, k=k, n_planes=4, dim=64,
                                      n_tables=8)) & exact) / len(exact)
    assert lsh8 > lsh1                            # OR-amplification helps
    assert lsh8 >= 0.6


def test_pq_encode_matches_python(vectors):
    """PQ codes equal the plain-Python nearest-subvector assignment."""
    cb = S.pq_train_codebook(vectors, m=4, n_codes=8)
    assert len(cb) == 4 and len(cb[0]) == 8 and len(cb[0][0]) == 4
    rows = {r["vec_id"]: list(r["embedding"])
            for r in vectors.orderBy("vec_id").collect()}
    got = {r["vec_id"]: list(r["pq_codes"])
           for r in S.pq_encode(vectors, cb).collect()}
    for vid, vec in rows.items():
        want = []
        for j in range(4):
            sv = vec[j * 4:(j + 1) * 4]
            dists = [sum((a - b) ** 2 for a, b in zip(sv, c)) for c in cb[j]]
            want.append(min(range(8), key=lambda ci: (dists[ci], ci)))
        assert got[vid] == want, vid


def test_pq_topk_finds_planted_neighbor(vectors):
    qs = vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.pq_topk(vectors, qs, k=3, m=4, n_codes=8, shortlist=20).collect()
    assert out[0]["neighbor_id"] == 100 and out[0]["rank"] == 1


def test_pq_recall_vs_bruteforce(spark):
    """PQ shortlist+rerank on the driver's real embeddings: recall@3 over
    20 queries must clear a floor, and a full-corpus shortlist equals
    exact brute force (the rerank makes the shortlist the only
    approximation)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 3

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = hits(S.cosine_topk(emb, qs, k=k))
    n_corpus = emb.count()
    pq50 = hits(S.pq_topk(emb, qs, k=k, m=8, n_codes=16, shortlist=50))
    assert len(pq50 & exact) / len(exact) >= 0.5
    pq_full = hits(S.pq_topk(emb, qs, k=k, m=8, n_codes=16, shortlist=n_corpus))
    assert pq_full == exact


def test_rrf_fuse_combines_runs(spark):
    """rrf_fuse: a doc ranked well in BOTH runs outranks a doc that tops
    only one; absent docs contribute nothing; ties break by id; topk
    truncates; empty run list raises."""
    import pytest as _pytest

    run1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, neighbor_id long, rank bigint",
    )
    run2 = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2), (1, 99, 3)],
        "query_id long, neighbor_id long, rank bigint",
    )
    got = {r["neighbor_id"]: r for r in S.rrf_fuse([run1, run2]).collect()}
    # 10: 1/61+1/62, 11: 1/62+1/61 (tie -> id asc), 12: 1/63, 99: 1/63
    assert got[10]["fused_rank"] == 1 and got[11]["fused_rank"] == 2
    assert got[12]["fused_rank"] == 3 and got[99]["fused_rank"] == 4  # tie: id asc
    assert got[10]["rrf_score"] == got[11]["rrf_score"]
    top2 = S.rrf_fuse([run1, run2], topk=2).collect()
    assert {r["neighbor_id"] for r in top2} == {10, 11}
    with _pytest.raises(ValueError, match="at least one run"):
        S.rrf_fuse([])


def test_semantic_dedup_keeps_clique_representative(spark):
    """semantic_dedup: a clique of mutual near-identical vectors keeps
    exactly its min id; dissimilar cell-mates all survive; vectors in
    different cells never suppress each other even at cosine 1."""
    rows = [
        # clique in one direction: 10 is the representative
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [0.999, 0.01, 0.0, 0.0]),
        (12, [0.998, 0.02, 0.0, 0.0]),
        # different direction, same magnitude id range
        (20, [0.0, 1.0, 0.0, 0.0]),
        (21, [0.0, 0.0, 1.0, 0.0]),
    ]
    # seed centroids = ids < n_clusters: add two orthogonal anchors so the
    # clique and the singletons land in different cells
    anchors = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(
        anchors + rows, "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["cell"], r["is_kept"])
        for r in S.semantic_dedup(emb, n_clusters=2, threshold=0.95).collect()
    }
    # anchor 0 is the clique's lowest id -> it represents; 10-12 drop
    assert got[0][1] is True
    assert got[10][1] is False and got[11][1] is False and got[12][1] is False
    assert {got[i][0] for i in (0, 10, 11, 12)} == {0}   # same cell
    # 21 ([0,0,1,0]) is orthogonal to everything -> kept wherever it lands
    assert got[21][1] is True
    assert got[1][1] is True and got[20][1] is False  # 20 dups anchor 1


def test_pq_trained_codebook_beats_seed(spark):
    """Per-subspace k-means training (method='kmeans') vs the deterministic
    seed codebook at equal m/n_codes on the driver's real embeddings:

    - lower quantization MSE at BOTH tested configs (the k-means objective —
      the seed codebook just reuses the first n_codes data points);
    - higher shortlist recall@3 at m=8/n_codes=32 (where the extra code
      capacity lets training matter; at small n_codes the data-point seed
      codewords are already competitive on this synthetic table, so MSE is
      the config-independent assertion and recall the capacity-dependent
      one).  Everything is seeded, so the comparison is deterministic.
    """
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    X = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    m, nc = 8, 32
    sub = X.shape[1] // m

    def mse(cb):
        err = 0.0
        for j in range(m):
            Sx = X[:, j * sub:(j + 1) * sub]
            C = np.array(cb[j])
            err += ((Sx[:, None, :] - C[None, :, :]) ** 2).sum(-1).min(1).sum()
        return err / X.size

    seed_cb = S.pq_train_codebook(emb, m=m, n_codes=nc)
    tr_cb = S.pq_train_codebook(emb, m=m, n_codes=nc, method="kmeans")
    assert mse(tr_cb) < mse(seed_cb)
    seed16 = S.pq_train_codebook(emb, m=m, n_codes=16)
    tr16 = S.pq_train_codebook(emb, m=m, n_codes=16, method="kmeans")
    assert mse(tr16) < mse(seed16)

    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = hits(S.cosine_topk(emb, qs, k=3))
    for sl in (15, 30):
        rs = len(hits(S.pq_topk(emb, qs, k=3, m=m, n_codes=nc, shortlist=sl,
                                codebook=seed_cb)) & exact)
        rt = len(hits(S.pq_topk(emb, qs, k=3, m=m, n_codes=nc, shortlist=sl,
                                codebook=tr_cb)) & exact)
        assert rt > rs, f"shortlist={sl}: trained {rt} <= seed {rs}"

    with pytest.raises(ValueError, match="method"):
        S.pq_train_codebook(emb, method="bogus")


def test_ivf_pq_topk_recall_and_full_probe(spark):
    """IVF×PQ: recall floor at modest probes; full probe + full shortlist
    equals exact brute force (both approximations disabled at once)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 3

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = hits(S.cosine_topk(emb, qs, k=k))
    part = hits(S.ivf_pq_topk(emb, qs, k=k, n_centroids=8, n_probe=3,
                              m=8, n_codes=16, shortlist=60))
    assert len(part & exact) / len(exact) >= 0.5
    full = hits(S.ivf_pq_topk(emb, qs, k=k, n_centroids=8, n_probe=8,
                              m=8, n_codes=16, shortlist=emb.count()))
    assert full == exact


def test_substring_contamination(spark):
    corpus = spark.createDataFrame(
        [(1, "the canary string xj9 hides here"),
         (2, "nothing to see"),
         (3, "prefix then canary string xj9 again")],
        "doc_id long, text string",
    )
    needles = spark.createDataFrame(
        [(100, "canary string xj9"), (101, "absent needle")],
        "needle_id long, needle string",
    )
    got = {(r["doc_id"], r["needle_id"])
           for r in D.substring_contamination(corpus, needles).collect()}
    assert got == {(1, 100), (3, 100)}
    # overlapping needles in one document are each reported
    corpus = spark.createDataFrame(
        [(1, "xx abcd yy"), (2, "only abc here"), (3, "clean row")],
        "doc_id long, text string",
    )
    needles = spark.createDataFrame(
        [(10, "abc"), (11, "bcd"), (12, "zzz")], "needle_id long, needle string"
    )
    got = {(r["doc_id"], r["needle_id"])
           for r in D.substring_contamination(corpus, needles).collect()}
    assert got == {(1, 10), (1, 11), (2, 10)}


def test_prefix_suffix_overlap(spark):
    from eodatadown_spark.operators.corpus import prefix_suffix_overlap

    docs = spark.createDataFrame(
        [(1, "a b c d e f"),       # suffix "d e f"
         (2, "d e f g h i"),       # prefix "d e f" → (1, 2)
         (3, "x y z"),             # suffix == prefix == own boundary: no self-pair
         (4, "q r"),               # < k tokens: excluded
         (5, "z z d e f")],        # suffix "d e f" → (5, 2)
        "doc_id long, text string",
    )
    got = {(r["suffix_doc"], r["prefix_doc"])
           for r in prefix_suffix_overlap(docs, k=3).collect()}
    assert got == {(1, 2), (5, 2)}


def test_dup_ngram_fraction(spark):
    from eodatadown_spark.operators.corpus import dup_ngram_fraction

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [(1, shared + " six seven"),   # grams: 3 total, 1 shared
         (2, shared),                  # 1 gram, shared with doc 1
         (3, "a b c d e f"),           # 2 grams, unique
         (4, "a b")],                  # too short: excluded
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["dup_fraction"])
           for r in dup_ngram_fraction(docs, n=5).collect()}
    assert got == {1: (3, 0.3333), 2: (1, 1.0), 3: (2, 0.0)}


def test_substring_contamination_empty_needle_dropped(spark):
    corpus = spark.createDataFrame([(1, "anything")], "doc_id long, text string")
    needles = spark.createDataFrame(
        [(10, ""), (11, None), (12, "any")], "needle_id long, needle string"
    )
    got = {(r["doc_id"], r["needle_id"])
           for r in D.substring_contamination(corpus, needles).collect()}
    assert got == {(1, 12)}


def test_kmeans_centroids_trained_ivf(spark):
    """Trained k-means codebook drops into ivf_topk: centroid shape is
    compatible, assignments use every cell, and recall with few probes
    clears the floor on the labeled (clustered) embeddings table."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.kmeans_centroids(emb, k=8)
    rows = cents.collect()
    assert len(rows) == 8 and len(rows[0]["embedding"]) == 64
    cells = S.ivf_assign_cells(emb, cents, n_probe=1)
    assert cells.select("cell").distinct().count() == 8

    qs = emb.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = hits(S.cosine_topk(emb, qs, k=3))
    trained3 = hits(S.ivf_topk(emb, qs, k=3, n_centroids=8, n_probe=3,
                               centroids=cents))
    assert len(trained3 & exact) / len(exact) >= 0.6
    # full probe over trained cells == exact (cell partitioning is total)
    trained_full = hits(S.ivf_topk(emb, qs, k=3, n_centroids=8, n_probe=8,
                                   centroids=cents))
    assert trained_full == exact


def test_bpe_merge_candidates(spark):
    from eodatadown_spark.operators.corpus import bpe_merge_candidates

    # "aaab" x2, "ab" x1 → pairs: aa (2 per word x2 = 4... careful: per
    # DISTINCT word weighted by count: "aaab" wc=2 → aa,aa,ab per word =
    # aa:2*2=4, ab:1*2=2; "ab" wc=1 → ab:1 → totals aa=4, ab=3
    docs = spark.createDataFrame(
        [(1, "aaab ab"), (2, "aaab")], "doc_id long, text string"
    )
    got = [(r["pair"], r["n"]) for r in bpe_merge_candidates(docs, k=5).collect()]
    assert got == [("aa", 4), ("ab", 3)]


def _python_bpe(word_counts: dict, n_merges: int):
    """Reference Sennrich-style BPE with the same deterministic tie-break
    (count desc, then (left, right) lexicographic asc)."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0][0]
        merges.append(best)
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def test_train_bpe_matches_reference(spark):
    from eodatadown_spark.operators.corpus import train_bpe

    text = ("low low low lower lower newest newest newest newest "
            "widest widest wider")
    docs = spark.createDataFrame([(1, text), (2, "low newest")],
                                 "doc_id long, text string")
    counts = {}
    for w in (text + " low newest").split():
        counts[w] = counts.get(w, 0) + 1
    want = _python_bpe(counts, 8)
    got = train_bpe(docs, n_merges=8)
    assert got == want
    # sanity: classic BPE learns 'es'/'est'-style suffix merges here
    assert ("e", "s") in got or ("es", "t") in got or ("e", "st") in got


def test_bpe_token_counts_matches_reference(spark):
    from eodatadown_spark.operators.corpus import bpe_token_counts, train_bpe

    text = ("low low low lower lower newest newest newest newest "
            "widest widest wider")
    docs = spark.createDataFrame(
        [(1, text), (2, "low newest"), (3, "unseen zzz"), (4, "   ")],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=8)

    def encode_len(word):
        syms = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == (left, right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {r["doc_id"]: r["n_tokens_bpe"]
           for r in bpe_token_counts(docs, merges).collect()}
    for did, t in [(1, text), (2, "low newest"), (3, "unseen zzz")]:
        assert got[did] == sum(encode_len(w) for w in t.split()), did
    assert got[4] == 0  # whitespace-only doc reports 0, not a missing row


def test_gopher_quality_flags(spark):
    from eodatadown_spark.operators.text import gopher_quality_flags

    good = "the cats sat on top of the brown mat and it is good " * 5  # 65 words
    symbols = "the " + "# " * 30 + "of and it is"
    docs = spark.createDataFrame(
        [(1, good), (2, "tiny doc"), (3, symbols)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert got[1]["keep"] is True and got[1]["word_count_ok"] is True
    assert got[2]["keep"] is False and got[2]["word_count_ok"] is False
    assert got[3]["symbol_ratio_ok"] is False and got[3]["alpha_frac_ok"] is False


def test_asof_join_rejects_output_name_collision(spark):
    import datetime as dt

    from eodatadown_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 5.0)], "user_id long, ts timestamp, price_right double"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 3.0)], "user_id long, ts timestamp, price double"
    )
    with pytest.raises(ValueError, match="price_right"):
        asof_join(left, right, ["user_id"], right_value_cols=["price"])


def test_asof_join_null_value_not_backfilled(spark):
    """A matched right row with a NULL value column must yield NULL — not a
    stale value leaked from an older right row (merge_asof semantics; all
    filled columns come from the SAME matched row)."""
    import datetime as dt

    from eodatadown_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 1, t("2024-01-01T13:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t("2024-01-01T11:00:00"), 7.0), (1, t("2024-01-01T12:00:00"), None)],
        "user_id long, ts timestamp, price double",
    )
    row = asof_join(left, right, ["user_id"], right_value_cols=["price"]).first()
    assert row["ts_right"] == t("2024-01-01T12:00:00")
    assert row["price_right"] is None


def test_dedup_against_non_latin_not_collapsed(spark):
    """Distinct non-Latin docs (alnum normalization strips them empty) must
    NOT collapse into one md5('') identity and anti-join each other away."""
    from eodatadown_spark.operators.corpus import dedup_against

    corpus = spark.createDataFrame([(1, "一些中文文本")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "另一个完全不同的文档"), (11, "第三个文档"), (12, "一些中文文本")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup_against(batch, corpus).collect())
    assert kept == [10, 11]  # only the true re-crawl (12) dropped


def test_stratified_sample_rejects_vanishing_rate(spark):
    from eodatadown_spark.operators.corpus import stratified_sample

    df = spark.createDataFrame([(1, "en", "x")], "doc_id long, lang string, text string")
    import pytest

    with pytest.raises(ValueError, match="rounds to 0"):
        stratified_sample(df, {"en": 0.004})  # default n_buckets=100
    # the suggested fix works
    assert stratified_sample(df, {"en": 0.004}, n_buckets=10_000).count() <= 1


def test_usr_analysis_agg_duplicate_plugin_names(spark, landsat_scenes, plugin_results_df):
    """A duplicated entry in the configured plugin list must not change the
    result (countDistinct compares against the DISTINCT name count)."""
    from eodatadown_spark import queries as Q

    a = [r["pid"] for r in Q.get_scnlist_usr_analysis(
        landsat_scenes, plugin_results_df, ["PlgA", "PlgA"]).collect()]
    b = [r["pid"] for r in Q.get_scnlist_usr_analysis_agg(
        landsat_scenes, plugin_results_df, ["PlgA", "PlgA"]).collect()]
    c = [r["pid"] for r in Q.get_scnlist_usr_analysis_agg(
        landsat_scenes, plugin_results_df, ["PlgA"]).collect()]
    assert a == b == c


def test_semantic_dedup_arrow_equals_sql(spark):
    """The numpy-matmul (arrow) and pure-Catalyst (sql) semantic_dedup
    implementations agree row-for-row on the real embeddings table — the
    argmax/threshold decision margins dwarf the float32-fold vs float64-
    matmul differences (also validated by q107's independent oracle)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = S.semantic_dedup(emb, n_clusters=8, threshold=0.42, impl="arrow")
    b = S.semantic_dedup(emb, n_clusters=8, threshold=0.42, impl="sql")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    import pytest
    with pytest.raises(ValueError, match="impl"):
        S.semantic_dedup(emb, impl="bogus")


def test_incremental_minhash_equals_full_run(docs):
    """Probing a stored band index with a new batch yields exactly the
    full-corpus near-dup pairs restricted to pairs with a new endpoint —
    including new-vs-new pairs — and never re-bands the old corpus."""
    old = docs.where(F.col("doc_id") < 100)          # the 60 base docs + none
    new = docs.where(F.col("doc_id") >= 100)         # planted dups of 0,1,2 + copy of 5
    index = D.minhash_band_index(old)
    fps = D.shingle_hash_table(old)
    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_neardup_against_index(
            new, index, fps, jaccard_threshold=0.6
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_neardup_pairs(docs, jaccard_threshold=0.6).collect()
        if r["id_a"] >= 100 or r["id_b"] >= 100
    }
    assert inc == full and len(inc) == 4   # (0,100),(1,101),(2,102),(5,200)


def test_incremental_minhash_new_vs_new_pairs(spark):
    """Two near-identical docs arriving in the SAME batch pair with each
    other, not only with the stored corpus."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [(1, "completely unrelated corpus content here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base), (11, base + " extra")], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_neardup_against_index(
            new, D.minhash_band_index(old), D.shingle_hash_table(old),
            jaccard_threshold=0.5,
        ).collect()
    }
    assert got == {(10, 11)}


def test_jaccard_prefix_self_pairs_equals_pairs(docs):
    """Pairs derived from the STORED prefix index (build phase, no
    re-shingle) are identical to jaccard_prefix_pairs on the same corpus."""
    prefix, _freq, fps = D.jaccard_prefix_index(docs, threshold=0.5)
    from_index = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_prefix_self_pairs(prefix, fps, threshold=0.5).collect()
    }
    from_scratch = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_prefix_pairs(docs, threshold=0.5).collect()
    }
    assert from_index == from_scratch and len(from_index) >= 4


def test_jaccard_prefix_index_probe_equals_full_run(docs):
    """Probing the stored prefix index with a new batch yields exactly the
    union-corpus exact-Jaccard pairs restricted to new-endpoint pairs —
    even though the probe ranks batch shingles under the CORPUS's frozen
    frequency order, not the union order (any consistent total order is a
    lossless prefix filter; the verify is exact)."""
    old = docs.where(F.col("doc_id") < 100)
    new = docs.where(F.col("doc_id") >= 100)
    prefix, freq, fps = D.jaccard_prefix_index(old, threshold=0.5)
    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_prefix_against_index(
            new, prefix, freq, fps, threshold=0.5
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_prefix_pairs(docs, threshold=0.5).collect()
        if r["id_a"] >= 100 or r["id_b"] >= 100
    }
    assert inc == full and len(inc) == 4   # (0,100),(1,101),(2,102),(5,200)


def test_jaccard_prefix_probe_new_vs_new(spark):
    """Two near-identical docs arriving in the SAME batch pair with each
    other — their shingles are absent from the frozen corpus frequency
    table (df=0 ranks them at the front of the order) and must still meet
    in the prefix join."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [(1, "completely unrelated corpus content here and more of it")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base), (11, base + " extra")], "doc_id long, text string"
    )
    prefix, freq, fps = D.jaccard_prefix_index(old, threshold=0.5)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_prefix_against_index(
            new, prefix, freq, fps, threshold=0.5
        ).collect()
    }
    assert got == {(10, 11)}


def test_source_pair_pressure(spark):
    """Unordered source attribution + rollup; score_col generality covers
    the simhash (hamming) pair shape as well as jaccard."""
    docs = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "books"), (4, "code")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.6), (3, 2, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    got = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["avg_jaccard"])
        for r in D.source_pair_pressure(pairs, docs).collect()
    }
    # (1,3) and (3,2) both attribute to (books, web) regardless of id order
    assert got == {("web", "web"): (1, 0.9), ("books", "web"): (2, 0.7)}
    ham = spark.createDataFrame(
        [(1, 2, 3)], "id_a long, id_b long, hamming int"
    )
    row = D.source_pair_pressure(ham, docs, score_col="hamming").first()
    assert row["avg_hamming"] == 3.0 and row["n_pairs"] == 1


def test_confusion_matrix_counts(spark):
    df = spark.createDataFrame(
        [("en", "en"), ("en", "other"), ("other", "other"), ("other", "other"),
         ("en", "en")],
        "gold string, pred string",
    )
    got = {(r["label"], r["predicted"]): r["n"]
           for r in X.confusion_matrix(df, "gold", "pred").collect()}
    assert got == {("en", "en"): 2, ("en", "other"): 1, ("other", "other"): 2}


def test_shot_boundaries_flags_first_frame_and_jumps(spark):
    from eodatadown_spark.operators.multimodal import detect_shot_boundaries

    media = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), (None, None, 16000, 35, "mp4")),
         (2, "image", bytearray(b"y"), (1, 1, None, None, "png"))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,format:string>",
    )
    rows = {r["frame_idx"]: r
            for r in detect_shot_boundaries(media, every_n=10).collect()}
    assert set(rows) == {0, 10, 20, 30}          # video only, stride 10
    assert rows[0]["dist"] is None and rows[0]["is_boundary"] is True
    for idx in (10, 20, 30):                      # dist present downstream
        assert rows[idx]["dist"] is not None
        assert rows[idx]["is_boundary"] == (rows[idx]["dist"] > 0.6)


class TestBm25:
    def test_scores_match_python_reference(self, spark):
        corpus = [
            (1, "hash join hash hash scan"),
            (2, "stream window stream"),
            (3, "sort merge only"),
            (4, "hash"),
        ]
        from eodatadown_spark.operators.corpus import bm25_scores

        got = {r["doc_id"]: r for r in bm25_scores(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            ["hash", "stream"],
        ).collect()}
        # python reference, same formula
        toks = {d: t.split() for d, t in corpus}
        N, avgdl = len(toks), sum(map(len, toks.values())) / len(toks)
        df = {q: sum(q in t for t in toks.values()) for q in ("hash", "stream")}
        for d, t in toks.items():
            terms = [q for q in ("hash", "stream") if q in t]
            if not terms:
                assert d not in got  # doc 3 matches nothing -> absent
                continue
            exp = sum(
                math.log(1 + (N - df[q] + 0.5) / (df[q] + 0.5))
                * t.count(q) * 2.2
                / (t.count(q) + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
                for q in terms
            )
            assert got[d]["score"] == pytest.approx(exp, abs=1e-4)
            assert got[d]["n_matched"] == len(terms)

    def test_more_matches_never_hurt(self, spark):
        # RSJ idf is always positive: a doc matching {a,b} outranks the
        # same doc matching only {a}
        from eodatadown_spark.operators.corpus import bm25_scores

        docs = spark.createDataFrame(
            [(1, "alpha beta x y"), (2, "alpha x y z")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["score"]
               for r in bm25_scores(docs, ["alpha", "beta"]).collect()}
        assert got[1] > got[2]


class TestPmi:
    def test_counts_and_sign(self, spark):
        from eodatadown_spark.operators.corpus import pmi_cooccurrence

        # a,b always co-occur (attract); a,c never do but both are frequent
        docs = spark.createDataFrame(
            [(i, "a b filler%d" % i) for i in range(6)]
            + [(10 + i, "c filler%d" % i) for i in range(6)],
            "doc_id long, text string",
        )
        got = {(r["tok_a"], r["tok_b"]): r
               for r in pmi_cooccurrence(docs, vocab_k=3, min_pairs=1).collect()}
        ab = got[("a", "b")]
        assert ab["n_ab"] == 6
        assert ab["pmi"] == pytest.approx(math.log(6 * 12 / (6 * 6)), abs=1e-4)
        assert ("a", "c") not in got  # zero co-occurrence -> no row

    def test_vocab_cap_and_ordering(self, spark):
        from eodatadown_spark.operators.corpus import pmi_cooccurrence

        docs = spark.createDataFrame(
            [(1, "z a"), (2, "z a"), (3, "z b"), (4, "b a z")],
            "doc_id long, text string",
        )
        # vocab_k=2 keeps {a, z} (df 3 each, ties token-asc drop b)
        got = pmi_cooccurrence(docs, vocab_k=2, min_pairs=1).collect()
        assert {(r["tok_a"], r["tok_b"]) for r in got} == {("a", "z")}
        # pairs are emitted tok_a < tok_b exactly once


class TestClusterRepresentatives:
    def test_longest_wins_ties_to_lowest_id(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog today"),  # longer
                (3, "the quick brown fox jumps over the lazy dog"),       # == 1
                (9, "completely unrelated text about something else"),
            ],
            "doc_id long, text string",
        )
        got = {r["cluster_id"]: r
               for r in D.cluster_representatives(docs, threshold=0.3).collect()}
        multi = [r for r in got.values() if r["n_members"] > 1]
        assert len(multi) == 1 and multi[0]["rep_doc_id"] == 2
        assert multi[0]["n_members"] == 3
        # singleton clusters elect themselves
        singles = [r for r in got.values() if r["n_members"] == 1]
        assert {r["rep_doc_id"] for r in singles} == {9}

    def test_quality_column_override(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f g", 0.1), (2, "a b c d e f g", 0.9)],
            "doc_id long, text string, quality double",
        )
        got = D.cluster_representatives(
            docs, quality_col="quality", threshold=0.3
        ).collect()
        multi = [r for r in got if r["n_members"] > 1]
        assert multi and multi[0]["rep_doc_id"] == 2
        assert multi[0]["max_quality"] == 0.9


class TestBlockedEditPairs:
    def test_blocking_and_threshold(self, spark):
        recs = spark.createDataFrame(
            [
                (1, "smith", "NY"), (2, "smyth", "NY"),   # dist 1, same block
                (3, "smith", "CA"),                        # same name, other block
                (4, "jones", "NY"),                        # dist > 2 from smith
                (5, "smitx", "NY"),                        # dist 1 from smith
            ],
            "rid long, name string, state string",
        )
        got = {(r["id_a"], r["id_b"]): r["edit_dist"]
               for r in D.blocked_edit_pairs(recs, "rid", "name", ["state"], 2).collect()}
        assert got == {(1, 2): 1, (1, 5): 1, (2, 5): 2}

    def test_each_pair_once(self, spark):
        recs = spark.createDataFrame(
            [(1, "aa", "X"), (2, "aa", "X"), (3, "aa", "X")],
            "rid long, name string, state string",
        )
        pairs = D.blocked_edit_pairs(recs, "rid", "name", ["state"], 0).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2), (1, 3), (2, 3)}
        assert all(r["edit_dist"] == 0 for r in pairs)


class TestJaccardPrefixPairs:
    def test_matches_inverted_index_exact(self, spark, docs):
        want = {(r["id_a"], r["id_b"], r["jaccard"])
                for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
        got = {(r["id_a"], r["id_b"], r["jaccard"])
               for r in D.jaccard_prefix_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
        assert got == want and want  # planted dups found, none lost

    def test_low_threshold_epsilon_guard(self, spark):
        # t=0.1 hits the ceil(0.1*10)=1.0000000000000002 float trap: the
        # ε-guard must keep the prefix long enough to lose nothing
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(12)))
             for i in range(12)],
            "doc_id long, text string",
        )
        for t in (0.1, 0.3, 0.8):
            want = {(r["id_a"], r["id_b"])
                    for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, t).collect()}
            got = {(r["id_a"], r["id_b"])
                   for r in D.jaccard_prefix_pairs(docs, "doc_id", "text", 3, t).collect()}
            assert got == want

class TestMmrRerank:
    @staticmethod
    def _py_mmr(vecs, query_ids, k, shortlist, lam):
        import math as m

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = m.sqrt(sum(x * x for x in a))
            nb = m.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        out = {}
        for qid in query_ids:
            qv = vecs[qid]
            scored = sorted(
                ((round(cos(qv, v), 6), -i) for i, v in vecs.items() if i != qid),
                reverse=True,
            )[:shortlist]
            cand = {-ni: r for r, ni in scored}
            sel = []
            rels = dict(cand)
            while len(sel) < k and len(sel) < len(cand):
                best = None
                for i, rel in rels.items():
                    if i in sel:
                        continue
                    ms = max(cos(vecs[i], vecs[s]) for s in sel) if sel else None
                    score = rel if ms is None else round(0.7 * rel - (1 - 0.7) * ms, 6)
                    key = (score, -i)
                    if best is None or key > best[0]:
                        best = (key, i)
                sel.append(best[1])
            out[qid] = sel
        return out

    def test_matches_python_greedy(self, spark):
        import random

        rng = random.Random(3)
        vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(20)}
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        got = {}
        rows = S.mmr_rerank(
            df, df.where("vec_id < 3"), k=3, shortlist=6, lam=0.7
        ).collect()
        for r in rows:
            got.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
        # python reference works on the same float32-truncated vectors the
        # engine reads back from the array<float> column
        f32 = {
            r["vec_id"]: [float(x) for x in r["embedding"]] for r in df.collect()
        }
        want = self._py_mmr(f32, [0, 1, 2], 3, 6, 0.7)
        for qid, sel in want.items():
            assert [got[qid][r] for r in (1, 2, 3)] == sel

    def test_diversifies_near_dup_cluster(self, spark):
        # corpus: three near-identical A vectors + one orthogonal B; plain
        # top-2 returns two As, MMR at λ=0.3 swaps B in at rank 2
        rows = [
            (0, [1.0, 0.0]),         # the query
            (1, [1.0, 0.01]), (2, [1.0, 0.011]), (3, [1.0, 0.012]),
            (4, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.where("vec_id = 0")
        got = {
            r["rank"]: r["neighbor_id"]
            for r in S.mmr_rerank(df, q, k=2, shortlist=4, lam=0.3).collect()
        }
        assert got[1] in (1, 2, 3)   # most relevant wins rank 1
        assert got[2] == 4           # diversity beats the second near-dup
        topk = {
            r["rank"]: r["neighbor_id"]
            for r in S.mmr_rerank(df, q, k=2, shortlist=4, lam=1.0).collect()
        }
        assert topk[2] in (1, 2, 3)  # λ=1 degenerates to plain top-k


class TestPhashNeardup:
    def test_exact_dups_and_banding(self, spark):
        from eodatadown_spark.operators.multimodal import phash_neardup_pairs

        media = spark.createDataFrame(
            [
                (1, bytearray(b"same payload bytes")),
                (2, bytearray(b"same payload bytes")),   # exact dup of 1
                (3, bytearray(b"same payload bytes")),   # and of 2
                (4, bytearray(b"completely different content here")),
            ],
            "media_id long, payload binary",
        )
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in phash_neardup_pairs(media, radius=0).collect()}
        assert got == {(1, 2): 0, (1, 3): 0, (2, 3): 0}

    def test_radius_guard(self, spark):
        from eodatadown_spark.operators.multimodal import phash_neardup_pairs

        media = spark.createDataFrame(
            [(1, bytearray(b"x"))], "media_id long, payload binary"
        )
        with pytest.raises(ValueError, match="pigeonhole"):
            phash_neardup_pairs(media, radius=4, n_bands=4)

    @staticmethod
    def _naive_phash(payload: bytes) -> int:
        """Independent reference: the same 63-bit DCT hash via explicit
        double-loop cosine sums — no numpy, no matmul, no shared code
        beyond the integer cosine table (the pinned contract)."""
        from eodatadown_spark.operators.multimodal import _dct_table

        n = 32 * 32
        buf = (payload * (n // max(len(payload), 1) + 1))[:n] if payload \
            else bytes(n)
        d = _dct_table()
        coef = []
        for u in range(8):
            for v in range(8):
                s = 0
                for i in range(32):
                    for j in range(32):
                        s += d[u][i] * d[v][j] * buf[i * 32 + j]
                coef.append(s)
        coef = coef[1:]
        med = sorted(coef)[31]
        return sum(1 << i for i, c in enumerate(coef) if c > med)

    def test_dct_hash_matches_naive_reference(self):
        from eodatadown_spark.operators.multimodal import phash64

        import numpy as np

        rng = np.random.RandomState(7)
        for payload in (
            bytes(rng.randint(0, 256, 1024, dtype=np.uint8)),
            b"short payload cycles",
            b"",
        ):
            assert phash64(payload) == self._naive_phash(payload)

    def test_one_pixel_noise_pairs_distinct_rasters_dont(self, spark):
        """Planted near-identical rasters (1-pixel noise) pair at small
        radius; independent random rasters don't."""
        from eodatadown_spark.operators.multimodal import phash_neardup_pairs

        import numpy as np

        rng = np.random.RandomState(42)
        base = rng.randint(0, 256, 1024, dtype=np.uint8)
        noisy = base.copy()
        noisy[17] = (int(noisy[17]) + 9) % 256          # one-pixel noise
        other = rng.randint(0, 256, 1024, dtype=np.uint8)
        media = spark.createDataFrame(
            [(1, bytearray(base.tobytes())),
             (2, bytearray(noisy.tobytes())),
             (3, bytearray(other.tobytes()))],
            "media_id long, payload binary",
        )
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in phash_neardup_pairs(media, radius=3).collect()}
        assert set(got) == {(1, 2)} and got[(1, 2)] <= 3

    def test_banding_exact_vs_naive_all_pairs(self, spark):
        """The banded plan loses nothing: every ≤radius pair from a naive
        all-pairs recompute with the no-numpy reference hash surfaces."""
        from eodatadown_spark.operators.multimodal import phash_neardup_pairs

        import numpy as np

        rng = np.random.RandomState(3)
        payloads = {}
        for i in range(4):
            payloads[i] = rng.randint(0, 256, 1024, dtype=np.uint8)
        for i in range(4):                               # noisy twins
            tw = payloads[i].copy()
            tw[5 * i] = (int(tw[5 * i]) + 3) % 256
            payloads[10 + i] = tw
        media = spark.createDataFrame(
            [(i, bytearray(p.tobytes())) for i, p in payloads.items()],
            "media_id long, payload binary",
        )
        want = {}
        hashes = {i: self._naive_phash(p.tobytes())
                  for i, p in payloads.items()}
        for i in sorted(payloads):
            for j in sorted(payloads):
                if i < j:
                    h = bin(hashes[i] ^ hashes[j]).count("1")
                    if h <= 2:
                        want[(i, j)] = h
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in phash_neardup_pairs(media, radius=2).collect()}
        assert got == want and want


def test_bm25_empty_terms_rejected(spark):
    from eodatadown_spark.operators.corpus import bm25_scores

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="query term"):
        bm25_scores(docs, [])


def test_blocked_pairs_empty_blocking_rejected(spark):
    recs = spark.createDataFrame([(1, "x", "A")], "rid long, name string, st string")
    with pytest.raises(ValueError, match="block column"):
        D.blocked_edit_pairs(recs, "rid", "name", [])


def test_mmr_accepts_ann_shortlist(spark):
    """The candidates= hook: an LSH shortlist (enriched with rel + vectors)
    feeds the greedy tail directly — the 100 TB path."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    short = S.lsh_bucket_topk(emb, qs, k=6, n_planes=2)  # few planes: recall-rich
    cand = short.join(
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.expr("cast(embedding as array<double>)").alias("__cv")),
        "neighbor_id",
    ).select("query_id", "neighbor_id", F.col("cos_sim").alias("rel"), "__cv")
    sel = S.mmr_rerank(None, None, k=3, lam=0.6, candidates=cand).collect()
    got = {}
    for r in sel:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    short_ids = {}
    for r in short.collect():
        short_ids.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qid, ids in got.items():
        assert len(ids) == 3
        assert ids <= short_ids[qid]  # selection ⊆ the ANN shortlist


def test_phash_incremental_index_matches_full_run(spark):
    """Stored-index probe parity: phash_neardup_against_index(new, index)
    must equal phash_neardup_pairs(old ∪ new) restricted to pairs with a
    new endpoint — new-vs-corpus AND new-vs-new."""
    from eodatadown_spark.operators.multimodal import (
        phash_index,
        phash_neardup_against_index,
        phash_neardup_pairs,
    )

    import numpy as np

    rng = np.random.RandomState(11)
    corpus_payloads = {i: rng.randint(0, 256, 1024, dtype=np.uint8)
                       for i in range(6)}
    new_payloads = {}
    for i in range(3):                      # noisy twins of corpus items
        tw = corpus_payloads[i].copy()
        tw[7 * i] = (int(tw[7 * i]) + 4) % 256
        new_payloads[100 + i] = tw
    new_payloads[110] = new_payloads[100].copy()   # new-vs-new exact dup
    new_payloads[111] = rng.randint(0, 256, 1024, dtype=np.uint8)  # novel

    mk = lambda d: spark.createDataFrame(
        [(i, bytearray(p.tobytes())) for i, p in d.items()],
        "media_id long, payload binary",
    )
    corpus, new = mk(corpus_payloads), mk(new_payloads)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup_against_index(
            new, phash_index(corpus, n_bands=4), radius=3, n_bands=4
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup_pairs(
            corpus.unionByName(new), radius=3, n_bands=4
        ).collect()
        if r["id_b"] >= 100
    }
    assert got == want
    assert (100, 110) in got               # new-vs-new surfaces
    assert any(a < 100 for a, _ in got)    # new-vs-corpus surfaces


def test_update_clusters_incremental_equals_full(spark):
    """Star-edge incremental cluster maintenance == full recompute: new
    pairs bridge two OLD clusters and attach a new doc; untouched
    clusters pass through frozen; pairless new docs become singletons."""
    from eodatadown_spark.operators.dedup import update_clusters

    # stored assignments: {1,2} (min 1), {5,6} (min 5), {9} singleton
    assignments = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (5, 5, True), (6, 5, False),
         (9, 9, True)],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    # batch: doc 100 pairs with 2 AND 6 (bridges the two clusters),
    # doc 200 arrives pairless
    new_pairs = spark.createDataFrame(
        [(2, 100), (6, 100)], "id_a long, id_b long"
    )
    new_docs = spark.createDataFrame([(100,), (200,)], "doc_id long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in update_clusters(assignments, new_pairs, new_docs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 5: (1, False), 6: (1, False),
        100: (1, False),          # the bridge merges {1,2}∪{5,6}∪{100}
        9: (9, True),             # untouched cluster frozen
        200: (200, True),         # pairless new doc → singleton
    }


def test_update_clusters_driver_vs_distributed_identical(spark):
    """The small-graph union-find fast path must produce labels IDENTICAL
    to the distributed min-label propagation (small_graph_edges=None),
    including chained merges and singletons — min id per component is
    deterministic in both."""
    from eodatadown_spark.operators.dedup import update_clusters

    assignments = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (5, 5, True), (6, 5, False),
         (9, 9, True), (11, 11, True), (12, 11, False)],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    # a CHAIN through the batch: 2-100, 100-101, 101-6 (merges {1,2} and
    # {5,6} through two new docs) plus 12-300 (touches {11,12})
    new_pairs = spark.createDataFrame(
        [(2, 100), (100, 101), (6, 101), (12, 300)],
        "id_a long, id_b long",
    )
    new_docs = spark.createDataFrame(
        [(100,), (101,), (300,), (400,)], "doc_id long"
    )
    fast = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in update_clusters(
            assignments, new_pairs, new_docs, small_graph_edges=10_000
        ).collect()
    }
    dist = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in update_clusters(
            assignments, new_pairs, new_docs, small_graph_edges=None
        ).collect()
    }
    assert fast == dist
    labels = {d: c for d, c, _ in fast}
    assert labels[100] == 1 and labels[101] == 1 and labels[6] == 1
    assert labels[300] == 11 and labels[400] == 400 and labels[9] == 9

    # cutover: an edge count ABOVE the cutoff must take the distributed
    # path and still produce the same answer
    over = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in update_clusters(
            assignments, new_pairs, new_docs, small_graph_edges=1
        ).collect()
    }
    assert over == dist


def test_update_clusters_conditional_pair_pin(spark):
    """r14: update_clusters pins its pair set only when the pairs plan
    carries an Exchange.  Every production caller passes an already-
    materialized probe output, so the old unconditional pin re-ran a
    localCheckpoint job on a narrow projection of a pinned RDD — the
    narrow input must now leak NO new persistent blocks from the call,
    the exchange-bearing input must still pin, and rows must be
    identical either way (the pin is execution strategy, not
    semantics)."""
    from eodatadown_spark.operators.dedup import update_clusters

    assignments = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (9, 9, True)],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    raw = spark.createDataFrame([(2, 100)], "id_a long, id_b long")
    new_docs = spark.createDataFrame([(100,), (200,)], "doc_id long")

    def persistent_ids() -> set:
        # ids, not a count: the ContextCleaner may CONCURRENTLY release
        # checkpoints left by earlier tests, so only NEW ids are asserted
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    # narrow (pre-pinned, the production shape): no new blocks survive
    pinned = raw.localCheckpoint()
    ids0 = persistent_ids()
    got_narrow = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in update_clusters(assignments, pinned, new_docs).collect()
    }
    assert persistent_ids() - ids0 == set()

    # exchange-bearing plan (a distinct): the defensive pin still fires
    ids1 = persistent_ids()
    got_wide = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in update_clusters(
            assignments, raw.distinct(), new_docs
        ).collect()
    }
    assert len(persistent_ids() - ids1) == 1
    assert got_narrow == got_wide == {
        (1, 1, True), (2, 1, False), (100, 1, False),
        (9, 9, True), (200, 200, True),
    }


def test_update_clusters_pins_python_udf_pairs(spark):
    """A pair set filtered by a Python UDF carries no exchange, but every
    reference to an unpinned plan re-runs the UDF: update_clusters pins
    it, so the UDF runs once per pair row."""
    from eodatadown_spark.operators.dedup import update_clusters

    calls = spark.sparkContext.accumulator(0)

    def keep(id_a):
        calls.add(1)
        return True

    assignments = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (9, 9, True)],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    raw = spark.createDataFrame(
        [(2, 100), (9, 101), (1, 102)], "id_a long, id_b long"
    )
    pairs = raw.where(F.udf(keep, "boolean")("id_a"))
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in update_clusters(assignments, pairs).collect()
    }
    assert calls.value == 3
    assert got == {(1, 1), (2, 1), (100, 1), (102, 1), (9, 9), (101, 9)}


def test_neardup_clusters_driver_vs_distributed_identical(spark):
    """Round-8: neardup_clusters' size-gated union-find must match the
    distributed propagation exactly, including a >1-round chain and
    singletons joined back relationally."""
    texts = [" ".join(f"w{j}" for j in range(i, i + 40)) for i in range(0, 32, 8)]
    texts.append("an utterly unrelated document with its very own vocabulary")
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    fast = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in D.neardup_clusters(df, threshold=0.3).collect()
    }
    dist = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in D.neardup_clusters(
            df, threshold=0.3, small_graph_edges=None
        ).collect()
    }
    assert fast == dist
    labels = {d: c for d, c, _ in fast}
    assert labels[0] == labels[1] == labels[2] == labels[3] == 0  # the chain
    assert labels[4] == 4                                         # singleton


def test_simhash_index_probe_equals_full_rerun(spark):
    """simhash_neardup_against_index == simhash_neardup_pairs over old∪new
    filtered to new-endpoint pairs — new-vs-corpus AND new-vs-new both
    surface, nothing else."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base),
        (2, base + "mu"),                       # near-dup of 1 (old-old: excluded)
        (3, "a completely different document about oranges and apples and "
            "plenty of other fruit words"),
        (100, base + "nu"),                     # new ~ {1,2}
        (101, base + "nu"),                     # new == new 100 (hamming 0)
        (102, "an unrelated novel payload with distinct vocabulary choices"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.where(F.col("doc_id") < 100)
    new = docs.where(F.col("doc_id") >= 100)
    idx = D.simhash_band_index(old, band_bits=6)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_neardup_against_index(
            new, idx, max_hamming=8, band_bits=6
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_neardup_pairs(
            docs, max_hamming=8, band_bits=6
        ).collect()
        if r["id_a"] >= 100 or r["id_b"] >= 100
    }
    assert got == want and got
    assert any(a < 100 for a, _b, _h in got)     # new-vs-corpus surfaces
    assert (100, 101) in {(a, b) for a, b, _ in got}  # new-vs-new surfaces


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------


def _ref_winnow(text: str, k: int, w: int) -> set:
    """Pure-Python reference winnow: (fp_hash, pos) set, rightmost-tie min
    per window, one whole-doc window when grams < w, 1-based positions."""
    import hashlib
    import re

    s = re.sub(r"[^a-z0-9]", "", text.lower())
    hs = [
        int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(s) - k + 1)
    ]
    out = set()
    if not hs:
        return out
    for j in range(max(len(hs) - w + 1, 1)):
        sl = hs[j:j + w]
        h = min(sl)
        pos = j + max(i for i, v in enumerate(sl) if v == h) + 1
        out.add((h, pos))
    return out


class TestWinnowing:
    def test_matches_python_reference(self, spark):
        from eodatadown_spark.operators.text import winnow_fingerprints

        rows = [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "aaaaaaaaaaaa"),          # all-identical grams: pure tie case
            (3, "abcabcabcabcabc"),       # periodic text: repeated gram ties
            (4, "tiny"),                  # shorter than k=5 after normalize
            (5, "...!!!,,,"),             # normalizes to empty
            (6, "sixchr"),                # 6 chars: 2 grams < window -> 1 window
            (7, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc_id"], r["fp_hash"], r["pos"])
            for r in winnow_fingerprints(docs, k=5, window=4).collect()
        }
        want = {
            (i, h, p)
            for i, t in rows
            for h, p in _ref_winnow(t, 5, 4)
        }
        assert got == want
        assert not any(d in (4, 5, 7) for d, _h, _p in got)  # too short: none
        assert sum(1 for d, _h, _p in got if d == 6) == 1    # one whole-doc window

    def test_substring_match_guarantee(self, spark):
        # the winnowing guarantee: a shared normalized substring of length
        # >= k + w - 1 forces at least one shared fingerprint
        from eodatadown_spark.operators.text import winnow_similarity

        shared = "zqxjvkwpfyhgbdmn"  # 16 >= 5 + 4 - 1, rare letters
        rows = [
            (1, "left payload alpha " + shared + " trailing words here"),
            (2, "completely other preamble " + shared + " different tail"),
            (3, "no overlap with anything else at all in this document"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in winnow_similarity(
                docs, k=5, window=4, min_shared=1
            ).collect()
        }
        assert (1, 2) in pairs
        assert not any(3 in p for p in pairs)

    def test_max_df_drops_boilerplate(self, spark):
        from eodatadown_spark.operators.text import winnow_similarity

        boiler = "standardfooterzyxwvu"
        rows = [(i, f"document number {i} unique body {i} " + boiler)
                for i in range(1, 7)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        with_cap = winnow_similarity(
            docs, k=5, window=4, min_shared=1, max_df=3
        ).count()
        without_cap = winnow_similarity(
            docs, k=5, window=4, min_shared=1
        ).count()
        assert without_cap > 0
        assert with_cap < without_cap  # footer hashes (df=6) pruned

    def test_fingerprints_distinct_per_doc(self, spark):
        from eodatadown_spark.operators.text import winnow_fingerprints

        docs = spark.createDataFrame(
            [(1, "abcabcabcabcabcabcabc")], "doc_id long, text string"
        )
        pdf = winnow_fingerprints(docs, k=5, window=4).toPandas()
        assert not pdf.duplicated(["doc_id", "fp_hash", "pos"]).any()


class TestImportanceWeights:
    def _ref(self, rows, target_ids):
        import math
        from collections import Counter

        toks = {i: t.lower().split() for i, t in rows}
        cnt_s = Counter(tok for ts in toks.values() for tok in ts)
        cnt_t = Counter(
            tok for i, ts in toks.items() if i in target_ids for tok in ts
        )
        v = len(cnt_s)
        tot_s = sum(cnt_s.values())
        tot_t = sum(cnt_t.values())
        out = {}
        for i, ts in toks.items():
            lw = sum(
                math.log((cnt_t[tok] + 1) / (tot_t + v))
                - math.log((cnt_s[tok] + 1) / (tot_s + v))
                for tok in ts
            )
            out[i] = round(lw, 4)
        return out

    def test_matches_python_reference(self, spark):
        from eodatadown_spark.operators.corpus import importance_weights

        rows = [
            (1, "alpha beta gamma alpha"),
            (2, "alpha beta delta"),
            (3, "omega psi chi omega omega"),
            (4, "beta beta beta"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["log_weight"], r["n_tokens"])
            for r in importance_weights(
                docs, target=F.col("doc_id") <= 2
            ).collect()
        }
        want = self._ref(rows, {1, 2})
        assert set(got) == set(want)
        for i, (lw, n) in got.items():
            assert abs(lw - want[i]) < 1e-9, (i, lw, want[i])
            assert n == len(rows[i - 1][1].split())

    def test_target_like_docs_score_higher(self, spark):
        from eodatadown_spark.operators.corpus import importance_weights

        # target slice speaks 'aa bb', the rest speaks 'zz yy'; a fresh doc
        # in target vocabulary must outscore one in source-only vocabulary
        rows = (
            [(i, "aa bb aa bb") for i in range(10)]
            + [(i, "zz yy zz yy") for i in range(10, 20)]
        )
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        w = {
            r["doc_id"]: r["log_weight"]
            for r in importance_weights(
                docs, target=F.col("doc_id") < 10
            ).collect()
        }
        assert w[0] > 0 > w[10]

    def test_empty_target_slice_rejected_by_math(self, spark):
        # with NO target rows every token backs off to the same 1/(0+V)
        # numerator: weights stay finite (smoothing) and uniform per token mass
        from eodatadown_spark.operators.corpus import importance_weights

        docs = spark.createDataFrame(
            [(1, "aa bb"), (2, "aa cc")], "doc_id long, text string"
        )
        rows = importance_weights(docs, target=F.lit(False)).collect()
        assert all(r["log_weight"] is not None for r in rows)


class TestLineDedup:
    """Cross-document line dedup (C4 §2.2 rule): drop lines whose
    normalized form appears in more than max_docs distinct documents,
    keep original order, keep structural empties."""

    ROWS = [
        (1, "Subscribe now\nalpha beta\n\ngamma"),
        (2, "  subscribe NOW \ndelta"),
        (3, "unique only"),
    ]

    def _run(self, spark, rows, **kw):
        from eodatadown_spark.operators.corpus import line_dedup

        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in line_dedup(docs, **kw).collect()}

    def test_boilerplate_line_removed_case_and_trim_insensitive(self, spark):
        got = self._run(spark, self.ROWS)
        assert got[1]["n_lines"] == 4 and got[1]["n_kept"] == 3
        assert got[1]["text_kept"] == "alpha beta\n\ngamma"
        assert got[2]["n_lines"] == 2 and got[2]["n_kept"] == 1
        assert got[2]["text_kept"] == "delta"
        assert got[3]["text_kept"] == "unique only"

    def test_max_docs_threshold_keeps_below_or_equal(self, spark):
        got = self._run(spark, self.ROWS, max_docs=2)
        assert all(r["n_kept"] == r["n_lines"] for r in got.values())
        assert got[1]["text_kept"] == self.ROWS[0][1]

    def test_within_doc_repeats_alone_do_not_fire(self, spark):
        # df counts DISTINCT docs: a line repeated 3x inside ONE doc stays
        got = self._run(spark, [(1, "same\nsame\nsame"), (2, "other")])
        assert got[1]["n_kept"] == 3

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        got = self._run(spark, [(1, "ditto"), (2, "ditto"), (3, "x\nditto")])
        assert got[1]["text_kept"] == "" and got[1]["n_kept"] == 0
        assert got[3]["text_kept"] == "x" and got[3]["n_lines"] == 2

    def test_empty_norm_lines_always_kept(self, spark):
        # blank/whitespace-only lines normalize to '' in every doc but are
        # structure, not boilerplate
        got = self._run(spark, [(1, "a\n \nb"), (2, "c\n\nd")])
        assert got[1]["n_kept"] == 3 and got[2]["n_kept"] == 3


class TestQualityClassifier:
    """In-engine logistic-regression quality filter: Spark training (one
    agg pass per GD iteration) must replay the pure-Python reference
    exactly (same tokenizer, hash, update order)."""

    ROWS = [
        (1, "the quick brown fox jumps over the lazy dog", True),
        (2, "lorem ipsum dolor sit amet consectetur", False),
        (3, "the dog sleeps near the quick fox", True),
        (4, "ipsum lorem amet dolor sit", False),
        (5, "a quick brown dog and a lazy fox", True),
        (6, "dolor consectetur ipsum sit lorem amet amet", False),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, t, y) for i, t, y in self.ROWS],
            "doc_id long, text string, good boolean",
        )

    def test_training_matches_python_reference(self, spark):
        from eodatadown_spark.operators.classify import (
            reference_train,
            train_quality_classifier,
        )

        got = train_quality_classifier(
            self._docs(spark), label=F.col("good"), n_features=8, iters=3
        )
        want = reference_train(self.ROWS, n_features=8, iters=3)
        assert len(got) == 9
        for g, w in zip(got, want):
            assert abs(g - w) < 1e-9, (got, want)

    def test_separable_labels_learned(self, spark):
        from eodatadown_spark.operators.classify import (
            score_documents,
            train_quality_classifier,
        )

        docs = self._docs(spark)
        w = train_quality_classifier(docs, label=F.col("good"), iters=25)
        probs = {
            r["doc_id"]: r["prob"] for r in score_documents(docs, w).collect()
        }
        # disjoint vocabularies: every positive doc must outscore every negative
        assert min(probs[1], probs[3], probs[5]) > max(probs[2], probs[4 + 2], probs[4])

    def test_quality_filter_keeps_full_rows_above_threshold(self, spark):
        from eodatadown_spark.operators.classify import (
            quality_filter,
            train_quality_classifier,
        )

        docs = self._docs(spark)
        w = train_quality_classifier(docs, label=F.col("good"), iters=25)
        kept = quality_filter(docs, w, threshold=0.5)
        assert set(kept.columns) == {"doc_id", "text", "good"}
        assert {r["doc_id"] for r in kept.collect()} == {1, 3, 5}

    def test_zero_token_docs_excluded_from_features(self, spark):
        from eodatadown_spark.operators.classify import hashed_features

        docs = spark.createDataFrame(
            [(1, "one token"), (2, "   "), (3, "")], "doc_id long, text string"
        )
        ids = {r["doc_id"] for r in hashed_features(docs).collect()}
        assert ids == {1}

    def test_feature_rows_are_l1_normalized(self, spark):
        from eodatadown_spark.operators.classify import hashed_features

        docs = spark.createDataFrame(
            [(1, "aa bb cc dd ee ff gg hh ii jj")], "doc_id long, text string"
        )
        r = hashed_features(docs, n_features=4).collect()[0]
        assert abs(sum(r[f"x{j}"] for j in range(4)) - 1.0) < 1e-12
        assert r["n_tokens"] == 10


class TestEntropySignals:
    """Char/token Shannon entropy as zero-shuffle projections: the fold
    over sorted runs must equal the Counter-based Python definition."""

    @staticmethod
    def _ref_entropy(items):
        import collections
        import math as m

        if not items:
            return 0.0
        n = len(items)
        return round(
            m.log2(n)
            - sum(c * m.log2(c) for c in collections.Counter(items).values()) / n,
            4,
        )

    def test_char_entropy_matches_counter_definition(self, spark):
        from eodatadown_spark.operators.text import char_entropy

        texts = ["aaaa", "abab", "abcd", "the quick brown fox", "", "x"]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["h"]
            for r in docs.select("doc_id", char_entropy("text").alias("h")).collect()
        }
        for i, t in enumerate(texts):
            assert abs(got[i] - self._ref_entropy(list(t))) < 1e-9, (i, t, got[i])

    def test_char_entropy_known_values(self, spark):
        from eodatadown_spark.operators.text import char_entropy

        docs = spark.createDataFrame(
            [(0, "aaaa"), (1, "abab"), (2, "abcd")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["h"]
            for r in docs.select("doc_id", char_entropy("text").alias("h")).collect()
        }
        assert got[0] == 0.0 and got[1] == 1.0 and got[2] == 2.0

    def test_token_entropy_repetition_vs_diversity(self, spark):
        from eodatadown_spark.operators.text import token_entropy

        docs = spark.createDataFrame(
            [(0, "spam spam spam spam"), (1, "all tokens here differ"), (2, "  ")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["h"]
            for r in docs.select("doc_id", token_entropy("text").alias("h")).collect()
        }
        assert got[0] == 0.0
        assert got[1] == 2.0  # 4 distinct of 4 → log2(4)
        assert got[2] == 0.0  # blank → zero tokens → defined as 0

    def test_evaluate_gate_counts_and_ratios(self, spark):
        from eodatadown_spark.operators.classify import evaluate_gate

        # hand-built feature rows: 1 feature, weights force pred = x0 >= 0.5
        feat = spark.createDataFrame(
            [(1, 1.0, 1.0), (2, 1.0, 1.0), (3, 1.0, 0.0),
             (4, 0.0, 1.0), (5, 0.0, 0.0), (6, 0.0, 0.0)],
            "doc_id long, x0 double, y double",
        )
        r = evaluate_gate(feat, [10.0, -5.0]).collect()[0]
        assert (r["n_tp"], r["n_fp"], r["n_fn"], r["n_tn"]) == (2, 1, 1, 2)
        assert r["prec"] == round(2 / 3, 4)
        assert r["rec"] == round(2 / 3, 4)
        assert r["f1"] == round(4 / 6, 4)


class TestSparseClassifierPath:
    """Large-d twin: sorted-bucket-set features + explode-groupBy gradient.
    z is bit-identical to the dense binary path (index-ordered terms,
    absent buckets contribute exactly +0.0); gradients agree to float-
    reduction tolerance."""

    ROWS = [
        (1, "the quick brown fox jumps over the lazy dog", True),
        (2, "lorem ipsum dolor sit amet consectetur", False),
        (3, "the dog sleeps near the quick fox", True),
        (4, "ipsum lorem amet dolor sit", False),
        (5, "a quick brown dog and a lazy fox", True),
        (6, "dolor consectetur ipsum sit lorem amet amet", False),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            self.ROWS, "doc_id long, text string, good boolean"
        )

    def test_sparse_training_matches_dense_within_tolerance(self, spark):
        from eodatadown_spark.operators.classify import (
            train_quality_classifier,
            train_quality_classifier_sparse,
        )

        docs = self._docs(spark)
        dense = train_quality_classifier(
            docs, label=F.col("good"), n_features=16, iters=6, lr=8.0,
            binary=True,
        )
        sparse = train_quality_classifier_sparse(
            docs, label=F.col("good"), n_features=16, iters=6, lr=8.0
        )
        assert len(dense) == len(sparse) == 17
        for a, b in zip(dense, sparse):
            assert abs(a - b) < 1e-9, (dense, sparse)

    def test_sparse_scoring_exactly_matches_dense_given_weights(self, spark):
        from eodatadown_spark.operators.classify import (
            score_documents,
            score_documents_sparse,
            train_quality_classifier_sparse,
        )

        docs = self._docs(spark)
        w = train_quality_classifier_sparse(
            docs, label=F.col("good"), n_features=16, iters=6, lr=8.0
        )
        dense = {
            r["doc_id"]: r["prob"]
            for r in score_documents(docs, w, binary=True).collect()
        }
        sparse = {
            r["doc_id"]: r["prob"]
            for r in score_documents_sparse(docs, w).collect()
        }
        assert dense == sparse  # bit-identical z → identical rounded probs

    def test_bucket_sets_are_sorted_and_distinct(self, spark):
        from eodatadown_spark.operators.classify import hashed_feature_sets

        feat = hashed_feature_sets(self._docs(spark), 16).collect()
        for r in feat:
            assert r["buckets"] == sorted(set(r["buckets"]))


class TestCountMinSketch:
    """Relational Count-Min: estimates always dominate exact counts,
    merge is exactly additive, absent values probe as bounded
    overestimates of zero."""

    def _tokens(self, spark, rows):
        return spark.createDataFrame([(t,) for t in rows], "token string")

    def test_estimate_dominates_exact(self, spark):
        from eodatadown_spark.operators.merge import (
            build_count_min,
            count_min_estimate,
        )

        toks = ["alpha"] * 7 + ["beta"] * 3 + ["gamma"] * 5 + ["delta"]
        df = self._tokens(spark, toks)
        cms = build_count_min(df, "token", depth=4, width=64)
        probes = self._tokens(spark, ["alpha", "beta", "gamma", "delta"])
        got = {
            r["token"]: r["cms_cnt"]
            for r in count_min_estimate(cms, probes, "token", 4, 64).collect()
        }
        import collections

        exact = collections.Counter(toks)
        for t, c in exact.items():
            assert got[t] >= c, (t, got[t], c)
        # with width 64 and 4 distinct values, no collisions: exact equality
        assert got == dict(exact)

    def test_merge_is_exactly_additive(self, spark):
        from eodatadown_spark.operators.merge import (
            build_count_min,
            merge_count_min,
        )

        a = self._tokens(spark, ["x"] * 3 + ["y"])
        b = self._tokens(spark, ["x"] * 2 + ["z"] * 4)
        both = self._tokens(spark, ["x"] * 5 + ["y"] + ["z"] * 4)
        merged = {
            (r["cms_row"], r["cms_bucket"]): r["cnt"]
            for r in merge_count_min(
                build_count_min(a, "token", 4, 32),
                build_count_min(b, "token", 4, 32),
            ).collect()
        }
        full = {
            (r["cms_row"], r["cms_bucket"]): r["cnt"]
            for r in build_count_min(both, "token", 4, 32).collect()
        }
        assert merged == full

    def test_absent_value_estimates_bounded(self, spark):
        from eodatadown_spark.operators.merge import (
            build_count_min,
            count_min_estimate,
        )

        cms = build_count_min(self._tokens(spark, ["seen"] * 9), "token", 4, 4)
        got = count_min_estimate(
            cms, self._tokens(spark, ["never"]), "token", 4, 4
        ).collect()[0]
        # width=4 forces collisions: estimate of an absent value is an
        # overestimate of 0, bounded by the total mass
        assert 0 <= got["cms_cnt"] <= 9

    def test_forced_collision_overestimates(self, spark):
        from eodatadown_spark.operators.merge import (
            build_count_min,
            count_min_estimate,
        )

        # width=1: every value shares the single bucket per row — the
        # estimate for anything equals the TOTAL stream size
        df = self._tokens(spark, ["a", "b", "c", "d", "e"])
        cms = build_count_min(df, "token", depth=2, width=1)
        got = count_min_estimate(
            cms, self._tokens(spark, ["a"]), "token", 2, 1
        ).collect()[0]
        assert got["cms_cnt"] == 5

    def test_grouped_sketch_rejected_by_probe(self, spark):
        # probing a per-group sketch on (cms_row, cms_bucket) alone would
        # min ACROSS groups and undercut the overestimate invariant —
        # refuse loudly instead of mis-estimating silently
        import pytest

        from eodatadown_spark.operators.merge import (
            build_count_min,
            count_min_estimate,
        )

        df = spark.createDataFrame(
            [("g1", "x"), ("g1", "x"), ("g2", "x")], "src string, token string"
        )
        grouped = build_count_min(df, "token", 2, 8, group_cols=["src"])
        with pytest.raises(ValueError, match="ungrouped"):
            count_min_estimate(
                grouped, self._tokens(spark, ["x"]), "token", 2, 8
            )
        # the documented escape hatches still probe correctly
        one_group = grouped.where("src = 'g1'").drop("src")
        got = count_min_estimate(
            one_group, self._tokens(spark, ["x"]), "token", 2, 8
        ).collect()[0]
        assert got["cms_cnt"] >= 2


class TestBloomFilter:
    """Relational Bloom: no false negatives ever, merge is exactly the
    union build, forced collisions only ever ADD positives."""

    def _tokens(self, spark, rows):
        return spark.createDataFrame([(t,) for t in rows], "token string")

    def test_no_false_negatives(self, spark):
        from eodatadown_spark.operators.merge import (
            bloom_might_contain,
            build_bloom,
        )

        vals = [f"tok{i}" for i in range(50)]
        bloom = build_bloom(self._tokens(spark, vals), "token", 4, 1024)
        hits = {
            r["token"]: r["bloom_hit"]
            for r in bloom_might_contain(
                bloom, self._tokens(spark, vals), "token", 4, 1024
            ).collect()
        }
        assert all(hits[v] is True for v in vals)
        # plenty of slack at m=1024/k=4/n=50: the 50 absent probes should
        # be overwhelmingly misses (FP rate ~ (1-e^{-kn/m})^k ≈ 0.1%)
        absent = [f"other{i}" for i in range(50)]
        miss = {
            r["token"]: r["bloom_hit"]
            for r in bloom_might_contain(
                bloom, self._tokens(spark, absent), "token", 4, 1024
            ).collect()
        }
        assert sum(1 for v in miss.values() if v) <= 5

    def test_merge_equals_union_build(self, spark):
        from eodatadown_spark.operators.merge import build_bloom, merge_bloom

        a = self._tokens(spark, ["x", "y"])
        b = self._tokens(spark, ["y", "z"])
        both = self._tokens(spark, ["x", "y", "z"])
        merged = {
            r["bloom_bit"]
            for r in merge_bloom(
                build_bloom(a, "token", 3, 64), build_bloom(b, "token", 3, 64)
            ).collect()
        }
        full = {
            r["bloom_bit"] for r in build_bloom(both, "token", 3, 64).collect()
        }
        assert merged == full

    def test_saturated_filter_all_hits(self, spark):
        # m=2: every value maps into the 2 bits — probes all collide true,
        # the degenerate direction (false POSITIVES only, never negatives)
        from eodatadown_spark.operators.merge import (
            bloom_might_contain,
            build_bloom,
        )

        bloom = build_bloom(
            self._tokens(spark, ["a", "b", "c", "d"]), "token", 2, 2
        )
        got = bloom_might_contain(
            bloom, self._tokens(spark, ["never"]), "token", 2, 2
        ).collect()[0]
        assert got["bloom_hit"] is True

    def test_grouped_filter_rejected_by_probe(self, spark):
        import pytest

        from eodatadown_spark.operators.merge import (
            bloom_might_contain,
            build_bloom,
        )

        df = spark.createDataFrame(
            [("g1", "x"), ("g2", "y")], "src string, token string"
        )
        grouped = build_bloom(df, "token", 2, 64, group_cols=["src"])
        with pytest.raises(ValueError, match="ungrouped"):
            bloom_might_contain(
                grouped, self._tokens(spark, ["x"]), "token", 2, 64
            )
        one = grouped.where("src = 'g1'").drop("src")
        got = bloom_might_contain(
            one, self._tokens(spark, ["x"]), "token", 2, 64
        ).collect()[0]
        assert got["bloom_hit"] is True


class TestHardNegatives:
    """Hard-negative mining: top-k most-similar DIFFERENT-label vectors,
    label filter applied before ranking."""

    def _emb(self, spark):
        rows = [
            (1, [1.0, 0.0], "a"),
            (2, [0.99, 0.14], "a"),   # same label — never a negative for 1
            (3, [0.95, 0.31], "b"),   # closest different-label to 1
            (4, [0.0, 1.0], "b"),
            (5, [-1.0, 0.0], "c"),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )

    def test_label_filter_before_ranking(self, spark):
        from eodatadown_spark.operators.similarity import hard_negatives

        emb = self._emb(spark)
        q = emb.where(F.col("vec_id") == 1).select(
            F.col("vec_id").alias("query_id"), "embedding", "label"
        )
        got = hard_negatives(emb, q, k=2).orderBy("rank").collect()
        # vec 2 (same label, most similar overall) must be absent;
        # rank 1 = vec 3, rank 2 = vec 4
        assert [r["neighbor_id"] for r in got] == [3, 4]
        assert all(r["neighbor_label"] != "a" for r in got)


class TestNormalizeText:
    """Pre-dedup text normalization: invisible byte differences must not
    split identical content into distinct fingerprints."""

    def _norm(self, spark, texts):
        from eodatadown_spark.operators.text import normalize_text

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, text string"
        )
        return [
            r["n"]
            for r in df.orderBy("i")
            .select(normalize_text("text").alias("n"))
            .collect()
        ]

    def test_invisible_variants_converge(self, spark):
        base = "hello world"
        variants = [
            base,
            "hello​ world",          # zero-width space
            "hello  world",                # double space
            "hello\tworld",                # tab
            "﻿hello world  ",         # BOM + trailing
            "hello world\r\n",             # CRLF tail (trimmed)
        ]
        got = self._norm(spark, variants)
        assert all(n == base for n in got), got

    def test_crlf_and_control_chars(self, spark):
        got = self._norm(spark, ["a\r\nb\rc", "a\x00b\x07c", "a\n\n\n\n\nb"])
        assert got[0] == "a\nb\nc"
        assert got[1] == "abc"
        assert got[2] == "a\n\nb"

    def test_smart_punctuation_mapped(self, spark):
        got = self._norm(spark, ["‘x’ “y” – z — w"])
        assert got[0] == "'x' \"y\" - z - w"

    def test_c1_nbsp_and_line_separators(self, spark):
        # C1 controls (U+0080-U+009F) removed, NBSP collapses like a
        # space, U+2028/U+2029 become newlines — the 'invisible byte'
        # escapes the r10 docstring claimed but the regex missed
        got = self._norm(
            spark,
            ["a\x85b\x9fc", "a\xa0 b", "a b c", "a \xa0\xa0 b"],
        )
        assert got[0] == "abc"
        assert got[1] == "a b"
        assert got[2] == "a\nb\nc"
        assert got[3] == "a b"

    def test_fingerprint_convergence_composes(self, spark):
        # the point of the stage: normalize-then-fingerprint collapses the
        # invisible variants to ONE hash
        from eodatadown_spark.operators.text import (
            normalize_text,
            rolling_fingerprint,
        )

        df = spark.createDataFrame(
            [(1, "the same doc"), (2, "the​  same\tdoc\r\n")],
            "i long, text string",
        )
        fps = {
            r["fp"]
            for r in df.select(
                rolling_fingerprint(normalize_text("text")).alias("fp")
            ).collect()
        }
        assert len(fps) == 1


class TestTemplatePrefixStrip:
    """Per-source template-header removal: group LCP via the min/max
    trick, singletons untouched."""

    ROWS = [
        (1, "srcA", "[A header] alpha body one"),
        (2, "srcA", "[A header] beta body two"),
        (3, "srcA", "[A header] gamma body three"),
        (4, "srcB", "totally unique single doc"),
        (5, "srcC", "[C] x"),
        (6, "srcC", "[C] y"),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            self.ROWS, "doc_id long, source string, text string"
        )

    def test_group_lcp_matches_python(self, spark):
        import os.path

        from eodatadown_spark.operators.corpus import group_common_prefix

        got = {
            r["source"]: (r["prefix_len"], r["prefix"])
            for r in group_common_prefix(self._docs(spark)).collect()
        }
        texts_a = [t for _, s, t in self.ROWS if s == "srcA"]
        want_a = os.path.commonprefix(texts_a)
        assert got["srcA"] == (len(want_a), want_a)
        assert got["srcC"] == (4, "[C] ")
        # singleton: LCP is the whole doc (the reason strip gates on n_docs)
        assert got["srcB"][1] == "totally unique single doc"

    def test_strip_gates_on_min_docs(self, spark):
        from eodatadown_spark.operators.corpus import strip_template_prefix

        got = {
            r["doc_id"]: (r["text"], r["stripped_len"])
            for r in strip_template_prefix(self._docs(spark)).collect()
        }
        assert got[1] == ("alpha body one", 11)
        assert got[2] == ("beta body two", 11)
        assert got[5] == ("x", 4)
        # singleton survives whole
        assert got[4] == ("totally unique single doc", 0)

    def test_null_group_passes_through(self, spark):
        # NULL group_col keys never equi-join — the left join + coalesced
        # 0 strip must keep those docs intact (an inner join dropped them)
        from eodatadown_spark.operators.corpus import (
            strip_template_prefix,
            strip_template_suffix,
        )

        rows = [
            (1, "s", "[hdr] one [ftr]"),
            (2, "s", "[hdr] two [ftr]"),
            (3, None, "orphan doc"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        pre = {
            r["doc_id"]: (r["text"], r["stripped_len"])
            for r in strip_template_prefix(docs).collect()
        }
        assert pre[3] == ("orphan doc", 0)
        assert pre[1] == ("one [ftr]", 6)
        suf = {
            r["doc_id"]: (r["text"], r["stripped_len"])
            for r in strip_template_suffix(docs).collect()
        }
        assert suf[3] == ("orphan doc", 0)
        assert suf[1] == ("[hdr] one", 6)

    def test_lcp_min_max_equals_all_pairs(self, spark):
        # adversarial: extremes diverge later than a middle doc — the
        # min/max trick must still equal the true group LCP
        from eodatadown_spark.operators.corpus import group_common_prefix

        rows = [(1, "s", "prefix aaa"), (2, "s", "prefix zzz"),
                (3, "s", "prefix m DIFFERENT")]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        r = group_common_prefix(docs).collect()[0]
        assert r["prefix"] == "prefix "


class TestShingleContainment:
    """Asymmetric containment: a snippet inside a larger doc scores 1.0
    where Jaccard stays tiny; max_df capping only under-flags."""

    def _docs(self, spark):
        big = "w" + " w".join(str(i) for i in range(60))  # w0..w59 distinct
        snippet = "w" + " w".join(str(i) for i in range(12))
        other = "q" + " q".join(str(i) for i in range(40))
        return spark.createDataFrame(
            [(1, big), (2, snippet), (3, other)], "doc_id long, text string"
        )

    def test_snippet_contained_jaccard_blind(self, spark):
        from eodatadown_spark.operators.dedup import (
            ngram_jaccard_pairs,
            shingle_containment_pairs,
        )

        docs = self._docs(spark)
        cont = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in shingle_containment_pairs(docs, threshold=0.9).collect()
        }
        assert cont == {(1, 2): 1.0}
        # the same pair is invisible to symmetric Jaccard at any real threshold
        jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
        assert jac == []

    def test_max_df_cap_only_underflags(self, spark):
        from eodatadown_spark.operators.dedup import shingle_containment_pairs

        docs = self._docs(spark)
        capped = {
            (r["id_a"], r["id_b"])
            for r in shingle_containment_pairs(
                docs, threshold=0.9, max_df=1
            ).collect()
        }
        # every shared shingle of (1,2) is in exactly 2 docs → df cap 1
        # removes all witnesses: pair missed (under-flag), nothing new added
        assert capped == set()


class TestTemplateSuffixStrip:
    def test_footer_stripped_via_reverse_extremes(self, spark):
        from eodatadown_spark.operators.corpus import (
            group_common_suffix,
            strip_template_suffix,
        )

        rows = [
            (1, "s", "alpha body [footer F]"),
            (2, "s", "beta body longer [footer F]"),
            (3, "t", "single doc untouched"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        sfx = {r["source"]: r["suffix"] for r in group_common_suffix(docs).collect()}
        assert sfx["s"] == " [footer F]"
        got = {
            r["doc_id"]: (r["text"], r["stripped_len"])
            for r in strip_template_suffix(docs).collect()
        }
        assert got[1] == ("alpha body", 11)
        assert got[2] == ("beta body longer", 11)
        assert got[3] == ("single doc untouched", 0)


class TestDuplicatedSpans:
    """ExactSubstr-style span detection: maximal merged runs, within-doc
    refrains controllable, sub-window docs zeroed."""

    def test_shared_run_merges_to_one_maximal_span(self, spark):
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
        rows = [
            (1, shared + " u1 u2 u3 u4"),
            (2, "v1 v2 " + shared),
            (3, "x y"),  # shorter than the window → structural zeros
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_span_stats(docs, window=4).collect()
        }
        # 7 overlapping marked windows merge into ONE 10-token span each
        assert got[1] == (14, 1, 10)
        assert got[2] == (12, 1, 10)
        assert got[3] == (2, 0, 0)

    def test_within_doc_refrain_and_cross_doc_only(self, spark):
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        docs = spark.createDataFrame(
            [(1, "r1 r2 r3 r4 m r1 r2 r3 r4"), (2, "unrelated words here now")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_span_stats(docs, window=4).collect()
        }
        # the refrain repeats within doc 1: two disjoint 4-token spans
        assert got[1] == (2, 8)
        assert got[2] == (0, 0)
        # distinct-document counting ignores within-doc repetition
        cross = {
            r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_span_stats(
                docs, window=4, cross_doc_only=True
            ).collect()
        }
        assert cross[1] == (0, 0)

    def test_adjacent_windows_merge(self, spark):
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        # two docs sharing two runs separated by one differing token:
        # marked windows are non-overlapping but ADJACENT runs stay
        # separate spans when the gap exceeds the window
        a = "p0 p1 p2 p3 DIFF1 q0 q1 q2 q3"
        b = "p0 p1 p2 p3 DIFF2 q0 q1 q2 q3"
        docs = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_span_stats(docs, window=4).collect()
        }
        assert got[1] == (2, 8) and got[2] == (2, 8)


class TestSpanHashIndexProbe:
    """Stored-index twin of duplicated_span_stats: window counts are
    exactly additive across disjoint corpora, so the probe equals the
    from-scratch union run restricted to batch documents."""

    def _full_restricted(self, docs, batch_ids, **kw):
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        return {
            r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_span_stats(docs, **kw).collect()
            if r["doc_id"] in batch_ids
        }

    def test_probe_equals_union_run(self, spark):
        from eodatadown_spark.operators.dedup import (
            duplicated_spans_against_index,
            span_hash_index,
        )

        shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
        old = spark.createDataFrame(
            [(1, shared + " tail1 tail2"), (2, "other corpus words entirely here")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (100, "head0 " + shared),          # duplicates vs CORPUS
                (101, "b0 b1 b2 b3 b4 b5"),        # duplicates vs BATCH (102)
                (102, "z " + "b0 b1 b2 b3 b4 b5"),
                (103, "nothing in common at all whatsoever"),
            ],
            "doc_id long, text string",
        )
        idx = span_hash_index(old, window=4)
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_spans_against_index(
                new, idx, window=4
            ).collect()
        }
        want = self._full_restricted(
            old.unionByName(new), {100, 101, 102, 103}, window=4
        )
        assert got == want
        # and the signal is real: corpus-dup, batch-dup, clean
        assert got[100][1] == 1 and got[100][2] == 10
        assert got[101] == (6, 1, 6) and got[103][1] == 0

    def test_probe_cross_doc_mode(self, spark):
        from eodatadown_spark.operators.dedup import (
            duplicated_spans_against_index,
            span_hash_index,
        )

        # within-batch refrain must NOT mark in cross_doc_only mode
        old = spark.createDataFrame(
            [(1, "corpus words only nothing shared")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(100, "r1 r2 r3 r4 m r1 r2 r3 r4")], "doc_id long, text string"
        )
        idx = span_hash_index(old, window=4)
        got = duplicated_spans_against_index(
            new, idx, window=4, cross_doc_only=True
        ).collect()[0]
        assert (got["n_dup_spans"], got["dup_tokens"]) == (0, 0)
        # default total-count mode marks the refrain
        tot = duplicated_spans_against_index(new, idx, window=4).collect()[0]
        assert (tot["n_dup_spans"], tot["dup_tokens"]) == (2, 8)


class TestCutDuplicatedSpans:
    def test_cut_excises_marked_spans(self, spark):
        from eodatadown_spark.operators.dedup import cut_duplicated_spans

        shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
        rows = [
            (1, shared + " u1 u2 u3 u4"),
            (2, "v1 v2 " + shared),
            (3, shared),            # entirely duplicated → empty survivor
            (4, ""),                # empty doc → structural zeros
            (5, "all original content here nothing shared"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_kept"], r["text_kept"])
            for r in cut_duplicated_spans(docs, window=4).collect()
        }
        assert got[1] == (14, 4, "u1 u2 u3 u4")
        assert got[2] == (12, 2, "v1 v2")
        assert got[3] == (10, 0, "")
        assert got[4] == (0, 0, "")
        assert got[5] == (6, 6, "all original content here nothing shared")

    def test_cut_consistent_with_stats(self, spark):
        from eodatadown_spark.operators.dedup import (
            cut_duplicated_spans,
            duplicated_span_stats,
        )

        rows = [(i, f"p{i} r1 r2 r3 r4 q{i} r1 r2 r3 r4 t{i}") for i in range(3)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        stats = {
            r["doc_id"]: r["dup_tokens"]
            for r in duplicated_span_stats(docs, window=4).collect()
        }
        cut = {
            r["doc_id"]: (r["n_tokens"], r["n_kept"])
            for r in cut_duplicated_spans(docs, window=4).collect()
        }
        for i in range(3):
            n, kept = cut[i]
            assert n - kept == stats[i]  # cut removes exactly dup_tokens


class TestCharSpans:
    """unit="char" span family: Lee et al.'s native granularity — raw-byte
    windows, no normalization, cut preserves original bytes."""

    def test_char_stats_and_null_guard(self, spark):
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        shared = "exactly this run of chars!"  # 26 chars, punct included
        docs = spark.createDataFrame(
            [
                (1, shared + " plus a unique tail"),
                (2, "prefix " + shared),
                (3, "entirely different content."),
                (4, None),
                (5, ""),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_chars"], r["n_dup_spans"], r["dup_chars"])
            for r in duplicated_span_stats(
                docs, window=10, unit="char"
            ).collect()
        }
        assert got[1] == (45, 1, 26)
        assert got[2] == (33, 1, 26)
        assert got[3] == (27, 0, 0)
        # ADVICE r11: null text must be (0,0,0), never -1/NULL
        assert got[4] == (0, 0, 0)
        assert got[5] == (0, 0, 0)

    def test_char_mode_is_case_sensitive_token_mode_is_not(self, spark):
        """The discriminating semantics: token mode normalizes (lowercase
        tokenization), char mode is exact bytes — a case-differing copy
        marks in token mode but NOT in char mode."""
        from eodatadown_spark.operators.dedup import duplicated_span_stats

        docs = spark.createDataFrame(
            [
                (1, "Alpha Beta Gamma Delta Epsilon Zeta"),
                (2, "alpha beta gamma delta epsilon zeta"),
            ],
            "doc_id long, text string",
        )
        tok = {
            r["doc_id"]: r["dup_tokens"]
            for r in duplicated_span_stats(docs, window=3).collect()
        }
        assert tok == {1: 6, 2: 6}
        ch = {
            r["doc_id"]: r["dup_chars"]
            for r in duplicated_span_stats(
                docs, window=10, unit="char"
            ).collect()
        }
        assert ch == {1: 0, 2: 0}

    def test_char_cut_preserves_original_bytes(self, spark):
        from eodatadown_spark.operators.dedup import cut_duplicated_spans

        shared = "0123456789ABCDEF"  # 16 chars
        docs = spark.createDataFrame(
            [
                (1, "Keep, THIS; exactly.. " + shared),
                (2, shared + "|Tail? Stays-Verbatim!"),
                (3, shared),  # entirely duplicated -> empty survivor
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_chars"], r["n_kept"], r["text_kept"])
            for r in cut_duplicated_spans(
                docs, window=16, unit="char"
            ).collect()
        }
        # kept regions keep punctuation, case, and spacing byte-for-byte
        assert got[1] == (38, 22, "Keep, THIS; exactly.. ")
        assert got[2] == (38, 22, "|Tail? Stays-Verbatim!")
        assert got[3] == (16, 0, "")

    def test_char_index_probe_equals_union_run(self, spark):
        from eodatadown_spark.operators.dedup import (
            duplicated_span_stats,
            duplicated_spans_against_index,
            span_hash_index,
        )

        corpus = spark.createDataFrame(
            [(1, "a shared character run lives here"), (2, "other text")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, "prefix a shared character run lives here suffix"),
             (101, "nothing in common")],
            "doc_id long, text string",
        )
        idx = span_hash_index(corpus, window=12, unit="char")
        got = {
            r["doc_id"]: (r["n_chars"], r["n_dup_spans"], r["dup_chars"])
            for r in duplicated_spans_against_index(
                batch, idx, window=12, unit="char"
            ).collect()
        }
        want = {
            r["doc_id"]: (r["n_chars"], r["n_dup_spans"], r["dup_chars"])
            for r in duplicated_span_stats(
                corpus.unionByName(batch), window=12, unit="char"
            ).collect()
            if r["doc_id"] >= 100
        }
        assert got == want


class TestSpanCapGuards:
    """ADVICE r12: beyond the modpow caps (2^26 chars/document,
    2^17-1 chars/token) the rolling hashes would silently WRAP into wrong
    span marking — the guards must raise at execution time instead.  The
    caps are monkeypatched down so the tests don't need 64 MB documents;
    the guard expressions read the module constants at plan-build time."""

    def _assert_raises_with(self, df, fragment):
        import pytest

        with pytest.raises(Exception) as exc_info:
            df.collect()
        assert fragment in str(exc_info.value)

    def test_token_length_cap_raises(self, spark, monkeypatch):
        from eodatadown_spark.operators import dedup as D

        monkeypatch.setattr(D, "_SPAN_TOKEN_CAP", 16)
        docs = spark.createDataFrame(
            [(1, "short tokens only here ok"),
             (2, "one " + "x" * 20 + " oversized token")],
            "doc_id long, text string",
        )
        self._assert_raises_with(
            D.duplicated_span_stats(docs, window=2),
            "token cap",
        )

    def test_char_doc_cap_raises(self, spark, monkeypatch):
        from eodatadown_spark.operators import dedup as D

        monkeypatch.setattr(D, "_SPAN_DOC_CAP", 32)
        docs = spark.createDataFrame(
            [(1, "a" * 40)], "doc_id long, text string"
        )
        self._assert_raises_with(
            D.duplicated_span_stats(docs, window=10, unit="char"),
            "rolling-hash cap",
        )

    def test_token_offset_cap_raises(self, spark, monkeypatch):
        from eodatadown_spark.operators import dedup as D

        monkeypatch.setattr(D, "_SPAN_DOC_CAP", 24)
        docs = spark.createDataFrame(
            [(1, "every token small but doc total length past cap")],
            "doc_id long, text string",
        )
        self._assert_raises_with(
            D.duplicated_span_stats(docs, window=2),
            "rolling-hash cap",
        )

    def test_under_cap_unaffected(self, spark, monkeypatch):
        from eodatadown_spark.operators import dedup as D

        # true caps: normal corpora never trip the guards
        docs = spark.createDataFrame(
            [(1, "a shared run of words here tail"),
             (2, "prefix a shared run of words here")],
            "doc_id long, text string",
        )
        tok = {r["doc_id"]: r["dup_tokens"]
               for r in D.duplicated_span_stats(docs, window=4).collect()}
        assert tok[1] > 0 and tok[2] > 0
        ch = {r["doc_id"]: r["dup_chars"]
              for r in D.duplicated_span_stats(
                  docs, window=10, unit="char").collect()}
        assert ch[1] > 0 and ch[2] > 0
