"""Corpus-level training-data pipeline operators.

Dataset assembly steps a large-scale pretraining pipeline runs AFTER
per-document filtering/dedup: deterministic train/val/test splits, TF-IDF
keyword extraction, and sequence packing (concat-and-chunk binning of
documents into fixed token budgets).

Everything is built-in-function columnar (JVM-side, whole-stage codegen) and
every shuffle is keyed on high-cardinality columns (doc ids, tokens), so the
operators scale linearly with input partitions at 100 TB.  No reference
analog — these extend the engine per the LLM-data-pipeline surface
(SURVEY.md §6 posture).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eodatadown_spark.operators.text import rolling_fingerprint, token_count, ws_trim


def token_array(text_col: Column | str) -> Column:
    """The engine's canonical tokenization as an array column: lower → trim
    → split on \\s+ → drop empties.  Single definition shared by every
    corpus operator (and mirrored by the oracles' token CTE) so a
    tokenization change can never make operators diverge from each other."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(ws_trim(c)), "\\s+"), lambda t: t != "")


def _portable_uniform(id_col: Column | str, seed: int) -> Column:
    """Deterministic uniform in (0,1) from the engine-portable rolling hash
    of ``"<id> <seed>"`` — THE sampling-draw contract every sampler and
    every SQL oracle mirrors; keep exactly one copy of the formula."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.pmod(
            rolling_fingerprint(
                F.concat(c.cast("string"), F.lit(" "), F.lit(str(seed)))
            ),
            F.lit(1 << 20),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 20))


def _aes_key(id_col: Column | str, weight_col: str, seed: int) -> Column:
    """Efraimidis-Spirakis ranking key ln(u)/w (monotone with u^(1/w))."""
    return F.log(_portable_uniform(id_col, seed)) / F.col(weight_col).cast("double")


def _split_label(bucket: Column, train_pct: int, val_pct: int) -> Column:
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_bucket(id_col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic [0, n_buckets) bucket from the decimal id string's
    rolling hash.

    Rolling-hash (not xxhash64/md5-hex) so the SAME bucket is computable in
    any ANSI-SQL engine — split assignment must be reproducible outside
    Spark (audits, incremental rebuilds) or the split is not a contract.
    New data landing later keeps old rows' assignments fixed (pure function
    of id), which a `row_number() % k` split cannot guarantee.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(rolling_fingerprint(c.cast("string")), F.lit(n_buckets))


def assign_split(
    documents: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Hash-bucket train/val/test assignment (train/val/test ≈ 90/5/5).

    One narrow projection — no shuffle, no sampling state; every engine and
    every rerun agrees on each document's split.
    """
    bucket = split_bucket(id_col)
    return documents.withColumn(
        "split", _split_label(bucket, train_pct, val_pct)
    )


def tfidf_topk_keywords(
    documents: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF keywords per document → (doc_id, token, score, rank).

    idf = ln((N+1)/(df+1)) + 1 (smoothed); score = tf · idf rounded to 4 so
    cross-engine libm last-ulp noise can't flip the ranking — the window
    orders by the ROUNDED score (ties by token ascending) in both engines.

    Scale shape: one explode → one (id, token) count → one token-keyed
    doc-frequency agg joined back on token (high-cardinality equi-join,
    partial aggregation map-side), corpus size N broadcast as a 1-row
    crossJoin.  No collect, no per-document Python.
    """
    tokens = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_array(text_col)).alias("token"),
    )
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # document frequency derives from tf (one row per (doc, token), so a
    # plain count equals count_distinct over the raw stream) — skips a
    # second explode + the count_distinct expand, and the twin tf subplans
    # collapse to a ReusedExchange
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = documents.agg(F.count("*").alias("__n"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + 1).cast("double") / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "token", "score", "rank")
    )


def _tokens(documents: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, token) exploded view under the engine's canonical
    tokenization (lower → trim → split \\s+ → drop empties)."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_array(text_col)).alias("token"),
    )


def unigram_lm_scores(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram LM → (doc_id, nll, n_tokens).  nll = avg over the doc's tokens of
    -ln(count(token)/total_tokens); high nll = rare-token-heavy (noise,
    junk, wrong-language) — the KenLM-style perplexity quality filter with
    the LM reduced to unigrams so it stays exactly reproducible in ANSI SQL.

    Scale shape: one explode → vocabulary-sized token-count agg → token-keyed
    equi-join back (high cardinality, map-side partial aggs) → per-doc agg.
    The 1-row total joins via broadcast.  No collect, no Python in the path;
    at 100 TB the vocabulary table is millions of rows — still a fine
    shuffle key.
    """
    tokens = _tokens(documents, id_col, text_col)
    # collapse the corpus-sized token stream to per-doc term frequencies
    # FIRST; everything downstream (corpus counts, total, the scoring join)
    # runs on the much smaller tf relation, and the identical tf subplan on
    # both join inputs lets Catalyst reuse one exchange.  The tf-weighted
    # mean equals the per-token-instance mean exactly.
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    counts = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    nll_sum = F.sum(
        F.col("tf") * -F.log(F.col("cnt").cast("double") / F.col("__total"))
    )
    return (
        tf.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(nll_sum / F.sum("tf"), round_to).alias("nll"),
            F.sum("tf").alias("n_tokens"),
        )
    )


def importance_weights(
    documents: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS — reduced from hashed-n-gram features to unigrams so the score
    is exactly reproducible in ANSI SQL): per document, the log importance
    ratio of a TARGET distribution (the rows where ``target`` is true —
    e.g. a trusted high-quality slice) over the SOURCE distribution (the
    whole corpus) under add-1-smoothed unigram LMs sharing the corpus
    vocabulary:

        log_weight = Σ_tokens tf · [ln p_target(tok) − ln p_source(tok)]
        p_d(tok)   = (count_d(tok) + 1) / (total_d + |V|)

    High log_weight = looks like the target domain; the downstream
    resampling step is :func:`weighted_sample` over exp(log_weight) (or a
    top-k cut via percent_rank).  → (doc_id, log_weight, n_tokens).

    Scale shape (unigram_lm_scores' rule): per-doc tf FIRST so everything
    downstream runs on the compressed relation; the token-keyed count
    tables join map-side-combined on a high-cardinality key; the three
    scalar totals (|V|, total_s, total_t) ride one broadcast row.  No
    collect, no Python.
    """
    docs = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        target.cast("boolean").alias("__is_target"),
    )
    tokens = docs.select(
        "doc_id",
        "__is_target",
        F.explode(token_array("__text")).alias("token"),
    )
    tf = tokens.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"),
        # per-doc constant: any() is first() without ordering hazards
        F.max("__is_target").alias("__is_target"),
    )
    counts = tf.groupBy("token").agg(
        F.sum("tf").alias("cnt_s"),
        F.sum(F.when(F.col("__is_target"), F.col("tf")).otherwise(0)).alias(
            "cnt_t"
        ),
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("__vocab"),
        F.sum("cnt_s").alias("__total_s"),
        F.sum("cnt_t").alias("__total_t"),
    )
    p_t = (F.col("cnt_t") + 1).cast("double") / (
        F.col("__total_t") + F.col("__vocab")
    )
    p_s = (F.col("cnt_s") + 1).cast("double") / (
        F.col("__total_s") + F.col("__vocab")
    )
    return (
        tf.join(counts, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * (F.log(p_t) - F.log(p_s))), round_to
            ).alias("log_weight"),
            F.sum("tf").alias("n_tokens"),
        )
    )


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its id's
    rolling-hash bucket falls below ``rate[stratum] * n_buckets``.

    The language-rebalancing step of a pretraining mix (e.g. keep 100% of
    low-resource languages, 30% of English).  Pure narrow projection — no
    shuffle, no RNG state; reruns and other engines agree row-for-row on
    membership (same contract as :func:`assign_split`), and rates are
    honored per stratum rather than globally.
    """
    def quantize(rate: float, name: str) -> int:
        # round-half-up (not banker's), and refuse to silently turn a
        # requested-nonzero rate into total exclusion
        t = int(math.floor(rate * n_buckets + 0.5))
        if rate > 0 and t == 0:
            raise ValueError(
                f"rate {rate} for {name} rounds to 0/{n_buckets} buckets — "
                f"raise n_buckets to at least {math.ceil(1 / rate)}"
            )
        return t

    bucket = split_bucket(id_col, n_buckets)
    thr = F.lit(quantize(default_rate, "default_rate") if default_rate else 0)
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(stratum),
            F.lit(quantize(rate, repr(stratum))),
        ).otherwise(thr)
    return documents.where(bucket < thr)


def topk_tokens(
    documents: DataFrame,
    k: int = 5,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k most frequent tokens per group → (group, token, n, rank) — the
    corpus-analytics pass behind vocabulary audits and stopword lists.

    explode → (group, token) count (map-side partial agg) → per-group top-k
    window.  The window partitions by group (bounded cardinality) AFTER the
    count agg has already collapsed the data to vocabulary size, so the sort
    input is small; ties break on token ascending in both engines.
    """
    tokens = documents.select(
        F.col(group_col).alias("group"),
        F.explode(token_array(text_col)).alias("token"),
    )
    counts = tokens.groupBy("group", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("group").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("group", "token", "n", "rank")
    )


def dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: drop new documents whose normalized-content
    fingerprint already exists in the corpus, then exact-dedup within the
    batch itself (min-id survives) — the T2-style idempotent-ingest
    semantics applied to a document feed, so re-crawls and overlapping
    dumps never re-enter the corpus.

    Scale shape: the corpus side reduces to its distinct fingerprint column
    before the anti-join (one narrow projection of the big side, shuffle on
    the 128-bit hash); the within-batch pass is the same keyed window as
    :func:`eodatadown_spark.operators.dedup.exact_dedup`.

    Fingerprint: the alnum-normalized md5 (robust to case/punctuation),
    EXCEPT when normalization strips the text empty (non-Latin scripts have
    no [a-z0-9] characters) — those fall back to the raw-text md5, so
    distinct CJK/Cyrillic documents never collapse into one md5("")
    identity and anti-join each other away.
    """
    from eodatadown_spark.operators.dedup import exact_dedup

    normalized = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    fp = F.md5(F.when(normalized != "", normalized).otherwise(F.col(text_col)))
    seen = corpus.select(fp.alias("__fp")).distinct()
    fresh = (
        new_docs.withColumn("__fp", fp)
        .join(seen, "__fp", "left_anti")
        .drop("__fp")
    )
    return exact_dedup(fresh, [text_col], id_col=id_col)


def chunk_documents(
    documents: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking → (doc_id, chunk_id, chunk_text,
    n_chunk_tokens): chunk i covers tokens [i·stride, i·stride + window);
    chunks start while i·stride < n_tokens, so the tail chunk may be short
    and every token lands in ≥1 chunk when ``stride <= window``.  The
    context-window splitting step for training/RAG corpora.

    Pure per-row explode of built-in array expressions (sequence → slice →
    join) — zero shuffle, scales embarrassingly; empty documents produce no
    chunks.
    """
    if stride <= 0 or window <= 0:
        raise ValueError(f"window ({window}) and stride ({stride}) must be positive")
    toks = token_array(text_col)
    n = F.size(toks)
    n_chunks = F.ceil(n.cast("double") / F.lit(float(stride))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(toks, i * F.lit(stride) + 1, F.lit(window)), " "
            ).alias("chunk_text"),
        ),
    )
    out = documents.where(n > 0).select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("c")
    )
    return out.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.size(F.split(F.col("c.chunk_text"), " ")).alias("n_chunk_tokens"),
    )


def bigram_lm_scores(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own bigram LM →
    (doc_id, bnll, n_bigrams): avg over the doc's bigrams of
    -ln(c(w1 w2) / c(w1·)), where c(w1·) counts w1 as a bigram head across
    the corpus.  The next-order refinement of :func:`unigram_lm_scores` —
    flags locally-implausible token SEQUENCES (shuffled text scores high
    here while passing every unigram check).  MLE conditionals, so every
    observed bigram has finite surprisal; documents with fewer than two
    tokens have no bigrams and are absent from the output.

    Same tf-first scale shape as the unigram scorer: per-doc bigram
    frequencies collapse the stream before the corpus-count joins, which are
    keyed on the (high-cardinality) bigram and head strings.
    """
    toks = token_array(text_col)
    heads = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.zip_with(heads, tails, lambda a, b: F.concat_ws(" ", a, b))
    bg = documents.select(
        F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("bg")
    ).select(
        "doc_id", "bg", F.split(F.col("bg"), " ", 2).getItem(0).alias("head")
    )
    tf = bg.groupBy("doc_id", "bg", "head").agg(F.count("*").alias("tf"))
    c2 = tf.groupBy("bg").agg(F.sum("tf").alias("c2"))
    # head counts derive from the (distinct-bigram-sized) c2 relation, not a
    # second scan of the much larger per-doc tf — same sum regrouped;
    # measured 2x end-to-end on a 6M-token probe
    c1 = (
        c2.select(F.split(F.col("bg"), " ", 2).getItem(0).alias("head"), "c2")
        .groupBy("head")
        .agg(F.sum("c2").alias("c1"))
    )
    surprisal = -F.log(F.col("c2").cast("double") / F.col("c1"))
    return (
        tf.join(c2, "bg")
        .join(c1, "head")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * surprisal) / F.sum("tf"), round_to).alias(
                "bnll"
            ),
            F.sum("tf").alias("n_bigrams"),
        )
    )


def perplexity_prune(
    documents: DataFrame,
    keep_frac: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity pruning at a fixed budget: keep the lowest-``nll``
    ``keep_frac`` of each group (per-language, so head languages don't
    crowd out the tail) → the kept documents with their scores attached.

    Ranking is ``percent_rank`` over (rounded nll, id) — the id tie-break
    makes the cut deterministic and engine-independent even among equal
    scores.  The window partitions by the bounded group column AFTER
    scoring has reduced the data to one row per document.
    """
    scored = documents.select(F.col(id_col).alias("doc_id"), F.col(group_col)).join(
        unigram_lm_scores(documents, id_col=id_col, text_col=text_col), "doc_id"
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("nll").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") <= F.lit(float(keep_frac)))
        .select("doc_id", group_col, "nll", "n_tokens")
    )


def temperature_resample(
    documents: DataFrame,
    alpha: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture rebalancing (multilingual pretraining
    sampling): group g's keep-rate is ``(N_min / N_g)^(1-alpha)`` — the
    closed form of sampling groups ∝ N^alpha with no group upsampled, so the
    smallest group keeps 100% and head groups are downsampled toward a
    flatter mix (alpha=1 keeps everything; alpha→0 equalizes counts).

    Membership is the deterministic rolling-hash id bucket against the
    group's rate — no RNG state, rerun- and engine-stable.  Scale shape:
    one group-count agg (bounded cardinality) broadcast back; the corpus
    itself never shuffles.

    For ``alpha=0.5`` the rate is ``sqrt(N_min/N_g)`` — sqrt is
    IEEE-correctly-rounded, so the keep decision is bit-identical across
    engines; other alphas go through ``pow``, whose last-ulp behavior is
    libm-specific (document the tolerance if you oracle-check those).
    """
    counts = documents.groupBy(F.col(group_col).alias("__g")).agg(
        F.count("*").alias("__n")
    )
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    ratio = F.col("__nmin").cast("double") / F.col("__n")
    # alpha=0.5 goes through sqrt, which IEEE guarantees correctly rounded —
    # the cross-engine bit-identity the docstring promises; Math.pow is only
    # 1-ulp-accurate and could flip a bucket comparison at the boundary
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "__g", rate.alias("__rate")
    )
    bucket = split_bucket(id_col, n_buckets)
    return (
        documents.join(
            F.broadcast(rates), documents[group_col] == rates["__g"]
        )
        .where(bucket < F.col("__rate") * F.lit(float(n_buckets)))
        .drop("__g", "__rate")
    )


def group_kl_divergence(
    documents: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Per-group KL divergence of the group's unigram token distribution
    from the whole-corpus distribution → (group, n_tokens, kl) — the
    distribution-shift audit for a pretraining mix (which languages/sources
    deviate most from the blend they're averaged into).

    KL(p_group ‖ p_corpus) = Σ_token p·ln(p/q); every group token occurs in
    the corpus by construction, so q > 0 and the sum is finite.  Scale
    shape: one explode → (group, token) counts; group totals, corpus token
    counts and the corpus total all derive from that one aggregate
    (vocabulary-sized inputs from there on, reused exchange); final agg
    keyed on the bounded group column AFTER the vocab-sized join.
    """
    tokens = documents.select(
        F.col(group_col).alias("group"),
        F.explode(token_array(text_col)).alias("token"),
    )
    gt = tokens.groupBy("group", "token").agg(F.count("*").alias("n_gt"))
    g_tot = gt.groupBy("group").agg(F.sum("n_gt").alias("g_total"))
    ct = gt.groupBy("token").agg(F.sum("n_gt").alias("n_ct"))
    c_tot = ct.agg(F.sum("n_ct").alias("c_total"))
    p = F.col("n_gt").cast("double") / F.col("g_total")
    q = F.col("n_ct").cast("double") / F.col("c_total")
    return (
        gt.join(F.broadcast(g_tot), "group")
        .join(ct, "token")
        .crossJoin(F.broadcast(c_tot))
        .groupBy("group")
        .agg(
            F.sum("n_gt").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), round_to).alias("kl"),
        )
    )


def length_histogram(
    documents: DataFrame, len_col: str = "n_chars"
) -> DataFrame:
    """Log2-bucketed document-length histogram → (len_bucket, n_docs,
    total_chars, min_chars, max_chars) — the length-distribution audit every
    corpus build runs before choosing truncation/packing budgets.

    Single groupBy on a derived bucket; non-positive lengths are excluded
    (log2 undefined) rather than silently bucketed.
    """
    c = F.col(len_col)
    return (
        documents.where(c > 0)
        .groupBy(F.floor(F.log2(c)).cast("long").alias("len_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(c).alias("total_chars"),
            F.min(c).alias("min_chars"),
            F.max(c).alias("max_chars"),
        )
    )


def pack_sequences(
    documents: DataFrame,
    max_tokens: int = 512,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each group (e.g. language),
    documents in id order are laid end-to-end and cut into ``max_tokens``
    bins — bin_id = tokens-before-this-doc ÷ max_tokens.

    → (doc_id, group, n_tokens, bin_id).  The cumulative sum is one window
    per group partition (parallel across groups); a doc longer than
    max_tokens starts its own bin(s), matching the chunker that would split
    it downstream.  This is the GPT-style pretraining packing shape: greedy
    order-preserving, deterministic, no bin-packing optimization (which
    would serialize).
    """
    n_tok = token_count(F.col(text_col))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("group"),
        n_tok.alias("n_tokens"),
        F.floor((cum - n_tok) / F.lit(max_tokens)).cast("long").alias("bin_id"),
    )


def prefix_suffix_overlap(
    documents: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Continuation-split detection: pairs where one document's last ``k``
    tokens equal another's first ``k`` tokens → (suffix_doc, prefix_doc).

    Crawled corpora frequently shard one source page into consecutive
    fragments; concatenating shuffled fragments teaches the model broken
    continuations, so pipelines stitch (or at least co-locate) such pairs.
    Scale shape: one narrow projection per side — (id, k-token boundary
    string) — and one equi-join keyed on the boundary string; docs shorter
    than k tokens are excluded.  Self-pairs are dropped; a doc whose prefix
    equals its own suffix is not a split.
    """
    tokenized = documents.select(
        F.col(id_col).alias("id"), token_array(text_col).alias("__toks")
    ).where(F.size(F.col("__toks")) >= k)
    toks = F.col("__toks")
    base = tokenized.select(
        "id",
        F.array_join(F.slice(toks, 1, k), " ").alias("prefix"),
        F.array_join(F.slice(toks, -k, k), " ").alias("suffix"),
    )
    sfx = base.select(F.col("id").alias("suffix_doc"), F.col("suffix").alias("boundary"))
    pfx = base.select(F.col("id").alias("prefix_doc"), F.col("prefix").alias("boundary"))
    return (
        sfx.join(pfx, "boundary")
        .where(F.col("suffix_doc") != F.col("prefix_doc"))
        .select("suffix_doc", "prefix_doc")
    )


def dup_ngram_fraction(
    documents: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-duplicate n-gram fraction per document: of a doc's DISTINCT
    word n-grams, the share that also appear in at least one other document
    → (doc_id, n_grams, dup_fraction).

    The standard boilerplate/near-dup pressure metric (Gopher/Dolma-style
    repetition rules measure within-doc repetition — q46; this measures
    ACROSS-doc duplication, which is what drives memorization).  Scale
    shape: explode distinct grams → count-over-gram WINDOW (one shuffle on
    the gram; grams are distinct per doc, so the partition count IS the doc
    count) → per-doc aggregate (second shuffle).  The window formulation
    beats the aggregate-then-rejoin alternative by a full exchange: the
    rejoin cannot reuse the gram exchange because its aggregate side
    partial-aggregates below the shuffle.  Docs with fewer than ``n``
    tokens are excluded.
    """
    # token array materializes at its own projection boundary: referencing
    # the tokenization expression inside the transform lambda would
    # re-evaluate the regex split once per gram index (O(T²) per doc — the
    # trap documented in dedup.shingle_hash_table)
    tokenized = documents.select(
        F.col(id_col).alias("id"), token_array(text_col).alias("__toks")
    ).where(F.size(F.col("__toks")) >= n)
    toks = F.col("__toks")
    grams = tokenized.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                )
            )
        ).alias("gram"),
    )
    gram_docs = F.count("*").over(Window.partitionBy("gram"))
    return (
        grams.withColumn("gram_docs", gram_docs)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("gram_docs") > 1, 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("dup_fraction"),
        )
    )


def bpe_merge_candidates(
    documents: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """First step of BPE vocabulary training: corpus-wide counts of
    adjacent CHARACTER pairs inside words, weighted by word frequency →
    the top-``k`` merge candidates (pair, n), count-desc / pair-asc.

    The scale shape is the one that makes BPE trainable on a 100 TB
    corpus: words aggregate to (word, count) FIRST (one shuffle keyed on
    the word — the heavy dedup), so pair extraction runs once per DISTINCT
    word, weighted by its count, instead of once per occurrence; pair
    counts are a second keyed aggregate.  An actual BPE trainer iterates
    merge→recount; each iteration is this same plan over the rewritten
    symbol table.
    """
    words = (
        documents.select(F.explode(token_array(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    # char array projected to a column before the transform: referencing
    # F.split(w, "") inside the lambda would re-split once per pair index
    chars = F.col("__chars")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(chars) - 1),
        lambda i: F.concat(F.element_at(chars, i), F.element_at(chars, i + 1)),
    )
    return (
        words.where(F.length("w") >= 2)
        .select(F.split(F.col("w"), "").alias("__chars"), "wc")
        .select(F.explode(pairs).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def _merge_pat_repl(left: str, right: str) -> tuple[str, str]:
    """(pattern, replacement) rewriting symbol pair "L R" -> "LR" at symbol
    boundaries: the LEFT boundary is a consumed capture (re-emitted via $1)
    and the RIGHT boundary a zero-width lookahead, so consecutive
    occurrences "a b a b" both merge (a consumed right boundary would
    swallow the next match's left separator) — left-to-right
    non-overlapping, the BPE rule.  Shared by the trainer and the
    tokenizer so the merge semantics can never drift apart."""
    import re as _re

    pat = "(^|\\s)" + _re.escape(left) + " " + _re.escape(right) + "(?=\\s|$)"
    repl = "$1" + (left + right).replace("\\", "\\\\").replace("$", "\\$")
    return pat, repl


def train_bpe(
    documents: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train a byte-pair-encoding merge list over the corpus → ordered
    ``[(left_symbol, right_symbol), ...]`` (the tokenizer-training artifact).

    Classic Sennrich-style BPE: start from characters, repeatedly merge the
    most frequent adjacent symbol pair (ties: lexicographic, deterministic).
    Scale shape: the corpus collapses to the DISTINCT-word frequency table
    ONCE (the only pass over raw data — one shuffle keyed on the word);
    every merge iteration then runs on that vocab-sized table: one
    pair-count aggregate to pick the merge (driver sees ONE row) and one
    projection rewriting the symbol sequences.  Lineage is pinned per
    iteration (the iterative-plan-growth trap); word tables are vocab-sized
    by definition, so iterations are cheap regardless of corpus size.

    Symbols are tracked as a space-joined string; the merge rewrite is a
    regexp replace of ``left right`` with ``leftright`` at symbol
    boundaries.
    """
    from eodatadown_spark.operators.dedup import _pin

    words = _pin(
        documents.select(F.explode(token_array(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        # initial symbol sequence: one char per symbol, space-joined
        .withColumn("syms", F.array_join(F.split(F.col("w"), ""), " "))
        .select("syms", "wc")
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        chars = F.col("__parts")
        pair_counts = (
            words.select(F.split(F.col("syms"), " ").alias("__parts"), "wc")
            .where(F.size(chars) >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(chars) - 1),
                        lambda i: F.struct(
                            F.element_at(chars, i).alias("l"),
                            F.element_at(chars, i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
                "wc",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
        )
        top = pair_counts.first()
        if top is None:
            break
        left, right = top["l"], top["r"]
        merges.append((left, right))
        pat, repl = _merge_pat_repl(left, right)
        # per-iteration pinning uses localCheckpoint DELIBERATELY (not
        # _pin): a reliable checkpoint per merge would leave n_merges
        # obsolete vocab-table snapshots on checkpoint storage (Spark does
        # not clean non-streaming checkpoints unless
        # spark.cleaner.referenceTracking.cleanCheckpoints is set).  The
        # table is vocab-sized and the loop is idempotent — on executor
        # loss, re-running the (minutes-scale) training beats accumulating
        # durable snapshots.
        words = words.withColumn(
            "syms", F.regexp_replace(F.col("syms"), pat, repl)
        ).localCheckpoint(eager=True)
    return merges


def bpe_token_counts(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize with a trained BPE merge list → (doc_id, n_tokens_bpe):
    the real subword count of each document under the trained vocabulary
    (vs :func:`text.bpe_like_token_count`'s pre-tokenizer approximation).

    Scale shape: the merge chain (one regexp per merge, applied in training
    order) runs on the DISTINCT-word table only — vocab-sized work however
    big the corpus — producing (word, n_subwords); documents then explode
    to tokens and equi-join that table (word-keyed shuffle or broadcast,
    AQE's choice) and re-aggregate per document.
    """
    words = (
        documents.select(F.explode(token_array(text_col)).alias("w"))
        .distinct()
        .withColumn("syms", F.array_join(F.split(F.col("w"), ""), " "))
    )
    syms = F.col("syms")
    for left, right in merges:
        pat, repl = _merge_pat_repl(left, right)
        syms = F.regexp_replace(syms, pat, repl)
    vocab = words.select("w", F.size(F.split(syms, " ")).alias("__nsub"))
    toks = documents.select(
        F.col(id_col).alias("doc_id"), F.explode(token_array(text_col)).alias("w")
    )
    # LEFT join from the full doc-id set: zero-token documents (empty /
    # whitespace-only text) must report n_tokens_bpe = 0, not vanish
    per_doc = (
        toks.join(vocab, "w")
        .groupBy("doc_id")
        .agg(F.sum("__nsub").alias("__n"))
    )
    all_docs = documents.select(F.col(id_col).alias("doc_id")).distinct()
    return all_docs.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("__n"), F.lit(0)).alias("n_tokens_bpe")
    )


def bpe_encode_documents(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode documents to subword TOKEN IDS under a trained BPE merge list
    → ``(doc_id, pos, token, token_id)`` — the tokenizer-application step a
    training pipeline runs after :func:`train_bpe` (counts alone —
    :func:`bpe_token_counts` — size the packing; ids feed the model).

    Token ids are the lexicographic dense rank of the emergent subword
    vocabulary: deterministic, engine-independent (binary UTF-8 ordering in
    both Spark and the oracle), and stable for a fixed (corpus, merges).

    Scale shape: the merge chain (the trainer's own :func:`_merge_pat_repl`
    rewrites, applied in training order) runs on the DISTINCT-word table —
    vocab-sized work however big the corpus; the id-assignment window runs
    on the subword vocabulary (≤ alphabet + len(merges) rows by
    construction — tokenizer-sized, never corpus-sized); documents then
    posexplode to words, equi-join the word→subwords table (word-keyed,
    broadcastable), and take global positions from one per-doc window.
    """
    from eodatadown_spark.operators.dedup import _pin

    words = documents.select(F.explode(token_array(text_col)).alias("w")).distinct()
    syms = F.array_join(F.split(F.col("w"), ""), " ")
    for left, right in merges:
        pat, repl = _merge_pat_repl(left, right)
        syms = F.regexp_replace(syms, pat, repl)
    # referenced by THREE branches (vocab build, the sub_pos join, and the
    # final id join through vocab) — pinned so the distinct-word shuffle +
    # len(merges)-deep regex chain runs once, not per branch
    word_subs = _pin(words.select("w", F.split(syms, " ").alias("__subs")))
    vocab = (
        word_subs.select(F.explode("__subs").alias("token"))
        .distinct()
        .withColumn(
            # single-partition window: input is the subword VOCABULARY,
            # bounded by alphabet size + merge count, never the corpus
            "token_id",
            F.dense_rank().over(Window.orderBy("token")) - 1,
        )
    )
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(token_array(text_col)).alias("wpos", "w"),
    )
    sub_pos = toks.join(word_subs, "w").select(
        "doc_id", "wpos", F.posexplode("__subs").alias("spos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    return (
        sub_pos.join(vocab, "token")
        .withColumn("pos", F.row_number().over(w) - 1)
        .select("doc_id", "pos", "token", "token_id")
    )


def weighted_sample(
    documents: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: exactly ``k`` rows,
    inclusion probability proportional to ``weight_col`` (Efraimidis–
    Spirakis A-ES: rank by u^(1/w) ⟺ by ln(u)/w, take the top k).

    The uniform u comes from the engine-portable rolling hash of
    ``"<id> <seed>"`` (same contract as ``split_bucket``: any ANSI engine
    reproduces the draw, reruns and late-landing data cannot perturb rows
    already sampled vs a fresh random()).  Rows with non-positive weight are
    excluded.

    Scale shape: a narrow projection + ``orderBy(...).limit(k)`` — Spark
    plans TakeOrderedAndProject (per-partition top-k, driver merge bounded
    by k); NO shuffle, no global sort.  The ranking key is dropped from the
    output (library ln() may differ across engines in the last ulp; key
    spacing ~1/n dwarfs that, so membership is engine-stable but the raw
    float is not a contract).
    """
    return (
        documents.where(F.col(weight_col) > 0)
        .withColumn("__aes_key", _aes_key(id_col, weight_col, seed))
        .orderBy(F.col("__aes_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__aes_key")
    )


def weighted_sample_by_group(
    documents: DataFrame,
    weight_col: str,
    k_per_group: int,
    group_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Balanced deterministic weighted sampling: ``k_per_group`` rows per
    ``group_col`` value, inclusion odds ∝ weight within each group — the
    per-source curation shape (cap every source at k docs, favoring heavy
    ones) that a single global sample cannot give.

    Same A-ES key as :func:`weighted_sample` (portable rolling-hash draw),
    ranked per group via one keyed window — one shuffle on ``group_col``,
    no global sort.  A group's hot reducer holds only its own rows; skewed
    group sizes are the input's shape, not an artifact (cap candidates with
    a filter first if one group dwarfs memory).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col("__aes_key").desc(), F.col(id_col))
    return (
        documents.where(F.col(weight_col) > 0)
        .withColumn("__aes_key", _aes_key(id_col, weight_col, seed))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k_per_group)
        .drop("__aes_key", "__rn")
    )


def mix_sources(
    documents: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    default_budget: int = 0,
    seed: int = 42,
) -> DataFrame:
    """Token-budget source mixing: build a training mix by taking documents
    per source, in deterministic hash-shuffled order, until that source's
    size budget is spent → the "N tokens of web, M of code, K of books"
    recipe step.

    A doc is kept iff its source's running INCLUSIVE size total (in hash
    order) stays ≤ the budget (sources absent from ``budgets`` get
    ``default_budget``; 0 excludes).  The order key is the portable-hash
    uniform (same contract as weighted_sample with unit weights), so the
    mix is a pure, engine-reproducible function of the input set + budgets.
    NOTE: appending data CAN displace marginal selections — a new doc
    hashing earlier in the order pushes later docs' running totals past the
    budget; pin a mix by materializing its id list, not by re-running over
    grown data.

    One keyed window shuffle (source), running-sum frame; no global sort.
    """
    from pyspark.sql import Window

    budget = F.lit(default_budget).cast("long")
    for src, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == src, F.lit(b).cast("long")).otherwise(budget)
    u = F.pmod(
        rolling_fingerprint(
            F.concat(F.col(id_col).cast("string"), F.lit(" "), F.lit(str(seed)))
        ),
        F.lit(1 << 20),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("__mix_u"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        documents.withColumn("__mix_u", u)
        .withColumn("__cum", F.sum(F.col(size_col).cast("long")).over(w))
        .where(F.col("__cum") <= budget)
        .drop("__mix_u", "__cum")
    )


def assign_split_clustered(
    documents: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Leakage-proof train/val/test assignment: split by the near-dup
    CLUSTER representative's hash, not the document's own — every member of
    a near-dup component lands in the SAME split, so no variant of a
    training document can leak into eval.

    ``clusters`` is :func:`eodatadown_spark.operators.dedup.
    neardup_clusters` output (doc_id, cluster_id, ...); documents missing
    from it split by their own id (isolated docs — same result either way).
    One broadcast-or-keyed join + the narrow bucket projection.
    """
    c = clusters.select(F.col("doc_id").alias(id_col), "cluster_id")
    joined = documents.join(c, id_col, "left")
    bucket = split_bucket(F.coalesce(F.col("cluster_id"), F.col(id_col)))
    return joined.withColumn(
        "split", _split_label(bucket, train_pct, val_pct)
    ).drop("cluster_id")


def vocab_overlap(
    documents: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary overlap between sources → (source_a, source_b,
    n_shared, n_a, n_b, jaccard), source_a < source_b.  The corpus-mixing
    diagnostic: two "different" sources whose vocabularies are near-
    identical add diversity on paper only.

    Scale shape: the corpus collapses to distinct (source, token) pairs
    FIRST (vocabulary-sized, map-side combined), and only that small
    relation self-joins on token — the raw text never joins anything.
    Jaccard = |∩| / (|A| + |B| - |∩|), exact integer arithmetic until the
    final division.
    """
    vocab = (
        documents.select(
            F.col(source_col).alias("src"),
            F.explode(token_array(text_col)).alias("token"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("src").agg(F.count(F.lit(1)).alias("n_tok"))
    shared = (
        vocab.alias("a")
        .join(vocab.alias("b"), "token")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes.select(F.col("src").alias("source_a"),
                                 F.col("n_tok").alias("n_a")), "source_a")
        .join(sizes.select(F.col("src").alias("source_b"),
                           F.col("n_tok").alias("n_b")), "source_b")
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


def zipf_slope(
    documents: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    round_to: int = 3,
) -> DataFrame:
    """Zipf rank-frequency fit per source → (source, n_types, n_tokens,
    slope): the OLS slope of ln(freq) against ln(rank) over that source's
    token frequency table.  Natural text tracks slope ≈ -1; strong
    deviation flags templated / synthetic / scraped-boilerplate sources —
    a corpus-quality screen that needs no reference model.

    One token-count aggregate (vocabulary-sized output), one per-source
    rank window over it, then the closed-form OLS
    (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) as four sum aggregates.  A source with
    a single type yields NULL slope (zero x-variance) rather than an
    error.
    """
    counts = (
        documents.select(
            F.col(source_col).alias("source"),
            F.explode(token_array(text_col)).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("token").asc())
    xy = counts.select(
        "source",
        "n",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = xy.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = F.try_divide(
        F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return agg.select(
        "source", "n_types", "n_tokens", F.round(slope, round_to).alias("slope")
    )


def split_leakage_gate(
    documents: DataFrame,
    split: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    mode: str = "exhaustive",
    sample_docs: int = 500,
    seed: int = 42,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Split-soundness gate: find near-dup document pairs whose two members
    landed in DIFFERENT splits → (id_a, id_b, sa, sb), empty iff the split
    is leakage-free.  ``split`` is any (id, split) assignment (e.g.
    :func:`assign_split_clustered` output).

    ``mode="exhaustive"``: pairs over the whole corpus — the release gate.
    Cost is the full n-gram-Jaccard pair scan; right before a split ships,
    wrong any other time.

    ``mode="bounded"``: pairs over a deterministic ``sample_docs``-document
    hash-sample (the :func:`_portable_uniform` draw, so the sample — and
    therefore the gate verdict — is a pure function of the corpus + seed).
    Per-batch cost bound: a SYSTEMATIC leakage bug (wrong bucket function,
    cluster join dropped, split column scrambled) leaks sample pairs at the
    same rate as corpus pairs and still trips the gate, while an individual
    straggler pair outside the sample is missed — the documented trade.
    Plans as TakeOrderedAndProject (no full shuffle) + the sampled pair
    scan; at sf0.001 this runs in well under a second vs ~7 s exhaustive.
    """
    from eodatadown_spark.operators.dedup import ngram_jaccard_pairs

    if mode not in ("exhaustive", "bounded"):
        raise ValueError(f"unknown leakage-gate mode {mode!r}")
    if pairs is None:
        src = documents
        if mode == "bounded":
            src = (
                documents.withColumn("__u", _portable_uniform(id_col, seed))
                .orderBy("__u", id_col)
                .limit(sample_docs)
                .drop("__u")
            )
            # the pair scan references its input 4× (inverted index both
            # sides, set re-attach both sides); pin the ≤sample_docs-row
            # sample so the TakeOrdered job runs once, not four times.
            # Eager by design: the bounded gate is a per-batch check, not
            # a composable plan.
            src = src.localCheckpoint(eager=True)
        pairs = ngram_jaccard_pairs(src, id_col, text_col, k, threshold)
    # an explicit ``pairs`` frame (e.g. the one the caller already computed
    # to BUILD the clustered split) skips the pair scan entirely — mode/
    # sample settings apply only when the gate finds pairs itself
    s = split.select(F.col(id_col), F.col("split"))
    return (
        pairs.join(
            s.withColumnRenamed(id_col, "id_a").withColumnRenamed("split", "sa"),
            "id_a",
        )
        .join(
            s.withColumnRenamed(id_col, "id_b").withColumnRenamed("split", "sb"),
            "id_b",
        )
        .where("sa <> sb")
        .select("id_a", "id_b", "sa", "sb")
    )


def bm25_scores(
    documents: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms →
    (doc_id, score, n_matched).  The retrieval primitive behind RAG-corpus
    curation and "find training docs about X" sweeps.

    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avglen)) with
    the Robertson-Sparck-Jones idf ln(1 + (N−df+0.5)/(df+0.5)) — always
    positive, so more matched terms never lower the score.

    Scale shape (r14, VERDICT r13 item 4's exchange diet taken to its
    limit): for a query bag of ≤ ``_BM25_DENSE_MAX_TERMS`` distinct
    terms (the operator's advertised use — a handful of terms), ONE
    array traversal per document computes its length and every per-term
    tf (an ``aggregate`` fold over the canonical token array — the array
    argument is evaluated once, nothing explodes); the corpus statistics
    the score needs — N and avgdl over non-empty documents plus each
    term's document frequency — all fold into ONE global aggregate whose
    shuffle carries a single partial-aggregation row per map task, and
    the 1-row stats relation broadcasts back onto the per-document rows
    where the score is a plain projection.  The whole plan holds exactly
    one Exchange (SinglePartition, bytes ≈ map-task count × one row) —
    the r13 shape paid 8 (token explode → doclen/tf/df aggregates →
    doc-keyed joins → final groupBy); at 100 TB nothing but the
    scan+tokenize pass touches the corpus.  Per-term values and the
    tf/idf/denominator operation order are bit-identical to the r13
    formulation (same expressions over the same integers); only the
    float SUMMATION order changes (fixed term order vs join-row order —
    zero-tf terms contribute an exact +0.0), oracle-hash-verified at
    every SF.  Query bags wider than the cutoff keep the exploded
    formulation, whose cost is O(tokens), not O(tokens · |terms|).
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    terms = list(dict.fromkeys(query_terms))
    if len(terms) > _BM25_DENSE_MAX_TERMS:
        return _bm25_scores_exploded(
            documents, terms, k1, b, id_col, text_col, round_to
        )
    nt = len(terms)
    zero = F.struct(
        F.lit(0).cast("long").alias("dl"),
        *[F.lit(0).cast("long").alias(f"tf{i}") for i in range(nt)],
    )

    def _step(acc: Column, tok: Column) -> Column:
        return F.struct(
            (acc["dl"] + 1).alias("dl"),
            *[
                (
                    acc[f"tf{i}"]
                    + F.when(tok == F.lit(t), 1).otherwise(0)
                ).alias(f"tf{i}")
                for i, t in enumerate(terms)
            ],
        )

    def _perdoc(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.aggregate(token_array(text_col), zero, _step).alias("__c"),
        ).select(
            "doc_id",
            F.col("__c.dl").alias("__dl"),
            *[F.col(f"__c.tf{i}").alias(f"__tf{i}") for i in range(nt)],
        )

    # output rows are docs matching ≥1 term.  Filtering on a DERIVED
    # n_matched would be pushed below the projection and re-evaluate the
    # whole fold inside the scan filter (the §4.4-style duplication);
    # `exists` is the same predicate (n_matched ≥ 1 ⟺ some token equals
    # some term), short-circuits on the first match, and sits at the
    # scan directly, so the fold runs once per SURVIVING row.
    perdoc = _perdoc(
        documents.where(
            F.exists(token_array(text_col), lambda t: t.isin(terms))
        )
    )
    # one global row: N / avgdl over docs with ≥1 token (the exploded
    # form's doclen relation only ever held those), df per term — over
    # the UNFILTERED corpus, exactly the old stats domain
    stats = _perdoc(documents).agg(
        F.count(F.when(F.col("__dl") > 0, F.lit(1))).alias("__n"),
        F.avg(F.when(F.col("__dl") > 0, F.col("__dl"))).alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(nt)
        ],
    )

    def _term_score(i: int) -> Column:
        tf = F.col(f"__tf{i}")
        df_ = F.col(f"__df{i}")
        idf = F.log(F.lit(1.0) + (F.col("__n") - df_ + 0.5) / (df_ + 0.5))
        denom = tf + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
        return idf * tf * (k1 + 1) / denom

    score = _term_score(0)
    n_matched = (F.col("__tf0") > 0).cast("long")
    for i in range(1, nt):
        score = score + _term_score(i)
        n_matched = n_matched + (F.col(f"__tf{i}") > 0).cast("long")
    return perdoc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(score, round_to).alias("score"),
        n_matched.alias("n_matched"),
    )


# dense-path cutoff: the single-pass fold does |terms| comparisons per
# token, so a very wide query bag is better served by the exploded
# formulation (term filter + matched-subset aggregates)
_BM25_DENSE_MAX_TERMS = 32


def _bm25_scores_exploded(
    documents: DataFrame,
    terms_list: list,
    k1: float,
    b: float,
    id_col: str,
    text_col: str,
    round_to: int,
) -> DataFrame:
    """The pre-r14 exploded BM25 (kept for wide query bags): the query
    bag broadcasts twice (term filter + df join); the corpus explodes
    once, collapses immediately to per-(doc, matched term) tf —
    everything downstream runs on the matched subset.  Document lengths
    come from one pass over the token stream, N and avglen ride a 1-row
    broadcast crossJoin.  No collect, no Python."""
    spark = documents.sparkSession
    terms = F.broadcast(
        spark.createDataFrame([(t,) for t in terms_list], "token string").distinct()
    )
    tokens = _tokens(documents, id_col, text_col)
    doclen = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    tf = (
        tokens.join(terms, "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
    return (
        tf.join(F.broadcast(df_), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (k1 + 1) / denom), round_to
            ).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


def pmi_cooccurrence(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_k: int = 20,
    min_pairs: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the same
    document → (tok_a, tok_b, n_ab, pmi), tok_a < tok_b.  The collocation /
    topic-drift screen: pmi ≫ 0 flags tokens that travel together
    (boilerplate phrases, template residue), pmi < 0 tokens that repel.

    pmi = ln(N·c_ab / (c_a·c_b)) over document-level presence counts.

    All-pairs across an open vocabulary is quadratic, so the pair space is
    capped to the top ``vocab_k`` corpus tokens (by document frequency,
    ties token-ascending) — the shippable formulation; raise ``vocab_k``
    to widen.  Shape: one explode → distinct (doc, token) presence →
    broadcast the tiny vocabulary to filter presence → per-doc sorted
    token-array self-pairing via one ``transform``/``flatten`` (array ops
    on ≤vocab_k elements, no row blow-up beyond the true pair count) →
    one pair-count aggregate; marginals broadcast back onto pair counts.
    """
    presence = _tokens(documents, id_col, text_col).dropDuplicates(
        ["doc_id", "token"]
    )
    dfreq = presence.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # TakeOrdered top-k, not a global row_number window: an unpartitioned
    # window funnels the whole vocabulary through ONE sort task; (c desc,
    # token asc) is a total order, so limit() is deterministic
    vocab = F.broadcast(
        dfreq.orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(vocab_k)
        .select("token", "c")
    )
    n = documents.agg(F.count(F.lit(1)).alias("__n"))
    # per-doc sorted vocab-token array → all ordered pairs inside one row
    doc_toks = (
        presence.join(vocab, "token")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("token")).alias("toks"))
    )
    pairs = doc_toks.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(toks, (a, i) -> "
                    "transform(slice(toks, i + 2, size(toks)), x -> struct(a AS tok_a, x AS tok_b)))"
                )
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    counts = pairs.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("n_ab"))
    ca = vocab.select(F.col("token").alias("tok_a"), F.col("c").alias("__ca"))
    cb = vocab.select(F.col("token").alias("tok_b"), F.col("c").alias("__cb"))
    return (
        counts.where(F.col("n_ab") >= min_pairs)
        .join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("__n")
                    / (F.col("__ca").cast("double") * F.col("__cb"))
                ),
                round_to,
            ).alias("pmi"),
        )
    )


def line_dedup(
    documents: DataFrame,
    max_docs: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line-level deduplication (the C4 §2.2 / RefinedWeb
    line-dedup rule): drop every line whose normalized form — trimmed and
    lowercased — occurs in more than ``max_docs`` DISTINCT documents, then
    reassemble each document's surviving lines in their original order.
    Empty (after normalization) lines are structural and always kept.

    Returns ``(id_col, n_lines, n_kept, text_kept)``; a document whose
    every line is boilerplate survives with ``text_kept = ''`` so the
    caller decides whether to prune it (compose with a length filter).

    Scale shape: line document-frequency is ONE hash aggregation on the
    normalized line (map-side combined; the agg output is one row per
    distinct line, not per occurrence); only the lines that exceed
    ``max_docs`` — the boilerplate set, a tiny fraction of distinct lines —
    flow into the marking join, so AQE broadcasts it in practice; the
    rebuild is one shuffle on the doc id.  Nothing here is pairwise: the
    cost is linear in total line count at any corpus size.

    Within-doc repetition is a different signal (``text.repetition_ratio``,
    ``dup_ngram_fraction``); this operator is the cross-corpus cleanup the
    reference's keep-latest dedup (eodatadownsensor.py scn dedup) plays at
    scene granularity, applied at line granularity.
    """
    lines = documents.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn(
        "norm",
        # \s-style trim with an EXPLICIT class (no \n — lines are already
        # split on it) so Java regex, DuckDB's RE2 oracle, and the Python
        # property reference agree byte-for-byte: F.trim strips only
        # ASCII spaces, which left tab-edged boilerplate lines un-deduped.
        F.regexp_replace(
            F.lower(F.col("line")),
            "^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$",
            "",
        ),
    )
    dup = (
        lines.where(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.count_distinct("id").alias("__df"))
        .where(F.col("__df") > max_docs)
        .select("norm", F.lit(True).alias("__dup"))
    )
    marked = lines.join(dup, "norm", "left")
    kept = F.col("__dup").isNull()
    return (
        marked.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct(F.col("pos"), F.col("line")))
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("text_kept"),
        )
    )


def group_common_prefix(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Longest common prefix of ALL texts in each group → (group_col,
    n_docs, prefix_len, prefix) — the shared template header a scraped
    source stamps on every page.

    Relational trick: the LCP of a whole group equals the LCP of its
    lexicographic MIN and MAX alone (any divergence from the common
    prefix shows up in the extremes first), so the scan is ONE min/max
    aggregation — never pairwise, never a fold over all docs.  The
    per-group LCP scan is O(L²) on exactly two strings per group, done on
    group-count rows (dozens), not corpus rows.
    """
    agg = documents.groupBy(group_col).agg(
        F.min(text_col).alias("__lo"),
        F.max(text_col).alias("__hi"),
        F.count("*").alias("n_docs"),
    )
    bound = F.least(F.length("__lo"), F.length("__hi"))
    lcp = F.array_max(
        F.transform(
            F.sequence(F.lit(0), bound),
            lambda k: F.when(
                F.substring(F.col("__lo"), F.lit(1), k)
                == F.substring(F.col("__hi"), F.lit(1), k),
                k,
            ).otherwise(F.lit(0)),
        )
    )
    return agg.select(
        group_col,
        "n_docs",
        lcp.cast("int").alias("prefix_len"),
        F.substring(F.col("__lo"), F.lit(1), lcp.cast("int")).alias("prefix"),
    )


def group_common_suffix(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Longest common SUFFIX of all texts in each group — the shared
    footer — via the same extremes identity on REVERSED text: the common
    suffix of a set is the reverse of the common prefix of the reversed
    strings, and THAT is the LCP of the lexicographic min/max of the
    reversed strings.  Output: (group_col, n_docs, suffix_len, suffix)."""
    rev = documents.select(
        group_col, F.reverse(F.col(text_col)).alias("__rt")
    )
    agg = rev.groupBy(group_col).agg(
        F.min("__rt").alias("__lo"),
        F.max("__rt").alias("__hi"),
        F.count("*").alias("n_docs"),
    )
    bound = F.least(F.length("__lo"), F.length("__hi"))
    lcp = F.array_max(
        F.transform(
            F.sequence(F.lit(0), bound),
            lambda k: F.when(
                F.substring(F.col("__lo"), F.lit(1), k)
                == F.substring(F.col("__hi"), F.lit(1), k),
                k,
            ).otherwise(F.lit(0)),
        )
    )
    return agg.select(
        group_col,
        "n_docs",
        lcp.cast("int").alias("suffix_len"),
        F.reverse(
            F.substring(F.col("__lo"), F.lit(1), lcp.cast("int"))
        ).alias("suffix"),
    )


def strip_template_suffix(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Strip each group's shared template FOOTER (group_common_suffix) —
    the tail twin of :func:`strip_template_prefix`, same broadcast/gate/
    NULL-group contract."""
    suffixes = group_common_suffix(documents, group_col, text_col)
    gated = suffixes.select(
        group_col,
        F.when(F.col("n_docs") >= min_docs, F.col("suffix_len"))
        .otherwise(F.lit(0))
        .alias("__strip"),
    )
    strip = F.coalesce(F.col("__strip"), F.lit(0))
    return documents.join(F.broadcast(gated), [group_col], "left").select(
        *[c for c in documents.columns if c != text_col],
        F.substring(
            F.col(text_col), F.lit(1), F.length(F.col(text_col)) - strip
        ).alias(text_col),
        strip.alias("stripped_len"),
    )


def strip_template_prefix(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Strip each group's shared template header (group_common_prefix)
    from every document — the per-source boilerplate removal a crawl
    pipeline runs before dedup (shared headers otherwise dominate shingle
    sets and glue unrelated pages into near-dup clusters).

    Groups with fewer than ``min_docs`` documents keep their text intact
    (a singleton's "common prefix" is the whole document), and documents
    whose ``group_col`` is NULL pass through untouched (left join +
    coalesced 0 strip — NULL keys never equi-join, so an inner join would
    silently DROP them).  The prefix table is group-count rows —
    broadcast by construction.  Column-expression substring (no
    ``F.expr`` string interpolation, so exotic column names are safe).
    """
    prefixes = group_common_prefix(documents, group_col, text_col)
    gated = prefixes.select(
        group_col,
        F.when(F.col("n_docs") >= min_docs, F.col("prefix_len"))
        .otherwise(F.lit(0))
        .alias("__strip"),
    )
    strip = F.coalesce(F.col("__strip"), F.lit(0))
    return documents.join(F.broadcast(gated), [group_col], "left").select(
        *[c for c in documents.columns if c != text_col],
        F.substring(
            F.col(text_col), strip + F.lit(1), F.length(F.col(text_col))
        ).alias(text_col),
        strip.alias("stripped_len"),
    )


__all__ = [
    "group_common_prefix",
    "group_common_suffix",
    "strip_template_prefix",
    "strip_template_suffix",
    "line_dedup",
    "bm25_scores",
    "pmi_cooccurrence",
    "split_bucket",
    "split_leakage_gate",
    "weighted_sample",
    "weighted_sample_by_group",
    "mix_sources",
    "assign_split_clustered",
    "assign_split",
    "prefix_suffix_overlap",
    "dup_ngram_fraction",
    "bpe_merge_candidates",
    "train_bpe",
    "bpe_token_counts",
    "bpe_encode_documents",
    "tfidf_topk_keywords",
    "pack_sequences",
    "unigram_lm_scores",
    "stratified_sample",
    "topk_tokens",
    "length_histogram",
    "group_kl_divergence",
    "temperature_resample",
    "bigram_lm_scores",
    "perplexity_prune",
    "dedup_against",
    "chunk_documents",
]
