"""In-engine linear text classifier — the learned quality-filter stage.

Large-scale pretraining pipelines gate documents with a cheap learned
classifier (CCNet's fastText LM filter; GPT-3 / The Pile's quality
classifier trained on a trusted corpus vs crawl).  This module implements
that stage natively on Spark: hashed-unigram features (the fastText trick,
reduced to unigrams + a fixed modulus so every number is exactly
reproducible in ANSI SQL), full-batch logistic-regression gradient descent
where EACH ITERATION IS ONE AGGREGATION PASS over a pinned feature table,
and a scoring projection that embeds the learned weights as literals.

Scale shape (the reason this is written as aggregations, not MLlib):

- Feature extraction is one explode + one hash aggregation on the doc id —
  linear in token count, map-side combined, one shuffle.
- Each GD iteration is a d+1-column global aggregate over the cached
  feature table: partial aggregation happens map-side, the driver receives
  exactly d+1 doubles (never rows), updates weights, and re-broadcasts them
  as literals in the next pass's expressions.  T iterations = T scans of a
  narrow cached table; nothing grows with corpus size except the scan.
- Scoring is one feature-extraction shuffle plus a literal-weight
  projection; given a prebuilt feature table it is a pure projection.

Two feature/training shapes share the math: the DENSE path (d wide
columns — right for small d, and the one the SQL oracles replay term for
term) and the SPARSE path (sorted bucket-set arrays, explode+groupBy
gradients — O(1)-in-d plan size, measured 21x faster per pass at d=1024;
see hashed_feature_sets/train_quality_classifier_sparse).  z is
bit-identical across the two by construction.  A production run raises
``n_features`` on the sparse path and feeds a real trusted/crawl label.

Reference crosswalk: the reference has no learned ranking anywhere — its
quality gates are hand rules (cloud-cover thresholds,
eodatadownsensor.py scn validity flags).  This operator family is part of
the beyond-reference LLM-pipeline surface, like dedup and ANN.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eodatadown_spark.operators.corpus import token_array
from eodatadown_spark.operators.dedup import _pin
from eodatadown_spark.operators.text import rolling_fingerprint


def _affine(weights: Sequence[float]) -> Column:
    """``bias + Σ_j w_j·x_j`` over the ``x{j}`` columns, folded via
    F.aggregate in index order — numerically IDENTICAL to the left-
    associative chain the SQL oracles spell out (``wb + w0*x0 + w1*x1 +
    …``), but with O(1) expression depth: a chained ``+`` tree at d=1024
    overflows the JVM analyzer stack (StackOverflowError in
    ColumnNodeToExpressionConverter — found by the sf1.0 d=1024 run)."""
    d = len(weights) - 1
    xs = F.array(*[F.col(f"x{j}") for j in range(d)])
    ws = F.array(*[F.lit(float(v)) for v in weights[:-1]])
    return F.aggregate(
        F.zip_with(xs, ws, lambda a, b: a * b),
        F.lit(float(weights[-1])),
        lambda acc, t: acc + t,
    )


def _dlit(v: float) -> str:
    """Exact SQL double literal: CAST('<repr>' AS DOUBLE) — repr round-trips
    every finite Python float and Spark's string→double cast is the same
    nearest-double parse, so the folded literal is bit-identical to
    ``F.lit(float(v))``."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _affine_sql(weights: Sequence[float]) -> str:
    """SQL-text twin of :func:`_affine` — the SAME
    aggregate(zip_with(...)) expression tree, built as one string parsed
    JVM-side.  Motivation (r13, measured): constructing the d=64 fold
    through py4j Column calls costs ~0.9 s PER TRAINING PASS (thousands
    of driver round-trips), while parsing the equivalent SQL text is
    milliseconds; the training loop rebuilds this expression every
    iteration because the weights are literals."""
    d = len(weights) - 1
    xs = ",".join(f"x{j}" for j in range(d))
    ws = ",".join(_dlit(v) for v in weights[:-1])
    return (
        f"aggregate(zip_with(array({xs}),array({ws}),(a,b)->a*b),"
        f"{_dlit(weights[-1])},(acc,t)->acc+t)"
    )


def token_bucket(token: Column | str, n_features: int) -> Column:
    """Hashed-feature bucket of a token: the engine-portable rolling
    fingerprint (text.rolling_fingerprint — exactly reproducible in the
    SQL oracles) mod ``n_features``."""
    c = F.col(token) if isinstance(token, str) else token
    return F.pmod(rolling_fingerprint(c), F.lit(n_features))


def hashed_features(
    documents: DataFrame,
    n_features: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    label: Column | None = None,
    binary: bool = False,
) -> DataFrame:
    """Per-document hashed bag-of-words features: ``d`` double columns
    ``x{j}`` plus ``n_tokens`` — L1-normalized counts
    (``count(bucket j) / n_tokens``) by default, or 0/1 bucket PRESENCE
    with ``binary=True`` (the stronger signal for short-text gates, where
    a marker token's presence matters more than its share).  Documents
    with zero tokens are excluded (they have no feature mass — score them
    with the bias alone if needed).  When ``label`` is given, a ``y``
    double column (1.0/0.0) rides along for training.

    One explode + one hash aggregation keyed on the doc id; the ``d``
    bucket columns are conditional sums/maxes inside the same aggregate,
    so the whole extraction is a single shuffle regardless of ``d``.

    A narrow scan is raised to the session's default parallelism first
    (dedup.ensure_min_parallelism): the explode + the ``d`` map-side
    conditional partial aggregates all run BEFORE the doc-id shuffle, so a
    small-file scan's single partition silently serializes the whole
    extraction onto one core (measured sf0.1 d=64: 7-10 s
    single-partition vs 1.4-2 s floored — the simhash_sketches
    rationale).  Since r14 the floor's leaf-scan-only contract is
    ENFORCED inside ensure_min_parallelism (the partition probe is
    skipped on exchange-bearing plans), so a derived input costs one
    extra planning pass, never plan-time jobs.
    """
    from eodatadown_spark.operators.dedup import ensure_min_parallelism

    documents = ensure_min_parallelism(documents)
    cols = [F.col(id_col).alias("id")]
    if label is not None:
        cols.append(label.cast("double").alias("y"))
    toks = documents.select(*cols, F.explode(token_array(text_col)).alias("__tok"))
    b = token_bucket(F.col("__tok"), n_features)
    n = F.count("*")
    if binary:
        xs = [
            F.max((F.col("__b") == j).cast("double")).alias(f"x{j}")
            for j in range(n_features)
        ]
    else:
        xs = [
            (F.sum((F.col("__b") == j).cast("long")) / n.cast("double")).alias(
                f"x{j}"
            )
            for j in range(n_features)
        ]
    keys = ["id"] if label is None else ["id", "y"]
    return (
        toks.withColumn("__b", b)
        .groupBy(*keys)
        .agg(n.alias("n_tokens"), *xs)
        .withColumnRenamed("id", id_col)
    )


def train_quality_classifier(
    documents: DataFrame,
    label: Column,
    n_features: int = 8,
    iters: int = 5,
    lr: float = 2.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    binary: bool = False,
    features: DataFrame | None = None,
) -> list[float]:
    """Full-batch logistic-regression training, one aggregation pass per
    iteration: ``w ← w − lr · mean((σ(w·x + b) − y) · x)`` from zero
    weights.  Returns ``[w0 … w{d−1}, bias]``.

    The feature table is pinned once (reliable checkpoint when the session
    configures a checkpoint dir — the dedup._pin policy); each iteration's
    gradient is a ``d+1``-column global aggregate whose partials combine
    map-side, so the driver traffic is ``d+1`` doubles per pass no matter
    the corpus size.  Deterministic given the data: features are exact
    rationals and the only float reduction is the gradient mean.

    Pass ``features`` (an ALREADY-PINNED ``hashed_features`` output built
    with a label) to share one extraction between training and a
    subsequent ``score_documents`` call on the same corpus.
    """
    feat = (
        features
        if features is not None
        else _pin(
            hashed_features(
                documents,
                n_features,
                id_col=id_col,
                text_col=text_col,
                label=label,
                binary=binary,
            )
        )
    )
    w = [0.0] * n_features
    bias = 0.0
    for _ in range(iters):
        # per-pass expressions built as SQL TEXT (r13): the weights are
        # literals, so every iteration rebuilds the plan — doing that
        # through py4j Column calls cost ~0.9 s/pass at d=64 (measured;
        # more than the execution itself), while selectExpr/F.expr ship
        # one string each and parse JVM-side in milliseconds.  The
        # parsed trees (aggregate(zip_with(...)) fold, avg(__err*xj)
        # aggregates) are node-for-node the expressions the Column form
        # produced, so the arithmetic is bit-identical.
        #
        # The residual still projects ONCE before the aggregate —
        # folding the d-term sigmoid tree into each of the d+1 agg
        # expressions multiplies the plan by d (~2 s analysis per pass,
        # measured in r10).
        z_sql = _affine_sql(w + [bias])
        p_sql = f"(CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE)+exp(-({z_sql}))))"
        err = feat.selectExpr(
            *[f"x{j}" for j in range(n_features)],
            f"({p_sql}-y) AS __err",
        )
        grads = ",".join(
            f"avg(__err*x{j}) AS g{j}" for j in range(n_features)
        )
        row = err.agg(
            F.expr(f"struct({grads},avg(__err) AS gb)").alias("__g")
        ).first()["__g"]
        if row["gb"] is None:
            # avg over zero rows — every document was zero-token; fail with
            # the cause instead of a TypeError on the weight update
            raise ValueError(
                "train_quality_classifier: no feature rows (all documents "
                "tokenized to zero tokens)"
            )
        w = [w[j] - lr * row[f"g{j}"] for j in range(n_features)]
        bias -= lr * row["gb"]
    return w + [bias]


def score_documents(
    documents: DataFrame,
    weights: Sequence[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
    binary: bool = False,
    features: DataFrame | None = None,
) -> DataFrame:
    """Apply trained weights: ``(id_col, n_tokens, prob)`` with
    ``prob = σ(w·x + bias)`` rounded.  Pure projection over the same
    single-shuffle feature extraction — the weights are literals, so the
    scoring plan has no driver round-trips and broadcasts nothing.  Pass
    ``features`` (a ``hashed_features`` output, e.g. the pinned training
    table) to skip re-extraction when scoring the training corpus
    itself."""
    d = len(weights) - 1
    feat = (
        features
        if features is not None
        else hashed_features(
            documents, d, id_col=id_col, text_col=text_col, binary=binary
        )
    )
    z = _affine(list(weights))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feat.select(id_col, "n_tokens", F.round(p, round_to).alias("prob"))


def quality_filter(
    documents: DataFrame,
    weights: Sequence[float],
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    binary: bool = False,
) -> DataFrame:
    """Keep documents the classifier scores at or above ``threshold`` —
    the gate a pipeline composes after training on a trusted slice.
    Semi-join on the scored ids so the caller keeps full document rows."""
    keep = (
        score_documents(
            documents, weights, id_col=id_col, text_col=text_col, binary=binary
        )
        .where(F.col("prob") >= threshold)
        .select(id_col)
    )
    return documents.join(keep, id_col, "semi")


def evaluate_gate(
    features: DataFrame,
    weights: Sequence[float],
    threshold: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Gate quality against the training label: one-row confusion matrix
    ``(n_tp, n_fp, n_fn, n_tn, prec, rec, f1)`` of the thresholded
    classifier over a LABELED ``hashed_features`` table (the pinned
    training table — pass the same frame you trained on).  One aggregation
    pass; the counts partial-aggregate map-side, the ratios are computed
    from the four counters in a final projection."""
    z = _affine(list(weights))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    scored = features.select(
        F.col("y"), (p >= F.lit(threshold)).alias("__pred")
    )

    def n(cond: Column, name: str) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    pred, y = F.col("__pred"), F.col("y")
    cm = scored.agg(
        n(pred & (y == 1), "n_tp"),
        n(pred & (y == 0), "n_fp"),
        n(~pred & (y == 1), "n_fn"),
        n(~pred & (y == 0), "n_tn"),
    )
    tp, fp, fn = F.col("n_tp"), F.col("n_fp"), F.col("n_fn")

    def ratio(num: Column, den: Column, name: str) -> Column:
        # a degenerate gate (nothing predicted positive / no positives in
        # the label) leaves the ratio undefined — NULL, not a crash (ANSI
        # mode raises DIVIDE_BY_ZERO otherwise)
        return F.when(
            den > 0, F.round(num / den.cast("double"), round_to)
        ).alias(name)

    return cm.select(
        "n_tp",
        "n_fp",
        "n_fn",
        "n_tn",
        ratio(tp, tp + fp, "prec"),
        ratio(tp, tp + fn, "rec"),
        ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn, "f1"),
    )


def reference_train(
    rows: Sequence[tuple[int, str, bool]],
    n_features: int = 8,
    iters: int = 5,
    lr: float = 2.0,
    binary: bool = False,
) -> list[float]:
    """Driver-side pure-Python replay of the exact training computation
    (same tokenizer, same rolling hash, same update order) for tests —
    the Python analogue of the SQL oracle's unrolled CTE chain."""
    base, prime = 31, 2038074743

    def bucket(tok: str) -> int:
        h = 0
        for ch in "".join(c for c in tok if c.isascii() and (c.isalnum() or c == " ")):
            h = (h * base + ord(ch)) % prime
        return h % n_features

    feats = []
    for _, text, y in rows:
        toks = text.lower().strip().split()
        if not toks:
            continue
        x = [0.0] * n_features
        for t in toks:
            x[bucket(t)] += 1.0
        if binary:
            x = [1.0 if v > 0 else 0.0 for v in x]
        else:
            x = [v / len(toks) for v in x]
        feats.append((x, 1.0 if y else 0.0))
    w = [0.0] * n_features
    bias = 0.0
    for _ in range(iters):
        g = [0.0] * n_features
        gb = 0.0
        for x, y in feats:
            z = bias + sum(w[j] * x[j] for j in range(n_features))
            p = 1.0 / (1.0 + math.exp(-z))
            for j in range(n_features):
                g[j] += (p - y) * x[j]
            gb += p - y
        n = len(feats)
        w = [w[j] - lr * g[j] / n for j in range(n_features)]
        bias -= lr * gb / n
    return w + [bias]


__all__ = [
    "token_bucket",
    "hashed_feature_sets",
    "train_quality_classifier_sparse",
    "score_documents_sparse",
    "hashed_features",
    "train_quality_classifier",
    "score_documents",
    "quality_filter",
    "evaluate_gate",
    "reference_train",
]


def hashed_feature_sets(
    documents: DataFrame,
    n_features: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    label: Column | None = None,
) -> DataFrame:
    """Sparse twin of :func:`hashed_features` for BINARY-presence features
    at large ``d``: one row per document with the SORTED distinct bucket
    set as an array column (``buckets``) instead of ``d`` wide columns.

    The dense form's aggregate carries ``d`` conditional-max columns —
    codegen-bound at d≥1024 (measured 154 s at 50k docs).  Here the
    aggregate is ``collect_set`` (narrow, d-independent) and the sort
    makes downstream folds index-ordered, so dense and sparse dot
    products add the SAME terms in the SAME order (absent buckets
    contribute exactly +0.0 in the dense form — addition of 0.0 is exact,
    so the two z values are bit-identical).

    The input gets the :func:`hashed_features` parallelism floor."""
    from eodatadown_spark.operators.dedup import ensure_min_parallelism

    documents = ensure_min_parallelism(documents)
    cols = [F.col(id_col).alias("id")]
    if label is not None:
        cols.append(label.cast("double").alias("y"))
    toks = documents.select(*cols, F.explode(token_array(text_col)).alias("__tok"))
    keys = ["id"] if label is None else ["id", "y"]
    return (
        toks.withColumn("__b", token_bucket(F.col("__tok"), n_features))
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_sort(F.collect_set("__b")).alias("buckets"),
        )
        .withColumnRenamed("id", id_col)
    )


def _affine_sparse(weights: Sequence[float]) -> Column:
    """``bias + Σ_{b ∈ buckets} w_b`` as a fold over the sorted bucket
    array with the weights as ONE array literal — expression size O(1) in
    ``d`` (one array node), the property that makes wide models plan in
    constant time."""
    ws = F.array(*[F.lit(float(v)) for v in weights[:-1]])
    return F.aggregate(
        F.col("buckets"),
        F.lit(float(weights[-1])),
        lambda acc, b: acc + F.element_at(ws, (b + 1).cast("int")),
    )


def train_quality_classifier_sparse(
    documents: DataFrame,
    label: Column,
    n_features: int = 1024,
    iters: int = 8,
    lr: float = 12.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    features: DataFrame | None = None,
) -> list[float]:
    """Large-``d`` binary-presence training: the per-pass gradient comes
    from EXPLODING each document's bucket set and grouping on the bucket —
    ``d`` output rows per pass, map-side combined — instead of ``d`` wide
    aggregate columns.  Per-pass plan size is O(1) in ``d`` (the dense
    path plans O(d) expressions, ~19 s/pass at d=1024; this path is the
    shape that stays flat as the feature space grows).

    Numerics: z is bit-identical to the dense path (same index-ordered
    terms — see :func:`hashed_feature_sets`); the gradient sums the same
    addends in shuffle order rather than scan order, so weights agree with
    the dense path to float-reduction tolerance (~1e-12), not bit-for-bit.
    Training and scoring must use the same path end-to-end.
    """
    feat = (
        features
        if features is not None
        else _pin(
            hashed_feature_sets(
                documents, n_features, id_col=id_col, text_col=text_col,
                label=label,
            )
        )
    )
    w = [0.0] * n_features
    bias = 0.0
    n_rows = feat.count()
    if n_rows == 0:
        raise ValueError(
            "train_quality_classifier_sparse: no feature rows (all "
            "documents tokenized to zero tokens)"
        )
    for _ in range(iters):
        z = _affine_sparse(w + [bias])
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = feat.select(
            "buckets", (p - F.col("y")).alias("__err")
        )
        # ONE action per pass (r13): the bias gradient rides the same
        # explode+groupBy as the weight gradients under the sentinel
        # bucket -1 (every row contributes exactly one sentinel, so
        # g_{-1} = Σ__err / n_rows == the old avg("__err") — same
        # value, previously a second separate aggregation job).  Real
        # buckets are pmod-nonnegative, so -1 can never collide.
        grad = {
            r["__b"]: r["g"]
            for r in err.select(
                F.explode(
                    F.concat(
                        F.col("buckets"),
                        F.array(F.lit(-1).cast("long")),
                    )
                ).alias("__b"),
                "__err",
            )
            .groupBy("__b")
            .agg((F.sum("__err") / F.lit(float(n_rows))).alias("g"))
            .collect()
        }
        gb = grad.get(-1, 0.0)
        w = [w[j] - lr * grad.get(j, 0.0) for j in range(n_features)]
        bias -= lr * gb
    return w + [bias]


def score_documents_sparse(
    documents: DataFrame,
    weights: Sequence[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
    features: DataFrame | None = None,
) -> DataFrame:
    """Sparse-path scoring: the O(1)-plan-size fold over the bucket set.
    z matches the dense binary path bit-for-bit given the same weights."""
    feat = (
        features
        if features is not None
        else hashed_feature_sets(
            documents, len(weights) - 1, id_col=id_col, text_col=text_col
        )
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_affine_sparse(list(weights))))
    return feat.select(id_col, "n_tokens", F.round(p, round_to).alias("prob"))
