"""Similarity search over an embedding column (array<float>).

Two paths:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; dot products via `F.zip_with` + `F.aggregate`
  (JVM-side, no Python); per-query top-k via window.  Exact baseline; at
  100 TB the corpus side stays partition-parallel and never shuffles — only
  the k results per query do.
- :func:`lsh_bucket_topk` — random-hyperplane LSH (sign of dot with `n_planes`
  fixed pseudo-random vectors → bucket id).  Candidates = same-bucket rows,
  so the join is an equi-join on bucket id instead of a cross join: the IVF-
  style scale path.  Recall < 1 by construction; verified top-k within the
  candidate set.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product with DOUBLE products: the embedding columns are
    array<float>, and a bare ``x * y`` inside zip_with multiplies in
    float32 — each product rounded to 24-bit mantissa BEFORE the double
    fold, ≈1e-5 relative error at dim 64.  Invisible at sf0.01 row
    counts, but at sf1.0 pair volumes (~240k near-dup pairs) it flips
    4dp-rounded outputs against any double-precision oracle.  Casting
    the operands first keeps the whole fold in double for the cost of a
    widening conversion Tungsten does register-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (never an error) when either norm is zero.

    Spark 4 runs ANSI mode by default, so a bare ``/`` raises DIVIDE_BY_ZERO
    the moment one zero-norm (or denormal-underflow, e.g. [0,0,0,5e-324])
    embedding row appears — at 100 TB that is one bad row killing the job.
    ``try_divide`` degrades that row to NULL instead; callers filter nulls.
    """
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _score_pairs(cand: DataFrame) -> DataFrame:
    """Shared pair-scoring tail: cosine from precomputed (__qv,__qn,__cv,__cn),
    self-matches excluded, zero-norm rows dropped (ANSI-safe, never an error)."""
    return (
        cand.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.try_divide(
                dot(F.col("__qv"), F.col("__cv")), F.col("__qn") * F.col("__cn")
            ),
        )
        .where(F.col("cos_sim").isNotNull())
    )


def _topk_tail(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: rank per query by (cos_sim desc, neighbor_id asc —
    deterministic tie-break), keep rank <= k.  ONE place to change ranking
    semantics for the whole similarity family."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> float:
    """Mean recall of an approximate top-k result against the exact one:
    |approx ∩ exact| / |exact| over all queries (micro-averaged, so
    queries with fewer than k exact neighbors weigh by what exists).

    This is the ANN quality contract — correctness-vs-own-oracle proves a
    plan computes what it promises, recall proves the approximation still
    RETRIEVES.  Tracked per-round in the bench artifact (``ann_recall``)
    and floor-gated in tests so quality drift fails loudly.  Driver-side
    scalar: both inputs are k·#queries rows, never corpus-sized.
    """
    ex = exact.select(query_id_col, neighbor_col)
    den = ex.count()
    if not den:
        return float("nan")
    hits = (
        approx.select(query_id_col, neighbor_col)
        .join(ex, [query_id_col, neighbor_col], "left_semi")
        .count()
    )
    return hits / den


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force cosine top-k of each query against the corpus.

    Output: (query_id, neighbor_id, rank, cos_sim) — rank 1..k, ties broken
    by neighbor_id ascending for determinism.  Self-matches excluded when a
    query id equals a corpus id.
    """
    # norms precomputed per side: the per-pair work is ONE dot product
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ).withColumn("__qn", l2_norm(F.col("__qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    return _topk_tail(_score_pairs(c.crossJoin(q)), k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-k
    MOST-similar corpus vectors carrying a DIFFERENT label — the negatives
    that sit closest to the decision boundary, which contrastive and
    reranker training pipelines mine from their corpus (easy random
    negatives teach nothing).

    Output: (query_id, neighbor_id, neighbor_label, rank, cos_sim), rank
    1..k by (cos_sim desc, neighbor_id asc).  The label filter applies
    BEFORE ranking — this is top-k of the label-mismatched subset, not a
    post-filter of the overall top-k (which could return < k or empty).

    Scale shape mirrors :func:`cosine_topk`: queries broadcast, corpus
    never shuffles.  For corpora past brute-force reach, generate
    candidates with the LSH/IVF buckets first and apply the same
    label-mismatch + rank tail to the shortlist.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.col(label_col).alias("__ql"),
        ).withColumn("__qn", l2_norm(F.col("__qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("neighbor_label"),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    cand = c.crossJoin(q).where(F.col("neighbor_label") != F.col("__ql"))
    ranked = _topk_tail(_score_pairs(cand), k)
    # re-attach the neighbor label (the shared tail projects it away):
    # broadcast the RANKED side — k×|queries| rows — against the
    # corpus-sized label relation, never the reverse
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
    )
    return lab.join(F.broadcast(ranked), "neighbor_id").select(
        "query_id", "neighbor_id", "neighbor_label", "rank", "cos_sim"
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = bitmask of sign(vec · plane_i) — fixed pseudo-random
    hyperplanes evaluated as literal-array dot products (no Python)."""
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bits.append(
            F.when(dot(vec, p) >= 0, F.lit(1 << i)).otherwise(0).cast("long")
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    n_tables: int = 1,
    n_probe: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: candidates share the query's hyperplane
    bucket; equi-join on (table, bucket) replaces the cross join (the 100 TB
    path — ~n/2^planes candidates per query per table).

    ``n_tables`` is the standard OR-amplification knob: L independent
    hyperplane sets, candidates unioned across tables (deduped before
    scoring).  Single-table recall degrades geometrically with n_planes on
    unstructured embeddings (exact-bucket match); multiple smaller tables
    recover it at L× candidate cost — the recall harness in
    tests/test_operators.py measures both directions of the trade.

    ``n_probe`` adds MULTIPROBE (Lv et al., VLDB'07): per table each QUERY
    also probes the ``n_probe`` neighboring buckets obtained by flipping
    its lowest-|margin| hyperplane bits — the bits a true neighbor most
    plausibly disagrees on.  Probe generation is pure Catalyst (margin
    sort + bit flips on the query side only; the corpus stays one bucket
    per table), so recall rises at (1+n_probe)× query-side candidate cost
    WITHOUT growing the stored index, the economical direction at 100 TB
    where each extra table re-indexes the corpus.  Measured recall@10 vs
    exact on the structure-poor synthetic vectors: 4 planes × 8 tables
    0.66 bare → 0.965 with n_probe=2 (sf0.01); 0.70 → 0.98 (sf0.1).
    Probing more buckets only widens the candidate set, so recall is
    monotone in n_probe (gated in tests/test_ann_recall.py).
    """
    table_planes = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def base_bucket(dots: list[Column]) -> Column:
        out = F.lit(0).cast("long")
        for i, d in enumerate(dots):
            out = out.bitwiseOR(
                F.when(d >= 0, F.lit(1 << i)).otherwise(0).cast("long")
            )
        return out

    def bucket_array(vcol: str, planes: list[list[float]]) -> Column:
        """Array of buckets to probe: the base bucket, plus (queries only)
        the n_probe lowest-|dot| single-bit flips."""
        dots = [
            dot(F.col(vcol), F.array(*[F.lit(v) for v in p])) for p in planes
        ]
        base = base_bucket(dots)
        if not n_probe:
            return F.array(base)
        margins = F.array_sort(
            F.array(
                *[
                    F.struct(F.abs(d).alias("m"), F.lit(i).alias("i"))
                    for i, d in enumerate(dots)
                ]
            )
        )
        flips = F.transform(
            F.slice(margins, 1, n_probe),
            # 2^i via pow-double: exact for i < 53, and n_planes ≤ 62 by
            # the long bitmask anyway
            lambda s: base.bitwiseXOR(
                F.pow(F.lit(2.0), s["i"].cast("double")).cast("long")
            ),
        )
        return F.concat(F.array(base), flips)

    def with_buckets(df: DataFrame, vcol: str, probes: bool) -> DataFrame:
        per_table = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    (
                        bucket_array(vcol, planes)
                        if probes
                        else F.array(hyperplane_bucket(F.col(vcol), planes))
                    ).alias("bs"),
                )
                for t, planes in enumerate(table_planes)
            ]
        )
        return (
            df.select("*", F.explode(per_table).alias("__tb"))
            .select(
                "*",
                F.col("__tb.t").alias("t"),
                F.explode("__tb.bs").alias("bucket"),
            )
            .drop("__tb")
        )

    c = with_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ).withColumn("__cn", l2_norm(F.col("__cv"))),
        "__cv",
        probes=False,
    )
    q = F.broadcast(
        with_buckets(
            queries.select(
                F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
            ).withColumn("__qn", l2_norm(F.col("__qv"))),
            "__qv",
            probes=n_probe > 0,
        )
    )
    cand = c.join(q, ["t", "bucket"]).drop("t", "bucket")
    if n_tables > 1:
        # a vector lands in exactly ONE bucket per table and a query's
        # probe buckets within a table are pairwise distinct, so duplicates
        # can only arise across tables — single-table callers skip this
        # shuffle
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return _topk_tail(_score_pairs(cand), k)


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Trained coarse-quantizer codebook: k-means over the embedding column
    via Spark MLlib (distributed Lloyd's with k-means|| init, fixed seed)
    → a centroids DataFrame shaped for :func:`ivf_assign_cells` /
    :func:`ivf_topk` (``cell_id``-as-``id_col``, ``vec_col``).

    This replaces the deterministic first-k seed convention with a real
    trained codebook when cluster structure matters; both shapes drop into
    the same query plans.  Train on a sample at 100 TB
    (``vectors.sample(...)``) — codebook quality converges long before the
    full corpus is seen.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(feats)
    spark = vectors.sparkSession
    rows = [
        (i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, f"{id_col} long, {vec_col} array<float>")


def ivf_assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    centroid_id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine →
    (id, cell, cell_rank).  Centroids are broadcast (they are small by
    construction); the per-vector work is |centroids| dot products in
    codegen, no shuffle of the vector side — the IVF coarse quantizer.
    """
    cents = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("cell"), F.col(vec_col).alias("__cv")
        ).withColumn("__cn", l2_norm(F.col("__cv")))
    )
    scored = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
        .withColumn("__n", l2_norm(F.col("__v")))
        .crossJoin(cents)
        .withColumn(
            "__sim",
            F.try_divide(dot(F.col("__v"), F.col("__cv")), F.col("__n") * F.col("__cn")),
        )
        .where(F.col("__sim").isNotNull())
    )
    w = Window.partitionBy("id").orderBy(F.col("__sim").desc(), F.col("cell").asc())
    return (
        scored.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n_probe)
        .select("id", "cell", "cell_rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in ONE inverted list (their
    nearest centroid); each query probes its ``n_probe`` nearest lists and
    brute-forces only those candidates — the scan fraction is ~n_probe/
    n_centroids of the corpus instead of all of it.

    Default centroids are the deterministic seed set (the first
    ``n_centroids`` corpus ids) so results are exactly reproducible
    cross-engine; pass ``centroids`` (e.g. :func:`kmeans_centroids`) for a
    trained codebook — the query plan is identical.  Candidate generation
    is an equi-join on cell id (never a cross join against the corpus),
    same 100 TB shape as the LSH path.
    """
    if centroids is None:
        centroids = corpus.where(F.col(id_col) < n_centroids)
    lists_ = ivf_assign_cells(
        corpus, centroids, id_col, vec_col, n_probe=1, centroid_id_col=id_col
    ).select(F.col("id").alias("neighbor_id"), "cell")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    probes = ivf_assign_cells(
        queries, centroids, query_id_col, vec_col, n_probe=n_probe,
        centroid_id_col=id_col,
    ).select(F.col("id").alias("query_id"), "cell")
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
        .withColumn("__qn", l2_norm(F.col("__qv")))
        .join(probes, "query_id")
    )
    cand = (
        lists_.join(q, "cell")
        .join(c, "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_tail(_score_pairs(cand), k)


def _l2sq_lit(vec: Column, lit_vec: list[float]) -> Column:
    """Squared L2 distance between a vector column and a literal vector."""
    p = F.array(*[F.lit(float(v)) for v in lit_vec])
    return _l2sq(vec, p)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array columns — same index-order
    left fold as :func:`_l2sq_lit` (0.0 seed; x+0.0 == x for the
    non-negative squares), so the two forms are bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _codebook_lit(codebook: list[list[list[float]]]) -> Column:
    """The PQ codebook as ONE ``array<array<array<double>>>`` column.

    Catalyst constant-folds the nested CreateArray of literals into a
    single Literal, so expressions over it stay a handful of nodes.  The
    alternative — expanding ``m × n_codes`` separate ``_l2sq_lit`` trees —
    builds a multi-thousand-node expression whose whole-stage Janino
    compile costs ~7-9 s PER FRESH PLAN (measured at m=8, n_codes=16; the
    executed stage itself is ~2 s).  On a cluster that compile happens on
    the driver for every batch/probe invocation — pure overhead."""
    return F.array(*[
        F.array(*[
            F.array(*[F.lit(float(v)) for v in code]) for code in codes
        ]) for codes in codebook
    ])


def _pq_lut(qvec: Column, codebook: list[list[list[float]]]) -> Column:
    """Per-query ADC lookup table ``lut[j][ci] = l2sq(subvec_j, code)`` as a
    nested ``transform`` over the literal codebook (tiny expression tree;
    see :func:`_codebook_lit`).  Same fold order as the expanded form —
    bit-identical distances."""
    sub = F.lit(len(codebook[0][0]))
    return F.transform(
        _codebook_lit(codebook),
        lambda codes, j: F.transform(
            codes, lambda c: _l2sq(F.slice(qvec, j * sub + 1, sub), c)
        ),
    )


def pq_train_codebook(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "seed",
    max_iter: int = 20,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebook ``[m][n_codes][dim/m]``.

    ``method="seed"`` (default): the subvectors of the ``n_codes`` lowest-id
    corpus vectors — a deterministic stand-in, the same convention as
    :func:`ivf_topk`'s centroids, so results are exactly reproducible.

    ``method="kmeans"``: the real thing — per-subspace k-means (the
    textbook PQ trainer: each of the m subspaces gets its own ``n_codes``
    centroids minimizing that subspace's quantization error) via Spark
    MLlib, fixed seed.  Better centroids → tighter ADC distances → higher
    shortlist recall at the same m/n_codes (asserted on the embeddings
    table in tests).  Training cost is m small fits; at 100 TB pass
    ``sample_fraction`` — PQ codebooks converge on a sample long before
    the corpus is seen.

    Either way the collect is bounded by construction: a PQ codebook IS
    small (m × n_codes × dim/m floats — the entire point is that the
    corpus compresses onto it), so shipping it driver-side and inlining it
    as literals keeps encode/scoring pure projections with zero joins.
    """
    if method not in ("seed", "kmeans"):
        raise ValueError(f"unknown codebook method {method!r}")
    if method == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        src = (
            corpus.sample(fraction=sample_fraction, seed=seed)
            if sample_fraction
            else corpus
        )
        first = src.select(vec_col).first()
        if first is None:
            raise ValueError("corpus is empty")
        dim = len(first[0])
        if dim % m != 0:
            raise ValueError(f"m={m} must divide dim={dim}")
        sub = dim // m
        book = []
        for j in range(m):
            feats = src.select(
                array_to_vector(
                    F.slice(F.col(vec_col), j * sub + 1, sub).cast("array<double>")
                ).alias("features")
            )
            model = KMeans(k=n_codes, maxIter=max_iter, seed=seed).fit(feats)
            book.append([[float(v) for v in c] for c in model.clusterCenters()])
        return book
    rows = (
        corpus.where(F.col(id_col) < n_codes)
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(f"corpus has fewer than n_codes={n_codes} seed vectors")
    dim = len(rows[0][0])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    return [
        [[float(v) for v in r[0][j * sub : (j + 1) * sub]] for r in rows]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the index of the nearest
    codebook entry by squared L2 → ``array<int>`` of length m.

    Storage-compression path for 100 TB embedding tables: dim float32s
    become m small ints (e.g. 64×4 bytes → 8 codes).  Pure projection —
    m × n_codes literal-array distance expressions in whole-stage codegen,
    no join, no shuffle; ties resolve to the lowest code id (struct
    ordering), so encoding is deterministic.
    """
    sub = F.lit(len(codebook[0][0]))
    vec = F.col(vec_col)
    # nested-transform argmin over the constant-folded codebook literal —
    # same (d, then c) struct-min tie rule as the expanded form, a
    # ~100x smaller expression tree (see _codebook_lit on Janino cost)
    codes = F.transform(
        _codebook_lit(codebook),
        lambda entries, j: F.array_min(
            F.transform(
                entries,
                lambda c, ci: F.struct(
                    _l2sq(F.slice(vec, j * sub + 1, sub), c).alias("d"),
                    ci.alias("c"),
                ),
            )
        ).getField("c"),
    )
    return df.withColumn(out_col, codes)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 50,
    codebook: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-accelerated cosine top-k with asymmetric-distance shortlisting and
    exact rerank.

    Per (query, corpus) pair the scan cost is m table lookups (ADC: the
    query precomputes an ``[m][n_codes]`` LUT of subspace distances, the
    pair distance is Σ_j lut[j][code_j]) instead of a dim-length dot —
    the standard PQ trade.  The ADC shortlist (``shortlist`` per query,
    distance-asc, id-asc tie-break) is then exactly reranked by cosine, so
    output format and semantics match the rest of the similarity family:
    (query_id, neighbor_id, rank, cos_sim).

    The corpus side stays partition-parallel (queries broadcast); compose
    with :func:`ivf_assign_cells` to prefilter candidates by cell when even
    the m-lookup scan is too much — the codebook/LUT plumbing is identical.
    """
    cb = codebook or pq_train_codebook(corpus, m, n_codes, id_col, vec_col)
    m = len(cb)
    sub = len(cb[0][0])
    enc = pq_encode(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ),
        cb,
        "__cv",
        "__codes",
    ).withColumn("__cn", l2_norm(F.col("__cv")))

    qvec = F.col("__qv")
    lut = _pq_lut(qvec, cb)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
        .withColumn("__qn", l2_norm(qvec))
        .withColumn("__lut", lut)
    )
    adc = None
    for j in range(m):
        term = F.element_at(
            F.element_at("__lut", j + 1), F.element_at("__codes", j + 1) + 1
        )
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc()
    )
    short = (
        enc.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adc", adc)
        .withColumn("__srank", F.row_number().over(w))
        .where(F.col("__srank") <= shortlist)
    )
    return _topk_tail(_score_pairs(short), k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 50,
    codebook: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF×PQ: the billions-of-vectors ANN configuration — IVF cells bound
    WHICH vectors are scanned (~n_probe/n_centroids of the corpus, cell
    equi-join, never a cross join) and PQ codes bound the COST per scanned
    vector (m ADC lookups instead of a dim-length dot), then the shortlist
    is exactly reranked by cosine.  Output contract matches the similarity
    family: (query_id, neighbor_id, rank, cos_sim).
    """
    cb = codebook or pq_train_codebook(corpus, m, n_codes, id_col, vec_col)
    m = len(cb)
    sub = len(cb[0][0])
    centroids = corpus.where(F.col(id_col) < n_centroids)
    cells = ivf_assign_cells(
        corpus, centroids, id_col, vec_col, n_probe=1, centroid_id_col=id_col
    ).select(F.col("id").alias("neighbor_id"), "cell")
    enc = (
        pq_encode(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
            ),
            cb,
            "__cv",
            "__codes",
        )
        .withColumn("__cn", l2_norm(F.col("__cv")))
        .join(cells, "neighbor_id")
    )
    probes = ivf_assign_cells(
        queries, centroids, query_id_col, vec_col, n_probe=n_probe,
        centroid_id_col=id_col,
    ).select(F.col("id").alias("query_id"), "cell")
    qvec = F.col("__qv")
    lut = _pq_lut(qvec, cb)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
        .withColumn("__qn", l2_norm(qvec))
        .withColumn("__lut", lut)
        .join(probes, "query_id")
    )
    adc = None
    for j in range(m):
        term = F.element_at(
            F.element_at("__lut", j + 1), F.element_at("__codes", j + 1) + 1
        )
        adc = term if adc is None else adc + term
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc()
    )
    short = (
        enc.join(q, "cell")
        .drop("cell")
        .dropDuplicates(["query_id", "neighbor_id"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adc", adc)
        .withColumn("__srank", F.row_number().over(w))
        .where(F.col("__srank") <= shortlist)
    )
    return _topk_tail(_score_pairs(short), k)


def sq8_train(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension ``(mins, steps)`` for 8-bit scalar quantization (SQ8).

    The trained scalars are the per-dimension min and ``(max-min)/255`` —
    order-independent aggregates, so the training pass is one shuffle of
    ``dim`` rows regardless of corpus size, and the result is bit-identical
    to any other engine computing min/max over the same floats (the q151
    oracle recomputes them relationally in DuckDB).  Degenerate constant
    dimensions get step=1.0 so encode never divides by zero.

    Collect is bounded by construction: ``dim`` rows (one per vector
    position), never corpus-sized.
    """
    stats = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    if not stats:
        raise ValueError("corpus is empty")
    mins = [float(r["mn"]) for r in stats]
    steps = [
        ((float(r["mx"]) - float(r["mn"])) / 255.0) if r["mx"] > r["mn"] else 1.0
        for r in stats
    ]
    return mins, steps


def sq8_encode(
    df: DataFrame,
    mins: list[float],
    steps: list[float],
    vec_col: str = "embedding",
    out_col: str = "sq8_codes",
) -> DataFrame:
    """Encode vectors to SQ8 codes: ``code_i = clamp(round((x_i-min_i)/step_i))``
    stored shifted by -128 as ``array<tinyint>`` — 1 byte/dim vs 8 for
    doubles, the storage-compression tier between raw floats and PQ.

    Pure projection (two ``zip_with`` passes against literal scalar arrays,
    whole-stage codegen, no join/shuffle).  Rounding is ``floor(x + 0.5)``
    — identical semantics in every ANSI engine, unlike banker's rounding —
    so codes are reproducible cross-engine (memory: round-half-even is a
    known Spark↔DuckDB hash-mismatch trap).
    """
    mn = F.array(*[F.lit(float(v)) for v in mins])
    st = F.array(*[F.lit(float(v)) for v in steps])
    centered = F.zip_with(F.col(vec_col), mn, lambda x, m: x - m)
    code = F.zip_with(
        centered,
        st,
        lambda d, s: F.least(
            F.lit(255), F.greatest(F.lit(0), F.floor(d / s + F.lit(0.5)).cast("int"))
        )
        - F.lit(128),
    )
    return df.withColumn(out_col, code.cast("array<tinyint>"))


def sq8_dequantize(
    codes: Column | str, mins: list[float], steps: list[float]
) -> Column:
    """Reconstruct ``array<double>`` from SQ8 codes: ``min_i + code_i*step_i``."""
    c = F.col(codes) if isinstance(codes, str) else codes
    mn = F.array(*[F.lit(float(v)) for v in mins])
    st = F.array(*[F.lit(float(v)) for v in steps])
    widened = F.zip_with(c, st, lambda ci, s: (ci.cast("int") + F.lit(128)) * s)
    return F.zip_with(widened, mn, lambda w, m: w + m)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    scalars: tuple[list[float], list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """SQ8-compressed cosine top-k: scan dequantized int8 codes for a
    shortlist, exactly rerank the shortlist with the raw vectors.

    The scale story is bandwidth, not FLOPs: at 100 TB the embedding table
    is read from storage 8× smaller (1 byte/dim), and only the ``shortlist``
    rows per query ever touch the full-precision column (in a real layout
    the raw vectors live in a separate parquet column/file, so the rerank
    is a narrow self-join — here both columns ride the same scan).  Queries
    broadcast; the corpus side never shuffles — identical plan shape to
    :func:`cosine_topk` with a shortlist window between scan and rerank.

    Output: (query_id, neighbor_id, rank, cos_sim), same contract as the
    rest of the family.  Recall@k is gated in tests and tracked in the
    bench ``ann_recall`` block; the q151 oracle reproduces the ENTIRE path
    (min/max training, floor-rounding encode, dequantized shortlist, exact
    rerank) relationally in DuckDB and hash-matches.
    """
    mins, steps = scalars if scalars is not None else sq8_train(corpus, vec_col)
    enc = sq8_encode(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ),
        mins,
        steps,
        "__cv",
        "__codes",
    )
    deq = enc.withColumn("__dv", sq8_dequantize("__codes", mins, steps)).withColumn(
        "__dn", l2_norm(F.col("__dv"))
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ).withColumn("__qn", l2_norm(F.col("__qv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__aprx").desc(), F.col("neighbor_id").asc()
    )
    short = (
        deq.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__aprx",
            F.try_divide(dot(F.col("__qv"), F.col("__dv")), F.col("__qn") * F.col("__dn")),
        )
        .where(F.col("__aprx").isNotNull())
        .withColumn("__srank", F.row_number().over(w))
        .where(F.col("__srank") <= shortlist)
        .withColumn("__cn", l2_norm(F.col("__cv")))
    )
    return _topk_tail(_score_pairs(short), k)


def sq8_build_codes(
    corpus: DataFrame,
    scalars: tuple[list[float], list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Persistent SQ8 code table ``(id, sq8_codes array<tinyint>)`` — the
    stored-index face of SQ8 (matches the MinHash/SimHash/pHash/IVF
    stored-index matrix).  Pure projection over the corpus; store the
    trained ``scalars`` alongside (they are dim-sized JSON, like the
    dedupindex meta) — probing with different scalars than the codes were
    encoded with silently degrades recall."""
    return sq8_encode(
        corpus.select(id_col, vec_col), scalars[0], scalars[1],
        vec_col, "sq8_codes",
    ).select(id_col, "sq8_codes")


def sq8_topk_against_codes(
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    scalars: tuple[list[float], list[float]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """SQ8 top-k probing a STORED code table: the shortlist scan reads ONLY
    the 1-byte/dim codes; the raw float column is touched for just the
    ``shortlist`` surviving rows per query, fetched through a narrow id
    equi-join with the (tiny) shortlist broadcast — at 100 TB the 8×-bigger
    raw embedding table is never scanned.  This is the storage layout
    :func:`sq8_topk` merely simulates (there both columns ride one scan).

    Must equal ``sq8_topk(corpus, queries, scalars=same)`` EXACTLY: the
    stored codes are the same deterministic floor-rounding encode, so the
    dequantized shortlist ranking and the exact rerank are identical
    (pinned by test and by the q155 oracle, which hash-matches q151's)."""
    mins, steps = scalars
    deq = codes.select(
        F.col(id_col).alias("neighbor_id"),
        sq8_dequantize("sq8_codes", mins, steps).alias("__dv"),
    ).withColumn("__dn", l2_norm(F.col("__dv")))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ).withColumn("__qn", l2_norm(F.col("__qv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__aprx").desc(), F.col("neighbor_id").asc()
    )
    short = (
        deq.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__aprx",
            F.try_divide(
                dot(F.col("__qv"), F.col("__dv")), F.col("__qn") * F.col("__dn")
            ),
        )
        .where(F.col("__aprx").isNotNull())
        .withColumn("__srank", F.row_number().over(w))
        .where(F.col("__srank") <= shortlist)
        .drop("__dv", "__dn")
    )
    raw = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    # shortlist is |queries|*shortlist rows — broadcast it into the fetch
    # join so the raw-vector side streams (no corpus shuffle)
    rerank = raw.join(F.broadcast(short), "neighbor_id").withColumn(
        "__cn", l2_norm(F.col("__cv"))
    )
    return _topk_tail(_score_pairs(rerank), k)


def rrf_fuse(
    runs: list[DataFrame],
    k: int = 60,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
    topk: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of retrieval
    runs: score(q, d) = Σ over runs of 1 / (k + rank_run(q, d)), a document
    absent from a run contributing nothing — the standard hybrid-retrieval
    combiner (dense ANN + lexical, or several ANN variants), rank-based so
    it needs no score calibration across runs.

    Returns (query, id, rrf_score, fused_rank); ties break by id.  Scale
    shape: every input run is already a per-query top-k (tiny relative to
    the corpus), so fusion is a union + one keyed aggregate + one per-query
    window — nothing corpus-sized moves.

    Determinism note: with TWO runs every score is a sum of ≤2 doubles
    (order-independent, bit-exact on any engine), so fused ranks are
    exactly reproducible; with ≥3 runs the last-ulp of the sum depends on
    aggregation order, which the rounded ``rrf_score`` hides but an exact
    rank tie at that ulp could expose — q108's oracle checks the 2-run
    case, rank-only.
    """
    if not runs:
        raise ValueError("rrf_fuse needs at least one run")
    u = None
    for run in runs:
        r = run.select(
            F.col(query_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias(
                "__contrib"
            ),
        )
        u = r if u is None else u.unionByName(r)
    w = Window.partitionBy(query_col).orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    fused = (
        u.groupBy(query_col, id_col)
        .agg(F.sum("__contrib").alias("__score"))
        .withColumn("fused_rank", F.row_number().over(w))
        .select(
            query_col,
            id_col,
            F.round("__score", round_to).alias("rrf_score"),
            "fused_rank",
        )
    )
    if topk is not None:
        fused = fused.where(F.col("fused_rank") <= topk)
    return fused


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int | None = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: data-
    efficient learning at web-scale through semantic deduplication": keep
    one representative per ε-ball inside k-means clusters): assign every
    vector to its nearest centroid cell, and inside each cell drop any
    vector that has a LOWER-id cell-mate with cosine ≥ ``threshold`` →
    (vec_id, cell, is_kept).

    The drop rule is closed-form — "any lower-id cell-mate", not the
    sequential "any *kept* lower-id cell-mate" greedy chain.  Same
    direction of aggressiveness (it can only drop MORE than the greedy,
    and drops exactly one representative, the min id, from any clique of
    mutual near-dups), but it evaluates as ONE within-cell self-join
    instead of an id-ordered iteration, so the pair volume is bounded by
    cluster granularity (Σ|cell|²), never corpus² — raise ``n_clusters``
    as the corpus grows, exactly as SemDeDup does.

    Default centroids are the deterministic seed set (lowest-id vectors —
    the :func:`ivf_topk` convention) for cross-engine reproducibility;
    pass :func:`kmeans_centroids` for trained cells (identical plan).

    The (id, cell, vector) assignment is pinned (``dedup._pin``) before
    the self-join — the plan references it three times (both join sides
    and the output), and without pinning each reference replays the
    centroid scoring.  The pinned relation is input-sized (the SemDeDup
    index itself).

    ``impl``:

    - ``"arrow"`` (default): centroid assignment and within-cell pair
      scoring run as numpy matmuls (Arrow-batched ``mapInPandas`` /
      per-cell ``applyInPandas`` with row-blocked Gram products, memory
      bounded at block × |cell|).  Interpreted higher-order lambdas cost
      ~1 µs per 64-dim dot; BLAS does the same work three orders of
      magnitude faster, and both assignment (n·k dots) and pairing
      (Σ|cell|²/2 dots) are dot-product-bound.  float64 math — decision
      margins (argmax cells, threshold compares) are validated against
      the independently-computed DuckDB oracle.
    - ``"sql"``: pure Catalyst expressions (the oracle-mirroring reference
      formulation; zero Python).
    """
    from eodatadown_spark.operators.dedup import _pin

    if impl not in ("arrow", "sql"):
        raise ValueError(f"unknown semantic_dedup impl {impl!r}")
    if n_clusters is None and centroids is None:
        # auto-scale cluster count with corpus size (cells of ≈≤5000/8
        # vectors): within-cell pair volume is quadratic PER CELL, so a
        # fixed cell count turns sublinear into quadratic as the corpus
        # grows — SemDeDup's own prescription is more clusters, not bigger
        # ones.  One bounded count job at plan-build time; pass an explicit
        # n_clusters (or centroids) to stay pure-plan.
        import math

        n_clusters = 8 * max(1, math.ceil(corpus.count() / 5000))
    if centroids is None:
        centroids = corpus.where(F.col(id_col) < n_clusters)
    if impl == "arrow":
        return _semantic_dedup_arrow(corpus, centroids, threshold, id_col, vec_col)
    cells = ivf_assign_cells(
        corpus, centroids, id_col, vec_col, n_probe=1, centroid_id_col=id_col
    ).select("id", "cell")
    v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    # norms precompute once per VECTOR here; the pair predicate below then
    # evaluates one higher-order dot per pair instead of three (HOF lambdas
    # run interpreted, not codegen — they are the per-pair unit cost)
    tagged = _pin(cells.join(v, "id").withColumn("__n", l2_norm(F.col("__v"))))
    # spread the probe side across partitions: the within-cell join's pair
    # generation + scoring parallelism follows the LEFT side's partitioning
    # (a broadcast join preserves it, and a narrow parquet scan can arrive
    # as one partition), so an id-hash repartition of input-sized data buys
    # full-core scoring; a shuffle equi-join at cluster scale re-exchanges
    # on cell anyway, with skew bounded by cluster granularity.  The
    # partition count is EXPLICIT because AQE sizes exchanges by input
    # bytes and would coalesce the (small) pre-join side to one partition
    # — it cannot see that the join explodes rows or that the per-pair
    # predicate is an interpreted higher-order dot.
    npart = corpus.sparkSession.sparkContext.defaultParallelism
    lhs = tagged.repartition(npart, F.col("id")).select(
        F.col("id").alias("id_a"), "cell",
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    rhs = tagged.select(
        F.col("id").alias("id_b"), "cell",
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    sim = F.try_divide(
        dot(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")
    )
    dropped = (
        lhs.join(rhs, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return tagged.select("id", "cell").join(dropped, "id", "left").select(
        F.col("id").alias(id_col),
        "cell",
        F.col("__dup").isNull().alias("is_kept"),
    )


def _semantic_dedup_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Vectorized semantic_dedup body: numpy-matmul assignment + per-cell
    row-blocked Gram pairing.  Same contract as the sql path: nearest cell
    by cosine with lowest-cell-id tie-break, drop any vector with a
    LOWER-id cell-mate at cosine ≥ threshold; zero-norm/NULL vectors get
    no cell and are excluded (as the sql path's null-sim filter does)."""
    import numpy as np

    from eodatadown_spark.operators.dedup import _pin

    # a coarse-quantizer codebook is small by construction (same bounded
    # collect as pq_train_codebook); rows sorted by cell id so np.argmax's
    # first-max rule == the sql path's (sim desc, cell asc) tie-break.
    # Zero-norm / non-finite centroids are dropped HERE, mirroring the sql
    # path's NULL-sim filter (a NaN column would otherwise win argmax and
    # swallow the whole corpus into one cell).
    cent_rows = sorted(
        (
            (r[0], np.asarray(r[1], dtype=np.float64))
            for r in centroids.select(id_col, vec_col).collect()
            if r[1] is not None
        ),
        key=lambda t: t[0],  # id only — tuple fallback would compare ndarrays
    )
    cent_rows = [
        (c, v) for c, v in cent_rows
        if np.isfinite(v).all() and np.linalg.norm(v) > 0
    ]
    # the schemas below carry the caller's id dtype (string keys work
    # exactly as in the sql path)
    id_type = corpus.schema[id_col].dataType.simpleString()
    if not cent_rows:
        # no usable centroid → no vector gets a cell; mirror the sql
        # path's empty output (every row's sim is NULL and is filtered)
        return corpus.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("cell"),
            F.lit(True).alias("is_kept"),
        ).where(F.lit(False))
    cell_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = np.stack([v for _, v in cent_rows])
    Cn = np.linalg.norm(C, axis=1)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            ids, vecs = [], []
            for i, v in zip(pdf["id"], pdf["__v"]):
                if v is None:
                    continue
                ids.append(i)
                vecs.append(np.asarray(v, dtype=np.float64))
            if not ids:
                yield pd.DataFrame({"id": [], "cell": [], "__v": []})
                continue
            V = np.stack(vecs)
            Vn = np.linalg.norm(V, axis=1)
            ok = (Vn > 0) & np.isfinite(Vn)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (V @ C.T) / np.outer(Vn, Cn)
            best = cell_ids[np.argmax(sims, axis=1)]
            keep = [bool(k) for k in ok]
            yield pd.DataFrame(
                {
                    "id": [i for i, k in zip(ids, keep) if k],
                    "cell": best[ok],
                    "__v": [v.tolist() for v, k in zip(vecs, keep) if k],
                }
            )

    src = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    tagged = _pin(
        src.mapInPandas(assign, f"id {id_type}, cell long, __v array<double>")
    )

    block = 1024

    def pair_drops(key, pdf):
        import pandas as pd

        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.stack([np.asarray(v) for v in pdf["__v"].to_numpy()[order]])
        n = len(ids)
        Vn = np.linalg.norm(V, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            U = V / Vn[:, None]
        dropped = np.zeros(n, dtype=bool)
        # row-blocked upper-triangle Gram: memory ≤ block × |cell| doubles
        for s in range(0, n, block):
            e = min(s + block, n)
            G = U[s:e] @ U.T            # (block, n)
            for bi in range(e - s):
                i = s + bi
                row = G[bi, i + 1:]     # strictly higher ids (sorted)
                hits = np.flatnonzero(row >= threshold) + i + 1
                dropped[hits] = True
        return pd.DataFrame({"id": ids[dropped]})

    dropped = (
        tagged.groupBy("cell")
        .applyInPandas(pair_drops, f"id {id_type}")
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return tagged.select("id", "cell").join(dropped, "id", "left").select(
        F.col("id").alias(id_col),
        "cell",
        F.col("__dup").isNull().alias("is_kept"),
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-join
    (id_a < id_b, cos_sim >= threshold)."""
    planes = _hyperplanes(dim, n_planes, seed)
    base = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", hyperplane_bucket(F.col("v"), planes))
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    left = base.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("va"),
                       F.col("nrm").alias("na"))
    right = base.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        F.col("nrm").alias("nb"))
    pairs = (
        left.join(right, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
        )
    )
    return pairs.where(F.col("cos_sim") >= threshold).select(
        "id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")
    ).dropDuplicates(["id_a", "id_b"])


def label_centroid_distances(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """Per-label centroid quality stats → (label, n_vecs, avg_dist,
    max_dist): the elementwise-mean centroid of each label's vectors, then
    the mean/max Euclidean distance of members to their centroid — one
    k-means assignment-quality iteration, the cluster-cohesion audit for
    labeled embedding sets (e.g. after IVF codebook training).

    Scale shape: posexplode to (label, pos, val) → centroid agg keyed on
    (label, pos) — high-cardinality enough to parallelize, map-side partial
    sums — → join members' dimensions back on (label, pos) → per-vector
    squared-diff sum keyed on the id → per-label final agg.  All built-in
    aggs (whole-stage codegen); no vectors are ever collected or
    re-assembled into arrays.
    """
    dims = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    centroids = dims.groupBy("label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("cval")
    )
    sq = (
        dims.join(centroids, ["label", "pos"])
        .groupBy("vid", "label")
        .agg(
            F.sqrt(F.sum(F.pow(F.col("val").cast("double") - F.col("cval"), 2))).alias(
                "dist"
            )
        )
    )
    return sq.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("dist"), round_to).alias("avg_dist"),
        F.round(F.max("dist"), round_to).alias("max_dist"),
    )


def knn_label_vote(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """k-NN majority-vote classification: each query takes the label most
    common among its ``k`` exact cosine neighbors in the labeled corpus →
    (query_id, label, votes, sim_sum).

    The score column is the SUM of the (4-decimal) neighbor similarities,
    not their mean: a mean of 4-decimal values lands on exact-half decimals
    (x.xxxx5) where engines' rounding conventions legitimately disagree,
    while a sum of 4-decimal multiples never does — the cross-engine-stable
    choice (divide by ``votes`` downstream if a mean is wanted).

    Ties break deterministically: more votes → higher summed similarity →
    lexicographically smaller label.  Built on :func:`cosine_topk`, so the
    scale shape is the broadcast-queries / partition-parallel-corpus scan;
    the vote itself is
    one small aggregation over q×k rows.  For a labeled corpus too big to
    scan per batch, swap the neighbor stage for :func:`ivf_topk` /
    :func:`pq_topk` — the vote tail is identical.
    """
    nn = cosine_topk(
        labeled, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    # NULL-labeled corpus rows cannot vote (and Spark's asc = NULLS FIRST
    # would otherwise let a NULL win ties, diverging from SQL's NULLS LAST)
    lab = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("label")
    ).where(F.col("label").isNotNull())
    votes = (
        nn.join(lab, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(
            F.count("*").alias("votes"),
            F.sum("cos_sim").alias("__sim_sum"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__sim_sum").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "query_id", "label", "votes", F.round("__sim_sum", 4).alias("sim_sum")
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    shortlist: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k → (query_id,
    neighbor_id, rank): greedily pick the candidate maximizing
    ``λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`` — the diverse
    retrieval / few-shot-example-selection step that plain top-k cannot
    give (it returns k near-copies when the corpus has near-dup clusters).

    Fully distributed greedy: each of the k rounds is one broadcast join
    of the (queries × ≤shortlist) candidate table against the selected
    set, a per-candidate max-sim aggregate, and a per-query argmax window
    — no pandas, no per-query Python, scales across millions of queries.
    Per-round lineage is pinned (tiny frames).  ``candidates`` lets the
    caller feed an ANN shortlist (LSH/IVF) instead of the default exact
    one — the 100 TB path; the greedy tail only ever touches
    queries × shortlist rows.

    Determinism contract (oracle-checkable): all cosines run on
    double-cast arrays (f64 everywhere — cross-engine noise ~1e-15) and
    every argmax orders by (round(score, 6) DESC, id ASC), so rank flips
    would need a true score gap under 1e-6 that also straddles a grid
    boundary.  Output carries ranks only, no float columns.
    """
    from eodatadown_spark.operators.dedup import _pin

    dbl = f"cast({vec_col} as array<double>)"
    if candidates is None:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.expr(dbl).alias("__qv")
        ).withColumn("__qn", l2_norm(F.col("__qv")))
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.expr(dbl).alias("__cv")
        ).withColumn("__cn", l2_norm(F.col("__cv")))
        scored = (
            c.crossJoin(F.broadcast(q))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "rel",
                F.try_divide(
                    dot(F.col("__qv"), F.col("__cv")), F.col("__qn") * F.col("__cn")
                ),
            )
            .where(F.col("rel").isNotNull())
        )
        w = Window.partitionBy("query_id").orderBy(
            F.round("rel", 6).desc(), F.col("neighbor_id").asc()
        )
        candidates = (
            scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= shortlist)
            .select("query_id", "neighbor_id", "rel", "__cv")
        )
    cand = _pin(candidates)

    w1 = Window.partitionBy("query_id").orderBy(
        F.round("rel", 6).desc(), F.col("neighbor_id").asc()
    )
    selected = _pin(
        cand.withColumn("__r", F.row_number().over(w1))
        .where(F.col("__r") == 1)
        .select(
            "query_id", "neighbor_id", "__cv", F.lit(1).cast("int").alias("rank")
        )
    )
    for step in range(2, k + 1):
        rem = cand.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        sel = selected.select(
            F.col("query_id"), F.col("__cv").alias("__sv")
        ).withColumn("__sn", l2_norm(F.col("__sv")))
        pairs = rem.withColumn("__rn", l2_norm(F.col("__cv"))).join(
            F.broadcast(sel), "query_id"
        )
        maxsim = (
            pairs.withColumn(
                "__sim",
                F.try_divide(
                    dot(F.col("__cv"), F.col("__sv")), F.col("__rn") * F.col("__sn")
                ),
            )
            .groupBy("query_id", "neighbor_id", "rel", "__cv")
            .agg(F.max("__sim").alias("__ms"))
        )
        mmr = F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("__ms")
        wp = Window.partitionBy("query_id").orderBy(
            F.round(mmr, 6).desc(), F.col("neighbor_id").asc()
        )
        pick = (
            maxsim.withColumn("__p", F.row_number().over(wp))
            .where(F.col("__p") == 1)
            .select(
                "query_id", "neighbor_id", "__cv",
                F.lit(step).cast("int").alias("rank"),
            )
        )
        selected = _pin(selected.unionByName(pick))
    return selected.select("query_id", "neighbor_id", "rank")


def ivf_build_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "vec_id",
) -> DataFrame:
    """The PERSISTENT half of IVF search: (neighbor_id, cell, embedding) —
    each corpus vector filed under its nearest centroid, vector included so
    a stored index answers probes without touching the corpus table at all
    (the :func:`..dedup.minhash_band_index` pattern for embeddings).

    Store it (plus the centroids) in a catalog; appending a batch's own
    rows — assign against the SAME stored centroids, then append — keeps it
    current, the continuous-ingest shape.  One coarse-quantize pass (|C|
    broadcast dot products per vector, no corpus shuffle) + one id join.
    """
    lists_ = ivf_assign_cells(
        corpus, centroids, id_col, vec_col, n_probe=1,
        centroid_id_col=centroid_id_col,
    ).select(F.col("id").alias("neighbor_id"), "cell")
    return lists_.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias(vec_col)
        ),
        "neighbor_id",
    )


def ivf_topk_against_index(
    lists: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k against STORED inverted lists (:func:`ivf_build_lists`
    output): per query, quantize against the stored centroids, scan only
    the probed cells' list rows, score exactly — IDENTICAL output to
    :func:`ivf_topk` over the corpus with the same centroids (pytest-
    pinned), with the corpus itself never read.

    The production probe shape: queries broadcast with their probe cells;
    the only big relation touched is the stored list table, via an
    equi-join on cell — ~n_probe/|C| of it.
    """
    c = lists.select(
        "neighbor_id", "cell", F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    probes = ivf_assign_cells(
        queries, centroids, query_id_col, vec_col, n_probe=n_probe,
        centroid_id_col=centroid_id_col,
    ).select(F.col("id").alias("query_id"), "cell")
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
        .withColumn("__qn", l2_norm(F.col("__qv")))
        .join(probes, "query_id")
    )
    cand = c.join(q, "cell").dropDuplicates(["query_id", "neighbor_id"])
    return _topk_tail(_score_pairs(cand), k)
