"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant avoids the O(n²) all-pairs comparison.

- exact:   one hash-groupBy shuffle on a 128-bit content hash;
- minhash: shingle→signature entirely in Catalyst expressions (no Python),
  banding → explode(band) → self-join on (band_idx, band_hash) so only
  bucket-colliding pairs are compared;
- simhash: 60-bit sketch (md5-derived by default for cross-engine
  reproducibility; xxhash64 selectable for raw speed) via per-bit majority
  over gram hashes, candidate pairs from identical bands;
- verification joins carry only (id, shingle-set) — narrow shuffles.

The MinHash family uses xxhash64 + independent affine permutations mod a
31-bit prime (the same prime Spark MLlib's MinHashLSH uses): with a, b and
the reduced hash all < 2^31, `a*h + b` stays below 2^63 — no overflow under
ANSI arithmetic, everything in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eodatadown_spark.plans.audit import PYTHON_EVAL, plan_nodes

MINHASH_PRIME = 2038074743  # 31-bit prime (as in Spark MLlib MinHashLSH)
# second independent 31-bit prime for the dual rolling hash: shingle identity
# is tracked as h1*2^31 + h2 (< 2^62, fits a long with no ANSI overflow) so
# Jaccard verification sees ~2^-62 collision odds per shingle pair instead of
# the ~2^-31 a single mod-p hash would give (which inflates Jaccard for 10k+
# shingle documents).
MINHASH_PRIME2 = 2147483629


def _ws_trim(c):
    """Strip leading/trailing whitespace (F.trim strips spaces only)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def _affine_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_perm)
    ]


def _pin(df: DataFrame) -> DataFrame:
    """Materialize a (small) intermediate and truncate its lineage: a
    RELIABLE checkpoint when the session has a checkpoint dir configured
    (recompute-safe — executor loss replays from storage), else an eager
    localCheckpoint.  At cluster scale set
    ``spark.sparkContext.setCheckpointDir(...)``; localCheckpoint pins
    blocks to executors, so losing one kills the job."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Raise a narrow scan's partition count to ``defaultParallelism`` —
    scale UP only, so it is a no-op wherever the input already spans the
    cluster.  Small parquet files scan to a handful of partitions, and any
    CPU-heavy narrow stage downstream (tokenize/hash transforms, Arrow
    mapInPandas kernels) would otherwise run on that handful of cores; the
    10 MB shuffle this inserts is three orders of magnitude cheaper than
    the serialized compute it prevents (measured: q24 sf1.0 warm 11.8 →
    2.9 s).  Plan-build-time decision, mirroring semantic_dedup's explicit
    repartition rationale.

    LEAF-SCAN-ONLY CONTRACT — ENFORCED (r14, ADVICE r13): the partition
    probe materializes ``df.rdd``, and with AQE enabled that finalizes
    the adaptive plan — on a plan with exchanges upstream
    (joins/aggregates) it would EXECUTE those query stages as real jobs
    at plan-build time.  The probe now runs only when the physical plan
    is shuffle-free (a file scan + narrow projections/filters, where
    finalizing the plan is job-free); a shuffle-bearing input is
    returned untouched — it already has a cluster-wide partitioning from
    its own shuffle.  A broadcast join does not repartition its streamed
    scan, so a scan feeding one still gets the floor; its probe runs the
    broadcast's one small collect."""
    # executedPlan() PREPARES but does not execute (under AQE it is the
    # AdaptiveSparkPlan wrapper whose initial plan still shows every
    # Exchange; query stages only run when the plan is materialized) —
    # no jobs here.  sparkPlan() would miss shuffles entirely: it is the
    # pre-EnsureRequirements plan, before exchanges are inserted.
    if plan_nodes(df._jdf.queryExecution().executedPlan().toString())["Exchange"]:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles as an array<string> (space-joined).

    Pure Catalyst, no UDF: shingle[i] = tokens[i..i+k-1] joined by ' ',
    built by zipping k SHIFTED SLICES of the token array.  The obvious
    ``transform(indices, i -> slice(toks, i, k))`` formulation re-evaluates
    the ``toks`` subexpression (a split of the full text) PER ELEMENT —
    the O(tokens²·chars) higher-order-lambda trap this codebase documents
    in shingle_hash_table; the zip form evaluates each slice argument once
    and the lambda touches only its own variables (measured 3× end-to-end
    on gram-heavy consumers).
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(_ws_trim(c)), "\\s+")
    n = F.size(toks)
    m = F.greatest(n - k + 1, F.lit(1))  # shingle count when n >= k
    parts = [F.slice(toks, j + 1, m) for j in range(k)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    shingles = F.when(n >= k, grams).otherwise(
        F.array(F.array_join(toks, " "))
    )
    return F.array_distinct(shingles)


# polynomial-rolling base for numeric shingle combination (< 2^31 so every
# intermediate product stays under 2^63 after pmod reduction)
_SHINGLE_BASE = 1_000_003


def shingle_hash_table(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    distinct: bool = True,
    floor: bool = True,
) -> DataFrame:
    """(id, hashes) — distinct word-k-shingle hashes per document, WITHOUT
    materializing shingle strings.

    ``floor=False`` skips the :func:`ensure_min_parallelism` partition
    floor and its planning pass, for a derived input whose semi-join may
    plan as a broadcast over a pinned side, where the exchange guard
    would still probe.

    ``distinct=False`` skips the per-document array_distinct pass and
    returns the raw shingle-hash stream in document order.  Min-wise
    consumers (minhash signatures: min over a multiset == min over its set)
    get identical results one whole-corpus hash-set pass cheaper; set
    consumers (Jaccard verification) need the default.

    Each token hashes once into TWO independent 31-bit streams (xxhash64 with
    distinct salts, reduced mod two primes); a shingle hash is the pair of
    polynomial rolls combined as h1*2^31 + h2 — a 62-bit identity, so set
    operations (Jaccard verification) see ~2^-62 collision odds per pair while
    every intermediate product stays under 2^63 (ANSI-overflow-safe).

    The token-hash array is materialized at a projection boundary before the
    rolling transform: referencing a *subexpression* inside a higher-order
    lambda re-evaluates it per element (O(n²) per doc — measured 6x slower),
    while referencing a projected column reads it once.
    """
    if floor:
        documents = ensure_min_parallelism(documents)
    # tokenization materializes ONCE at its own projection boundary: the two
    # hash-stream transforms below each reference the projected column, so
    # the regex split/lower/trim runs once per doc instead of once per
    # stream (referencing the expression directly would inline and
    # re-evaluate it)
    tokenized = documents.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(_ws_trim(F.col(text_col))), "\\s+").alias("__toks"),
    )
    toks = F.col("__toks")
    # TWO primitive long arrays, not one array<struct>: element_at on a
    # primitive array is a specialized UnsafeArrayData read in codegen,
    # while struct-field extraction pays per-element object overhead
    staged = tokenized.select(
        "id",
        F.transform(
            toks, lambda t: F.pmod(F.xxhash64(t), F.lit(MINHASH_PRIME))
        ).alias("__th1"),
        F.transform(
            toks, lambda t: F.pmod(F.xxhash64(F.lit(1), t), F.lit(MINHASH_PRIME2))
        ).alias("__th2"),
    )
    th1, th2 = F.col("__th1"), F.col("__th2")
    n = F.size(th1)

    def roll(i):
        acc1 = F.element_at(th1, i + 1)
        acc2 = F.element_at(th2, i + 1)
        for j in range(1, k):
            acc1 = F.pmod(
                acc1 * F.lit(_SHINGLE_BASE) + F.element_at(th1, i + 1 + j),
                F.lit(MINHASH_PRIME),
            )
            acc2 = F.pmod(
                acc2 * F.lit(_SHINGLE_BASE) + F.element_at(th2, i + 1 + j),
                F.lit(MINHASH_PRIME2),
            )
        return acc1 * F.lit(1 << 31) + acc2

    full = F.transform(F.sequence(F.lit(0), n - k), roll)
    # short docs (< k tokens): single whole-doc hash, matching word_shingles'
    # single-shingle behavior
    def whole_doc_roll(th, prime):
        return F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, t: F.pmod(acc * F.lit(_SHINGLE_BASE) + t, F.lit(prime)),
        )

    short = F.array(
        whole_doc_roll(th1, MINHASH_PRIME) * F.lit(1 << 31)
        + whole_doc_roll(th2, MINHASH_PRIME2)
    )
    raw = F.when(n >= k, full).otherwise(short)
    return staged.select(
        "id",
        (F.array_distinct(raw) if distinct else raw).alias("hashes"),
    )


def minhash_signature(hashes: Column, num_perm: int = 32, seed: int = 42) -> Column:
    """array<bigint> signature: sig[i] = min over shingle hashes of
    (a_i*(h mod p) + b_i) mod p.  The incoming 62-bit shingle identity is
    reduced mod p first so a, b, h' < 2^31 and the product fits a long under
    ANSI arithmetic; all of it stays in whole-stage codegen.

    Computed as ONE aggregate pass over the shingle array (element-wise
    least against all num_perm permutations at once) rather than num_perm
    separate transform+array_min scans.  The mod-p reduction is hoisted to a
    separate transform pass so it runs once per shingle, not num_perm times
    (each array element inlines and re-evaluates its subexpressions)."""
    params = _affine_params(num_perm, seed)

    def perms(hr):
        return F.array(
            *[F.pmod(F.lit(a) * hr + F.lit(b), F.lit(MINHASH_PRIME)) for a, b in params]
        )

    reduced = F.transform(hashes, lambda h: F.pmod(h, F.lit(MINHASH_PRIME)))
    return F.aggregate(
        reduced,
        F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_perm),
        lambda acc, hr: F.zip_with(acc, perms(hr), lambda x, y: F.least(x, y)),
    )


def _exact_jaccard_filter(
    pairs: DataFrame, hashes: DataFrame, threshold: float
) -> DataFrame:
    """Shared exact-verification tail: attach both sides' distinct shingle-
    hash sets to the candidate pairs, compute exact Jaccard, filter →
    (id_a, id_b, jaccard).  ``hashes`` is a (id, hashes) relation covering
    at least every candidate id."""
    with_sets = pairs.join(
        hashes.select(F.col("id").alias("id_a"), F.col("hashes").alias("sh_a")),
        "id_a",
    ).join(
        hashes.select(F.col("id").alias("id_b"), F.col("hashes").alias("sh_b")),
        "id_b",
    )
    # |a ∪ b| = |a| + |b| - |a ∩ b| (both sides already distinct) — only the
    # intersection array is built; the size is materialized at a projection
    # boundary so the intersect runs once, not once per reference
    jac = with_sets.withColumn(
        "__ni", F.size(F.array_intersect("sh_a", "sh_b"))
    ).withColumn(
        "jaccard",
        F.col("__ni").cast("double")
        / (F.size("sh_a") + F.size("sh_b") - F.col("__ni")),
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def minhash_band_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The persistent half of continuous near-dup detection: the banded
    LSH index rows (id, band_idx, band_hash) for a corpus — bands narrow
    rows per document, the relation :func:`minhash_neardup_against_index`
    probes with each new batch.  Store it (plus
    :func:`shingle_hash_table`'s (id, hashes) fingerprints) in a catalog
    table; appending a batch's own index rows keeps it current.

    Parameters (k / num_perm / bands / seed) are part of the index
    identity — probe with the same values or collisions are meaningless.
    """
    # signature fold and band structs as JVM-parsed SQL text (r13): the
    # py4j construction of 32 affine permutations + 8 band structs cost
    # ~0.6 s per invocation (measured warm) — the parsed trees are the
    # exact expressions minhash_signature/F.struct built, so signatures
    # and band hashes are bit-identical (q24's exact-Jaccard oracle and
    # the stored-index tests re-prove it)
    params = _affine_params(num_perm, seed)
    perms_sql = ",".join(
        f"pmod({a}L*hr+{b}L,{MINHASH_PRIME}L)" for a, b in params
    )
    sig_sql = (
        f"aggregate(transform(hashes,h->pmod(h,{MINHASH_PRIME}L)),"
        f"array_repeat(CAST({MINHASH_PRIME} AS BIGINT),{num_perm}),"
        f"(acc,hr)->zip_with(acc,array({perms_sql}),(x,y)->least(x,y)))"
    )
    sig = shingle_hash_table(
        documents, id_col, text_col, k, distinct=False
    ).withColumn("sig", F.expr(sig_sql))
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"
    bands_sql = "array(" + ",".join(
        "named_struct('band_idx',{i},'band_hash',xxhash64({cols}))".format(
            i=i,
            cols=",".join(
                f"element_at(sig,{i * rows_per_band + j + 1})"
                for j in range(rows_per_band)
            ),
        )
        for i in range(bands)
    ) + ")"
    return sig.select(F.explode(F.expr(bands_sql)).alias("bh"), "id").select(
        "id", "bh.band_idx", "bh.band_hash"
    )


def minhash_neardup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup detection: pairs (id_a, id_b, jaccard) where at
    least one side is a NEW document — new-vs-corpus and new-vs-new — by
    probing a STORED LSH index instead of re-banding the corpus.

    The continuous-dedup production shape: per batch the work is the new
    docs' shingling/banding plus an equi-join of the (tiny) new band rows
    against the stored index on (band_idx, band_hash) — the 100 TB corpus
    is touched only through index rows that share a band bucket with the
    batch and through the fingerprint rows of actual candidates.  Output
    is IDENTICAL to running :func:`minhash_neardup_pairs` over old ∪ new
    and keeping pairs with a new endpoint (q117 proves it against the
    all-pairs oracle).

    ``index`` is :func:`minhash_band_index` output for the existing
    corpus, ``fingerprints`` the matching :func:`shingle_hash_table`
    (id, hashes) relation — both typically catalog tables the caller
    appends each batch's rows to afterwards.  Parameters must match the
    ones the index was built with.
    """
    new_banded = _pin(
        minhash_band_index(new_docs, id_col, text_col, k, num_perm, bands, seed)
    )
    all_banded = index.select("id", "band_idx", "band_hash").unionByName(
        new_banded
    )
    raw = (
        new_banded.alias("l")
        .join(all_banded.alias("r"), ["band_idx", "band_hash"])
        .where(F.col("l.id") != F.col("r.id"))
    )
    pairs = _pin(
        raw.select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
        ).dropDuplicates(["id_a", "id_b"])
    )
    new_fps = shingle_hash_table(new_docs, id_col, text_col, k)
    all_fps = fingerprints.select("id", "hashes").unionByName(new_fps)
    out = _exact_jaccard_filter(pairs, all_fps, jaccard_threshold)
    return _pin(out)


def _banded_candidate_pairs(
    banded: DataFrame, candidate_salts: int | None, seed: int
) -> DataFrame:
    """Raw (pre-dedup) candidate pairs from a banded LSH index self-join.

    With ``candidate_salts=s`` the self-join is salted: left rows take one
    pseudo-random salt, right rows replicate across all ``s`` salts —
    every (l, r) bucket pair matches exactly once (at the left row's
    salt), so output is IDENTICAL while each hot bucket's |bucket|² pair
    generation spreads over ``s`` reducers.  Exposed as a module-level
    helper so skew tests can measure per-reducer row counts directly via
    ``spark_partition_id`` on this exact join.
    """
    if candidate_salts and candidate_salts > 1:
        lhs = banded.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(candidate_salts)),
        )
        rhs = banded.withColumn(
            "__salt",
            F.explode(
                F.array(*[F.lit(i).cast("bigint") for i in range(candidate_salts)])
            ),
        )
        return (
            lhs.alias("l")
            .join(rhs.alias("r"), ["band_idx", "band_hash", "__salt"])
            .where(F.col("l.id") < F.col("r.id"))
        )
    return (
        banded.alias("l")
        .join(banded.alias("r"), ["band_idx", "band_hash"])
        .where(F.col("l.id") < F.col("r.id"))
    )


def minhash_neardup_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
    candidate_salts: int | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Plan shape: project → explode(bands) → shuffle on (band, band_hash) →
    groupBy bucket self-pair → verify on shingle sets.  Candidate volume is
    bounded by bucket collisions, not n² — the standard LSH scale path.

    Nothing corpus-sized is ever cached: signatures are computed from the
    RAW (non-distinct) shingle-hash stream — min over a multiset equals min
    over its set, so signatures are bit-identical while the whole-corpus
    array_distinct pass disappears — and exact verification recomputes
    distinct shingle sets ONLY for candidate documents (corpus ⋉ candidate
    ids, AQE-broadcast when the id set is small).  That replaces the old
    persist-the-whole-shingle-table design: at 100 TB the derived shingle
    arrays dwarf executor storage, while the candidate set is bounded by
    LSH bucket collisions.

    The candidate and verified pair sets are pinned (:func:`_pin`): both
    are narrow, collision-bounded relations, and pinning them keeps the
    LSH pipeline from re-running per downstream reference.

    Hot-bucket skew (boilerplate-heavy corpora put thousands of docs in one
    band bucket, and the self-join emits |bucket|² candidate pairs through a
    single reducer):

    - ``candidate_salts=s`` spreads each bucket's pair generation over ``s``
      reducers (left side salted, right side replicated ×s) — identical
      output, bounded reducer size.
    - ``max_band_bucket=m`` DROPS buckets with more than ``m`` members before
      pairing — a documented recall trade (members of an oversized bucket can
      still pair via their other ``bands-1`` buckets, so true near-dups
      usually survive; exact-duplicate mega-clusters are better handled by
      exact_dedup first).
    """
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"

    # the banded LSH index (band join carries ONLY (band, id) — the
    # shingle-hash arrays re-attach to the deduped candidate pairs
    # afterwards, so the wide arrays are never replicated × bands through
    # the shuffle).  Pinned before the self-join: the join references
    # `banded` on BOTH sides, and without materialization each side
    # re-runs the whole shingle+signature pipeline (the broadcast side has
    # no exchange for Catalyst to reuse) — measured 2× the signature cost
    # at sf0.1.  The index is bands narrow rows per doc (two longs + id),
    # the classic LSH materialization point — the same relation
    # minhash_band_index persists for the incremental path.
    banded = _pin(
        minhash_band_index(documents, id_col, text_col, k, num_perm, bands, seed)
    )
    if max_band_bucket is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("__bn", F.count("*").over(wb))
            .where(F.col("__bn") <= max_band_bucket)
            .drop("__bn")
        )
    raw_pairs = _banded_candidate_pairs(banded, candidate_salts, seed)
    pairs = raw_pairs.select(
        F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
    ).dropDuplicates(["id_a", "id_b"])
    # pin the candidate set so (a) the id-set semi-join below replays only
    # the cheap join-over-pinned-index, and (b) downstream references
    # replay verification only, never candidate generation
    pairs = _pin(pairs)
    # exact-Jaccard verification over the hashed shingle sets (62-bit dual
    # rolling hashes — ~2^-62 collision odds per shingle pair, genuinely
    # negligible even for 10k+-shingle documents, so this equals the
    # string-level Jaccard and is oracle-checked against it via q24).
    # Distinct shingle sets are recomputed ONLY for candidate documents:
    # corpus ⋉ candidate-ids, which AQE plans as a broadcast semi-join
    # whenever the collision-bounded id set is small (the normal case) —
    # the full corpus never shuffles and no derived table is ever stored.
    # the candidate-id column takes a reserved name so the join condition
    # stays unambiguous even when the caller's id_col is literally "id"
    cand_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("__cand_id")
    ).distinct()
    cand_docs = documents.join(
        cand_ids, F.col(id_col) == F.col("__cand_id"), "left_semi"
    )
    # floor=False: cand_docs's semi-join may plan as a broadcast of the
    # pinned candidate ids, which leaves no Exchange for the partition
    # floor's guard to see, so its probe would run (see shingle_hash_table).
    # The semi-join output inherits the corpus scan's parallelism anyway.
    subset = shingle_hash_table(cand_docs, id_col, text_col, k, floor=False)
    out = _exact_jaccard_filter(pairs, subset, jaccard_threshold)
    # pin the (small) verified pair set too — candidate generation is
    # already pinned above, so this adds only the cheap verification job
    # and gives downstream iterative consumers a fully-materialized result
    return _pin(out)


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per content hash.  One shuffle on
    the hash key.

    Multi-column content hashes md5 over a JSON encoding of the column
    struct, NOT a separator-joined concatenation: any in-band separator can
    itself occur in the data, making e.g. ``("ab<sep>c", "d")`` collide with
    ``("ab", "c<sep>d")`` — two distinct documents silently dedup into one
    (data loss at scale).  JSON quotes and escapes every value, keeping
    column boundaries unambiguous, and distinguishes NULL (omitted field)
    from empty string.  The common single-column case hashes md5(col)
    directly so the key stays engine-portable (equals ANSI ``md5(text)``).
    """
    if len(content_cols) == 1:
        key = F.md5(F.col(content_cols[0]))
    else:
        key = F.md5(F.to_json(F.struct(*[F.col(c) for c in content_cols])))
    hashed = df.withColumn("__h", key)
    from pyspark.sql import Window

    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def simhash_sketches(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_grams: int = 2,
    n_bits: int = 60,  # 15 md5 hex chars; sketch stays non-negative in a long
    gram_hash: str = "md5",
) -> DataFrame:
    """60-bit SimHash per document: bit j is the sign of sum over grams of
    (gram_hash bit j ? +1 : -1).

    The input is raised to the session's default parallelism first
    (:func:`ensure_min_parallelism`): the per-gram md5 + the 60 conditional
    partial sums all run MAP-side, so a small-file scan's 3 partitions
    silently serialize the whole sketch computation onto 3 cores (measured
    44 s vs 4 s at sf1.0).

    ``gram_hash="md5"`` (default) takes the first 15 hex chars of md5: md5
    produces identical hex in every engine, so the FULL sketch is
    recomputable in ANSI SQL and the q25 driver check is a value oracle, not
    a rows-only count — and any downstream consumer can re-verify sketches
    outside Spark.  ``gram_hash="xxhash64"`` swaps in the non-cryptographic
    hash for raw per-gram speed when cross-engine reproducibility isn't
    needed (same sketch semantics, different bit values).

    Plan shape: explode grams → one hash column → groupBy(doc) with `n_bits`
    vectorized conditional sums → bit re-assembly.  One shuffle on the doc
    id; every expression is codegen'd — the scalable formulation (the
    all-in-one array-expression variant blows up the expression tree).
    Returns (id, sim).
    """
    if gram_hash == "md5":
        h = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
    elif gram_hash == "xxhash64":
        # mask to n_bits so the sketch stays non-negative in a signed long
        h = F.shiftrightunsigned(F.xxhash64("g"), 64 - n_bits)
    else:
        raise ValueError(f"unknown gram_hash {gram_hash!r}")
    documents = ensure_min_parallelism(documents)
    grams = documents.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, k_grams)).alias("g"),
    ).withColumn("h", h)
    # the n_bits per-bit sums and the bit reassembly are built as SQL
    # TEXT parsed JVM-side (r13): constructing 60 conditional sums + 60
    # bit terms through py4j Column calls cost ~1.4 s per sketch pass
    # (measured — twice the execution time at sf0.1); the parsed trees
    # are the same expressions (sum(CASE WHEN (h & 2^j) != 0 THEN 1
    # ELSE -1 END), OR-chain of CASE bit terms), so sketches are
    # bit-identical (q25's full value oracle re-proves it)
    sums_sql = ",".join(
        f"sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(n_bits)
    )
    sums = grams.groupBy("id").agg(F.expr(f"struct({sums_sql})").alias("__bs"))
    sim_sql = "|".join(
        f"(CASE WHEN __bs.b{j} >= 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(n_bits)
    )
    return sums.select("id", F.expr(sim_sql).alias("sim"))


def _simhash_banded(sk: DataFrame, band_bits: int, n_bits: int) -> DataFrame:
    """(id, sim, t, band) — the sketch split into n_bits/band_bits bands;
    shared by the self-join pair path and the stored-index path."""
    if n_bits % band_bits != 0:
        # an assert would be stripped under -O and silently leave the top
        # bits unbanded (lost recall); fail loudly instead
        raise ValueError(f"band_bits={band_bits} must divide n_bits={n_bits}")
    n_tables = n_bits // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftrightunsigned(F.col("sim"), t * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band"),
            )
            for t in range(n_tables)
        ]
    )
    return sk.select("id", "sim", F.explode(bands).alias("b")).select(
        "id", "sim", "b.t", "b.band"
    )


def simhash_band_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 15,
    n_bits: int = 60,
    gram_hash: str = "md5",
) -> DataFrame:
    """The persistent half of continuous SimHash dedup: banded sketch rows
    (id, sim, t, band) for a corpus — store in a catalog table and probe
    each new batch with :func:`simhash_neardup_against_index`, appending
    the batch's own rows afterwards (the :func:`minhash_band_index`
    pattern; unlike MinHash no separate fingerprint table is needed — the
    sketch itself rides along and verification is one XOR+popcount).
    Parameters are part of the index identity — probe with the same
    values."""
    return _simhash_banded(
        simhash_sketches(documents, id_col, text_col, n_bits=n_bits, gram_hash=gram_hash),
        band_bits, n_bits,
    )


def simhash_neardup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 15,
    n_bits: int = 60,
    gram_hash: str = "md5",
) -> DataFrame:
    """Incremental SimHash near-dup: (id_a, id_b, hamming) pairs with at
    least one NEW endpoint — new-vs-corpus and new-vs-new — by probing a
    STORED band index instead of re-banding the corpus.  Output equals
    :func:`simhash_neardup_pairs` over old ∪ new filtered to
    new-endpoint pairs (the pigeonhole guarantee carries over unchanged:
    it is per-pair, independent of which side is indexed).

    Per batch the work is the new docs' sketching plus an equi-join of
    the batch's band rows against the stored index on (t, band); the
    corpus is touched only through colliding band rows, and verification
    is a single XOR+popcount on the sketches the rows already carry —
    no second table, no fingerprint join (cheaper than the MinHash
    incremental path by construction).
    """
    new_banded = _simhash_banded(
        simhash_sketches(new_docs, id_col, text_col, n_bits=n_bits, gram_hash=gram_hash),
        band_bits, n_bits,
    )
    all_banded = index.select("id", "sim", "t", "band").unionByName(new_banded)
    raw = (
        new_banded.alias("l")
        .join(all_banded.alias("r"), ["t", "band"])
        .where(F.col("l.id") != F.col("r.id"))
    )
    # verify (one XOR+popcount, pure codegen) BEFORE the pair dedup:
    # hamming is a function of the pair, so filtering first is identical —
    # and the dropDuplicates aggregate then shuffles only qualifying pairs
    # instead of every band collision (measured 41M collision rows → a few
    # hundred pairs at sf1.0; the filter-after-dedup order cannot be
    # pushed down by Catalyst because the filter reads an aggregated column)
    return raw.select(
        F.least("l.id", "r.id").alias("id_a"),
        F.greatest("l.id", "r.id").alias("id_b"),
        F.bit_count(
            F.col("l.sim").bitwiseXOR(F.col("r.sim"))
        ).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming).dropDuplicates(["id_a", "id_b"])


def simhash_neardup_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 15,
    n_bits: int = 60,
    gram_hash: str = "md5",
) -> DataFrame:
    """SimHash near-dup: candidates share one of the `n_bits/band_bits` bands
    of the sketch; verified by exact Hamming distance ≤ max_hamming.

    Recall guarantee (pigeonhole): a pair at hamming h has dirty bits in at
    most h bands, so with n_bits/band_bits > max_hamming every qualifying
    pair shares a clean band — banding becomes a pure accelerator and the
    output EQUALS the exact all-pairs result (what q25's value oracle
    asserts, using band_bits=6 → 10 bands > 8).  Wider bands trade that
    guarantee for fewer candidates.
    """
    banded = _simhash_banded(
        simhash_sketches(documents, id_col, text_col, n_bits=n_bits, gram_hash=gram_hash),
        band_bits, n_bits,
    )
    left = banded.select("t", "band", F.col("id").alias("id_a"), F.col("sim").alias("sim_a"))
    right = banded.select("t", "band", F.col("id").alias("id_b"), F.col("sim").alias("sim_b"))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # hamming verify BEFORE the pair dedup — identical output (hamming is
    # pair-deterministic) and the dropDuplicates aggregate shuffles only
    # qualifying pairs, never the full band-collision stream (see
    # simhash_neardup_against_index for the measured blow-up)
    return (
        left.join(right, ["t", "band"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via FULL inverted-index join (no LSH,
    no prefix filter): every shingle is indexed, pairs sharing any shingle
    are candidates — the textbook exact algorithm, and the independent
    witness the property suite compares :func:`jaccard_prefix_pairs`
    against (the prefix/positional pruning is the ONLY difference between
    the two, so their equality isolates exactly the filter math).

    The join enumerates one row per SHARED shingle, so |A∩B| is a plain
    count per (id_a, id_b) — no pair-distinct pass, no re-joining shingle
    arrays, no per-pair intersection: one map-side-combinable aggregate
    plus two joins against the tiny per-doc size table.  Shingles ride as
    62-bit hashes (:func:`shingle_hash_table`, the same front-end as the
    prefix path — every shuffle moves longs, never shingle strings).

    Scale posture: candidate volume is Σ df² over shingle frequencies —
    the inherent cost of indexing boilerplate shingles.  At corpus scale
    use :func:`jaccard_prefix_pairs`; this operator exists for
    verification workloads and as the reference implementation."""
    # the hash table is referenced FOUR times (both join sides + two size
    # joins); pinned so the self-join plans against known (small) sizes and
    # the rolling-hash front-end runs once — unpinned, the join re-evaluates
    # it per candidate (measured 40 s vs 0.8 s at sf0.1)
    base = _pin(shingle_hash_table(documents, id_col, text_col, k, distinct=True))
    sizes = base.select("id", F.size("hashes").alias("sz"))
    inv = base.select("id", F.explode("hashes").alias("sh"))
    inter = (
        inv.alias("l")
        .join(inv.alias("r"), "sh")
        .where(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    jac = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("__sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("__sb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__ni").cast("double")
            / (F.col("__sa") + F.col("__sb") - F.col("__ni")),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def shingle_containment_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup (Broder 1997's second resemblance
    measure): ``c = |A∩B| / min(|A|, |B|)`` over word-``k``-shingle sets —
    flags a snippet fully contained in a larger document, which symmetric
    Jaccard (and Jaccard-tuned LSH banding, whose collision odds TRACK
    Jaccard) structurally under-score: a 12-token quote inside a
    400-token page has Jaccard ≈ 0.03 but containment 1.0.  The
    quote/subset-dup detector a pipeline runs alongside near-dup.

    Same inverted-index skeleton as :func:`ngram_jaccard_pairs` (one row
    per SHARED shingle → count per pair → two size joins; shingles ride
    as 62-bit hashes).  ``max_df`` drops shingles indexed by more than
    that many docs from the CANDIDATE enumeration — the boilerplate cap
    that bounds Σ df² at corpus scale; a true pair is then missed only if
    EVERY shared shingle is corpus-hot (the same contract as
    ngram_novelty's cap).  Intersection counts still come from the capped
    index, so reported containment is exact whenever at least the pair's
    rare shingles survive and ≥ threshold filtering is applied to the
    capped estimate (a LOWER bound — the safe direction for a dedup gate:
    capping can only under-flag, never false-positive).
    """
    base = _pin(shingle_hash_table(documents, id_col, text_col, k, distinct=True))
    sizes = base.select("id", F.size("hashes").alias("sz"))
    inv = base.select("id", F.explode("hashes").alias("sh"))
    if max_df is not None:
        hot = (
            inv.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("sh")
        )
        inv = inv.join(hot, "sh", "left_anti")
    inter = (
        inv.alias("l")
        .join(inv.alias("r"), "sh")
        .where(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    cont = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("__sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("__sb")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("__ni").cast("double") / F.least("__sa", "__sb"),
        )
    )
    return cont.where(F.col("containment") >= threshold).select(
        "id_a", "id_b", F.round("containment", 4).alias("containment")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing at least one word
    k-gram with a benchmark/eval doc → (corpus_id, bench_id, n_shared).

    The GPT-3-style 13-gram collision rule: training corpora are scrubbed of
    documents that overlap evaluation sets, else benchmark scores measure
    memorization.  Scale shape: explode k-grams on BOTH sides and equi-join
    on the gram — the benchmark side is an eval set (tiny relative to the
    corpus), so the join broadcasts it and the corpus side never shuffles;
    n_shared counts distinct colliding grams per (corpus, bench) pair.

    Guard: the broadcast hint is only attached while the benchmark side is
    ≤ ``max_broadcast_rows`` documents (bounded existence probe, one cheap
    job at plan time).  A misuse with two large corpora falls back to a
    plain shuffle equi-join on the gram instead of OOM-ing every executor
    on a forced broadcast.

    The corpus side is raised to the session's default parallelism before
    the k-gram explode (:func:`ensure_min_parallelism`): a small-file scan
    (or a filtered one) can collapse to ONE input partition, silently
    serializing the CPU-heavy shingling onto a single core (measured 5.7 s
    single-threaded vs sub-second spread at sf0.1).
    """
    corpus = ensure_min_parallelism(corpus)
    c_sh = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(word_shingles(text_col, k)).alias("sh"),
    )
    b_sh = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(word_shingles(bench_text_col, k)).alias("sh"),
    )
    import logging

    logging.getLogger(__name__).info(
        "contamination_pairs: running a bounded row-count probe on the "
        "benchmark frame to decide broadcast (re-executes its lineage)"
    )
    small = benchmark.limit(max_broadcast_rows + 1).count() <= max_broadcast_rows
    if small:
        b_sh = F.broadcast(b_sh)
    return (
        c_sh.join(b_sh, "sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )


def substring_contamination(
    corpus: DataFrame,
    needles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    needle_id_col: str = "needle_id",
    needle_col: str = "needle",
) -> DataFrame:
    """Exact-substring contamination: corpus docs containing a benchmark
    needle verbatim → (doc_id, needle_id).

    Complements :func:`contamination_pairs`: the 13-gram rule catches
    paraphrase-scale overlap but misses short exact strings (answer keys,
    canary strings, eval prompts shorter than k tokens), which substring
    containment catches.  Scale shape: needle sets are eval-sized, so the
    needle side broadcasts and the corpus streams through one
    BroadcastNestedLoopJoin with a codegen'd `contains` predicate — no
    shuffle of the corpus, no explode.
    """
    # empty/NULL needles are dropped, not matched: contains(text, '') is
    # TRUE for every document, which would silently mark the whole corpus
    # contaminated
    n = F.broadcast(
        needles.select(
            F.col(needle_id_col).alias("needle_id"), F.col(needle_col).alias("needle")
        ).where(F.length("needle") > 0)
    )
    c = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    return c.join(n, F.contains(F.col("__text"), F.col("needle"))).select(
        "doc_id", "needle_id"
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop corpus docs contaminated by the benchmark (≥ min_shared common
    k-grams) — anti-join on the contaminated id set."""
    bad = (
        contamination_pairs(corpus, benchmark, k, id_col, text_col)
        .where(F.col("n_shared") >= min_shared)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(bad, id_col, "left_anti")


def neardup_clusters(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_iter: int = 20,
    small_graph_edges: int | None = 1_000_000,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over the
    near-dup pair graph → (doc_id, cluster_id, is_canonical), cluster_id =
    min doc id in the component, canonical = that representative.

    Pair detection alone under-deduplicates: if A~B and B~C, keeping one of
    each pair can still keep two of {A,B,C}.  Training-data dedup keeps ONE
    document per component, so the pipeline step is pairs → components →
    keep-canonical (filter ``is_canonical``).

    Component labels are computed over the PAIR ENDPOINTS only — documents
    in no pair are singletons by definition and join their own-id labels
    back relationally, so the iterative state is collision-bounded
    (|pairs|-proportional), never corpus-sized: at 100 TB the label table
    the rounds iterate over holds the docs with at least one near-dup, not
    every document.  Within that subgraph the strategy is size-gated like
    :func:`update_clusters`: at or under ``small_graph_edges`` a
    driver-side union-find resolves components in one collect; above it,
    min-label propagation runs distributed — each round two
    key-partitioned equi-joins + one aggregate, converging in O(component
    diameter) rounds (near-dup components are small and dense), per-round
    lineage truncated via a reliable checkpoint when the session has a
    checkpoint dir, else localCheckpoint (the :func:`_pin` policy
    :func:`minhash_neardup_pairs` pins with).
    Labels are min-ids in both strategies — identical, deterministic.
    """
    if pairs is None:
        # prefix-filtered exact join — IDENTICAL pair set to
        # ngram_jaccard_pairs (q131/q152 oracle-proven) at a fraction of
        # the candidate volume; the full inverted index stays available by
        # passing pairs=ngram_jaccard_pairs(...) explicitly
        pairs = jaccard_prefix_pairs(documents, id_col, text_col, k, threshold)
    doc_ids = documents.select(F.col(id_col).alias("__did"))
    # restrict to endpoints drawn from `documents` — out-of-corpus
    # endpoints were inert in the old corpus-wide propagation (no label to
    # carry), so dropping their edges preserves semantics exactly
    pairs_plan = (
        pairs.select("id_a", "id_b")
        .join(doc_ids, F.col("id_a") == F.col("__did"), "left_semi")
        .join(doc_ids, F.col("id_b") == F.col("__did"), "left_semi")
        .distinct()
    )
    # Strategy decision and edge fetch share ONE execution of the pair
    # plan (r13 fused them into one bounded collect; r14 closes the
    # ADVICE r13 medium hole): the bounded limit/collect used to execute
    # the full pair plan, and a > cutoff graph then RE-executed the same
    # plan from scratch inside _pin — the most expensive computation ran
    # twice exactly on large-graph inputs.  A SCOPED persist (created
    # and dropped inside this call — never a cross-run cache) fixes it
    # without adding an action: the probe's collect populates the cache
    # as it executes, the small path proceeds exactly as before (one
    # action), and on the large path the _pin reads cached partitions
    # and — because the InMemoryRelation holds the materialized child
    # RDD — reuses the probe's shuffle files for the rest, so the map
    # stages never run twice.  The endpoint set (== the node set here,
    # by construction) falls out locally for free.  Labels are
    # unchanged: min id per component, deterministic.
    edge_rows = None
    cached = None
    if small_graph_edges is not None:
        cached = pairs_plan.persist()
        head = cached.limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            edge_rows = [(r[0], r[1]) for r in head]
    if edge_rows is not None:
        cached.unpersist()
        node_ids = sorted({x for e in edge_rows for x in e})
        id_type = pairs_plan.schema["id_a"].dataType.simpleString()
        labels = documents.sparkSession.createDataFrame(
            _union_find_label_rows(node_ids, edge_rows),
            schema=f"id {id_type}, lbl {id_type}",
        )
    else:
        pairs = _pin(cached if cached is not None else pairs_plan)
        if cached is not None:
            cached.unpersist()
        nodes = _pin(
            pairs.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
        )
        edges = _pin(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .union(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            )
            .distinct()
        )
        labels = _min_label_components(
            nodes.withColumn("lbl", F.col("id")), edges, max_iter
        )
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(labels, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id"),
            (
                F.coalesce(F.col("lbl"), F.col("doc_id")) == F.col("doc_id")
            ).alias("is_canonical"),
        )
    )


def _min_label_components(
    labels: DataFrame, edges: DataFrame, max_iter: int
) -> DataFrame:
    """Min-label propagation to a fixed point over (id, lbl) / (src, dst)
    — the shared core of :func:`neardup_clusters` and
    :func:`update_clusters`; raises loudly on non-convergence."""
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = _pin(
            labels.join(neighbor_min, labels["id"] == neighbor_min["dst"], "left")
            .select(
                F.col("id"),
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
        )
        # labels only ever decrease → equal sum means a fixed point
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # silent truncation would split one true component into several
        # clusters and keep extra "canonicals" — fail loudly instead
        raise RuntimeError(
            f"label propagation did not converge in {max_iter} rounds; a "
            "component's diameter exceeds max_iter — raise max_iter for "
            "long-chain duplicate families"
        )
    return labels


def update_clusters(
    assignments: DataFrame,
    new_pairs: DataFrame,
    new_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
    small_graph_edges: int | None = 1_000_000,
) -> DataFrame:
    """Incremental cluster maintenance: fold a new batch's near-dup pairs
    into STORED cluster assignments, re-resolving only the components the
    batch touches → the same (doc_id, cluster_id, is_canonical) shape.

    The continuous-dedup tail: :func:`minhash_neardup_against_index` (or
    :func:`..multimodal.phash_neardup_against_index`) yields the batch's
    pairs-with-a-new-endpoint; this folds them into the stored
    assignment table without re-walking the corpus graph:

    - clusters with NO endpoint in the batch are copied through frozen —
      at 100 TB the overwhelming majority; the work is proportional to
      the touched components, not the corpus;
    - old connectivity inside touched clusters is carried by STAR EDGES
      (member → its stored cluster_id), which reproduce each old
      component exactly without storing the original pair set;
    - min-label propagation over star ∪ new edges then yields labels
      IDENTICAL to a full recompute over (all old pairs ∪ new pairs),
      because labels are min-ids and star edges preserve connectivity —
      deterministic, so q150 hash-checks incremental == full recompute.

    ``new_docs`` (optional, (id_col)-shaped) registers batch documents
    with no pairs so they surface as singleton clusters.

    ``small_graph_edges`` — runtime strategy switch (the AQE-broadcast
    pattern): the touched subgraph is BATCH-proportional by construction
    (star edges + the batch's pairs), so when its edge count is at or
    under the cutoff (default 1M edges ≈ a few hundred MB collected — far
    under driver headroom) the components resolve with a driver-side
    union-find — one collect + one createDataFrame instead of
    O(diameter) join/agg rounds.  Labels are identical (min id per
    component, deterministic).  Above the cutoff — a mega-component, or
    a huge batch — the distributed min-label propagation runs as before.
    ``None`` forces the distributed path.
    """
    # pin the batch pair set ONCE: it is referenced by the touched-node
    # explode and twice by the symmetric edge union — an unpinned caller
    # plan (e.g. a prefix-join pipeline) would re-execute per reference.
    # CONDITIONAL since r14: every production caller (q150/q156, the
    # bench probes, the streaming apply_*_batch folds) passes a pair set
    # the probe operator ALREADY pinned, so the
    # defensive pin re-materialized a narrow projection of a pinned RDD
    # — one redundant localCheckpoint job per fold.  The pin now runs
    # only when the pairs plan carries an exchange or a Python UDF
    # (executedPlan() PREPARES without executing — the
    # ensure_min_parallelism idiom): a narrow plan over a pinned/scanned
    # leaf re-executes per reference cheaper than one materialization
    # job, while any join/aggregate-bearing plan (the case the pin
    # exists for) or a per-row Python call still pins.  Unlike
    # ensure_min_parallelism, which asks only about the output's
    # partitioning (so only a shuffle counts), this asks what a
    # re-execution costs: a broadcast (or reused) exchange re-runs its
    # build side, so every kind of exchange counts here.  Purely an
    # execution-strategy choice — rows are identical either way.
    new_pairs = new_pairs.select("id_a", "id_b")
    nodes = plan_nodes(new_pairs._jdf.queryExecution().executedPlan().toString())
    if any(k.endswith("Exchange") or k in PYTHON_EVAL for k in nodes):
        new_pairs = _pin(new_pairs)
    touched = new_pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("__tid")
    ).distinct()
    if new_docs is not None:
        touched = touched.unionByName(
            new_docs.select(F.col(id_col).alias("__tid"))
        ).distinct()
    # touched is referenced twice (affected probe + node union) but is a
    # trivial explode+distinct over the PINNED batch pairs — re-deriving
    # it costs less than a materialization job at every scale (r13; the
    # expensive multi-reference relation here is new_pairs, which stays
    # pinned)
    affected = (
        assignments.join(touched, F.col(id_col) == F.col("__tid"), "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = assignments.join(affected, "cluster_id", "left_semi")
    frozen = assignments.join(affected, "cluster_id", "left_anti")
    star = members.where(F.col(id_col) != F.col("cluster_id")).select(
        F.col(id_col).alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    pairs_plan = star.unionByName(new_pairs.select("id_a", "id_b")).distinct()
    nodes_plan = (
        members.select(F.col(id_col).alias("id"))
        .unionByName(touched.select(F.col("__tid").alias("id")))
        .distinct()
    )
    # Strategy decision (r13 fused the collects; r14 closes the ADVICE
    # r13 medium hole with a SCOPED persist — see neardup_clusters): the
    # pair plan (star ∪ batch pairs, distinct) executes ONCE; the
    # bounded probe populates the cache, the small path stays one
    # action, and a > cutoff touched subgraph's _pin reads the cache /
    # reuses the probe's shuffle files instead of re-running the plan.
    # Node labels resolve RELATIONALLY: a node with no edge (a touched
    # singleton cluster, or a pair-free new doc) keeps its own id —
    # exactly what min-label propagation gives an isolated node — so the
    # endpoint-only union-find labels left-join onto the node relation
    # with a coalesce-to-own-id, and the separate nodes collect is gone.
    edge_rows = None
    cached = None
    if small_graph_edges is not None:
        cached = pairs_plan.persist()
        head = cached.limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            edge_rows = [(r[0], r[1]) for r in head]
    if edge_rows is not None:
        cached.unpersist()
        node_ids = sorted({x for e in edge_rows for x in e})
        id_type = nodes_plan.schema[0].dataType.simpleString()
        labels = assignments.sparkSession.createDataFrame(
            _union_find_label_rows(node_ids, edge_rows),
            schema=f"id {id_type}, lbl {id_type}",
        )
    else:
        pairs = _pin(cached if cached is not None else pairs_plan)
        if cached is not None:
            cached.unpersist()
        nodes = _pin(nodes_plan)
        edges = _pin(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
            .distinct()
        )
        labels = _min_label_components(
            _pin(nodes.withColumn("lbl", F.col("id"))), edges, max_iter
        )
        nodes_plan = nodes  # resolved reads the pinned node set below
    resolved = (
        nodes_plan.join(labels, nodes_plan["id"] == labels["id"], "left")
        .select(
            nodes_plan["id"].alias(id_col),
            F.coalesce(F.col("lbl"), nodes_plan["id"]).alias("cluster_id"),
            (
                F.coalesce(F.col("lbl"), nodes_plan["id"]) == nodes_plan["id"]
            ).alias("is_canonical"),
        )
    )
    return frozen.select(id_col, "cluster_id", "is_canonical").unionByName(
        resolved
    )


def _union_find_label_rows(node_ids, edge_rows) -> list[tuple]:
    """(id, lbl) rows — min id per connected component — via driver-side
    union-find over a PRE-CHECKED small edge list (path-halving find +
    min-id union, O(E·α)).  Same labels as :func:`_min_label_components`
    without its O(diameter) join/agg rounds; only valid when the caller
    bounded the edge count (the small_graph_edges gates), never over a
    corpus-scale graph."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for nid in node_ids:
        parent[nid] = nid
    for a, b in edge_rows:
        if a not in parent or b not in parent:
            # an endpoint outside `node_ids` cannot occur from the callers'
            # construction; the distributed propagation treats such edges
            # as inert (no label to propagate), so skip for exact parity
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id survives as root
    return [(nid, find(nid)) for nid in node_ids]


def cdc_chunks(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    divisor: int = 64,
    impl: str = "arrow",
) -> DataFrame:
    """Content-defined chunking: split each document at positions where the
    ``window``-char rolling hash ≡ 0 (mod ``divisor``) → (id, chunk_idx,
    chunk, chunk_fp) rows.

    Boundaries depend only on LOCAL content, so inserting a paragraph shifts
    every byte offset but leaves all other chunk fingerprints intact — the
    property that lets chunk-level dedup catch duplicated passages at
    arbitrary offsets, where word-shingle MinHash sees one near-dup pair and
    exact dedup sees nothing.  The storage-dedup technique (LBFS/rsync
    lineage) applied to corpus text.

    Cut RULE (engine-portable, no sequential scan state): cut after every
    position i in [0, n-window] whose hash divides — no min-length
    suppression, so each position's boundary decision is independent and any
    ANSI engine reproduces it (q101's oracle recomputes chunks in SQL).
    Expected chunk length ≈ ``divisor`` chars.  Docs shorter than ``window``
    (after normalization) form one whole-doc chunk; empty-normalized docs
    emit nothing.

    Two implementations with BIT-IDENTICAL output (the window hash is the
    same polynomial mod p whether accumulated stepwise or as the
    power-weighted sum — mod is a ring homomorphism; proven equal row-for-
    row in tests and by q101's oracle):

    - ``impl="arrow"`` (default): normalization stays a Spark expression,
      the per-position window hashes run as a vectorized numpy kernel
      inside ``mapInPandas`` (window shifted-array multiply-adds in C) —
      measured 3.8× the Catalyst variant at sf0.1.  No shuffle either way;
      Arrow batch transfer of the narrow (id, normalized-text) projection.
    - ``impl="sql"``: pure Catalyst expression work (O(n·window) codegen
      ops per doc) — zero Python, fully engine-portable, the reference
      formulation the oracle mirrors.
    """
    if impl not in ("arrow", "sql"):
        raise ValueError(f"unknown cdc_chunks impl {impl!r}")
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "")
    staged = ensure_min_parallelism(
        documents.select(
            F.col(id_col).alias("id"), norm.alias("__norm")
        ).where(F.length("__norm") > 0)
    )
    if impl == "arrow":
        import numpy as np

        # the mapInPandas schema carries the CALLER's id dtype (string keys
        # etc. work identically to the sql path, which preserves it via
        # alias) — only chunk_idx/chunk are fixed
        id_type = documents.schema[id_col].dataType.simpleString()
        pows = [
            pow(_SHINGLE_BASE, window - 1 - j, MINHASH_PRIME)
            for j in range(window)
        ]

        def cut_and_slice(batches):
            import pandas as pd

            for pdf in batches:
                out_id, out_idx, out_chunk = [], [], []
                for did, s in zip(pdf["id"], pdf["__norm"]):
                    # normalized text is [a-z0-9 ] only — ascii-safe
                    c = np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(
                        np.int64
                    )
                    n = len(c)
                    if n < window:
                        bounds = [0, n]
                    else:
                        m = n - window + 1
                        h = np.zeros(m, dtype=np.int64)
                        for j in range(window):
                            h = (h + c[j:j + m] * pows[j]) % MINHASH_PRIME
                        cutpos = np.flatnonzero(h % divisor == 0) + window
                        bounds = sorted({0, n, *(int(x) for x in cutpos)})
                    for k in range(len(bounds) - 1):
                        out_id.append(did)
                        out_idx.append(k)
                        out_chunk.append(s[bounds[k]:bounds[k + 1]])
                yield pd.DataFrame(
                    {"id": out_id, "chunk_idx": out_idx, "chunk": out_chunk}
                )

        return staged.mapInPandas(
            cut_and_slice, f"id {id_type}, chunk_idx int, chunk string"
        ).select(
            F.col("id").alias(id_col),
            "chunk_idx",
            "chunk",
            F.md5(F.col("chunk")).alias("chunk_fp"),
        )
    # codepoint array materializes ONCE at a projection boundary (higher-
    # order lambdas re-evaluate inlined subexpressions per element)
    staged = staged.select(
        "id",
        "__norm",
        F.transform(
            F.filter(F.split(F.col("__norm"), ""), lambda c: c != ""),
            lambda c: F.ascii(c).cast("long"),
        ).alias("__codes"),
    )
    codes, n = F.col("__codes"), F.size("__codes")

    def win_hash(i):
        return F.aggregate(
            F.slice(codes, i + 1, window),
            F.lit(0).cast("long"),
            lambda acc, c: F.pmod(
                acc * F.lit(_SHINGLE_BASE) + c, F.lit(MINHASH_PRIME)
            ),
        )

    cut_candidates = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.when(
            F.pmod(win_hash(i), F.lit(divisor)) == 0, i + window
        ).otherwise(F.lit(-1)),
    )
    cuts = F.filter(cut_candidates, lambda x: x != -1)
    # cut list is ascending by construction; bound with 0 and n, then drop
    # degenerate repeats (a cut AT n duplicates the end bound)
    bounds = F.array_distinct(
        F.concat(F.array(F.lit(0).cast("long")), cuts.cast("array<long>"), F.array(n.cast("long")))
    )
    staged = staged.withColumn(
        "__bounds", F.when(n >= window, bounds).otherwise(F.array(F.lit(0).cast("long"), n.cast("long")))
    )
    b = F.col("__bounds")
    chunks = F.transform(
        F.sequence(F.lit(0), F.size(b) - 2),
        lambda j: F.substring(
            F.col("__norm"),
            (F.element_at(b, j + 1) + 1).cast("int"),
            (F.element_at(b, j + 2) - F.element_at(b, j + 1)).cast("int"),
        ),
    )
    exploded = staged.select(
        "id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    return exploded.select(
        F.col("id").alias(id_col),
        "chunk_idx",
        "chunk",
        F.md5(F.col("chunk")).alias("chunk_fp"),
    )


def cdc_dup_stats(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Per-document shared-content profile over CDC chunks: (id, n_chunks,
    n_shared) where a chunk is 'shared' when its fingerprint also appears in
    at least one OTHER document.

    Memory-bounded at any skew: distinct (doc, fp) pairs → per-fp doc
    count (plain count, constant-memory partial aggregation) → shared-fp
    set joins back on fp.  A collect_set-over-window formulation would be
    one exchange cheaper but holds every doc id of a fingerprint in one
    reducer's state — a single boilerplate chunk shared by 10⁶ documents
    kills it; this shape never materializes a per-fp id list.  Only
    (fp, id) pairs cross the wire, never chunk text.
    """
    # the (id, fp) projection feeds BOTH the shared-fp aggregate and the
    # flag join; without materialization the O(chars·window) chunking
    # lineage runs twice (the two consumers need different partitionings,
    # so no exchange reuse).  _pin (reliable checkpoint when a checkpoint
    # dir is set, else eager localCheckpoint) rather than persist(): a
    # lazy DataFrame can't unpersist before its consumer runs, and a
    # never-unpersisted cache entry stays registered in the CacheManager
    # for the life of the session — checkpoint blocks are instead released
    # by the ContextCleaner once unreferenced.  Only the narrow (id, fp)
    # pair relation is pinned, never chunk text.
    ch = _pin(
        cdc_chunks(documents, id_col, text_col, window, divisor).select(
            id_col, "chunk_fp"
        )
    )
    shared_fps = (
        ch.dropDuplicates([id_col, "chunk_fp"])
        .groupBy("chunk_fp")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") > 1)
        .select("chunk_fp", F.lit(1).alias("__shared"))
    )
    flagged = ch.join(shared_fps, "chunk_fp", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("__shared"), F.lit(0))).alias("n_shared"),
        )
    )


def cluster_representatives(
    documents: DataFrame,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str | None = None,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware representative selection over near-dup clusters →
    (cluster_id, rep_doc_id, n_members, max_quality).

    :func:`neardup_clusters` keeps the MIN-id member per component — fine
    for idempotence, wrong for data curation, where the kept duplicate
    should be the best one (longest, highest quality score, freshest).
    This operator re-elects each cluster's representative by
    ``quality_col`` descending (ties: lowest id, so election is total),
    the standard "keep best member" step between near-dup clustering and
    the final training-mix write.

    Shape: clusters (doc-dimension-sized, NOT the corpus) join documents
    on id for the quality attribute, then one per-cluster max_by — a
    single shuffle on cluster_id over the members-of-multi-doc-clusters
    subset.  No text moves: only (id, cluster, quality) triples.
    """
    if clusters is None:
        clusters = neardup_clusters(documents, None, id_col, text_col, k, threshold)
    qcol = quality_col or "__quality"
    docs = documents.select(
        F.col(id_col).alias("doc_id"),
        (F.length(_ws_trim(text_col)) if quality_col is None else F.col(quality_col))
        .alias(qcol),
    )
    members = clusters.join(docs, "doc_id")
    # (quality DESC, id ASC) election via a window rather than
    # max_by(struct(q, -id)): negation would break non-numeric id columns
    # (string/UUID ids are valid with caller-supplied clusters), and the
    # count/max ride the same cluster partitioning — still one shuffle
    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.col(qcol).desc(), F.col("doc_id").asc())
    return (
        members.withColumn("__rn", F.row_number().over(wr))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("max_quality", F.max(qcol).over(wc))
        .where(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            "max_quality",
        )
    )


def blocked_edit_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_edit: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs: records sharing a blocking key
    whose names are within ``max_edit`` Levenshtein distance →
    (id_a, id_b, <block_cols...>, edit_dist).

    The classic record-linkage shape: an all-pairs fuzzy match is O(n²)
    and unshippable, so candidates are generated only WITHIN blocks
    (deterministic attributes two true duplicates must share — here the
    caller's ``block_cols``), then scored with the exact edit distance.
    Pair volume scales with Σ block_size², not n² — the blocking key
    choice, not the engine, is what bounds the blow-up, so the operator
    exposes it explicitly.

    Shape: one self-equi-join on the blocking key (shuffle on block_cols;
    AQE handles skewed blocks), ``F.levenshtein`` JVM-side inside
    whole-stage codegen (optionally short-circuited by its threshold
    form), id_a < id_b to emit each unordered pair once.
    """
    if not block_cols:
        # an empty blocking key would silently degenerate to the O(n²)
        # all-pairs join this operator exists to prevent
        raise ValueError("blocked_edit_pairs requires at least one block column")
    probe = records.select(
        F.col(id_col).alias("id_a"), F.col(name_col).alias("__name_a"), *block_cols
    )
    build = records.select(
        F.col(id_col).alias("id_b"), F.col(name_col).alias("__name_b"), *block_cols
    )
    # two CPU-shape fixes (the shuffle BYTES here are tiny, so AQE happily
    # coalesces the join onto ONE task while the |block|² pair generation ×
    # Levenshtein DP is the actual cost — measured 900k pairs on a single
    # core at sf0.1):
    # 1. explicit repartition on the block key pins the join parallelism
    #    (a user-specified partition count is exempt from AQE coalescing);
    # 2. the THRESHOLD form of levenshtein short-circuits each DP once the
    #    running distance exceeds max_edit (returns -1) — an O(k·n) band
    #    instead of the full O(n²) table per pair (measured 1.5×).
    n_part = records.sparkSession.sparkContext.defaultParallelism
    probe = probe.repartition(n_part, *block_cols)
    build = build.repartition(n_part, *block_cols)
    dist = F.levenshtein(F.col("__name_a"), F.col("__name_b"), max_edit)
    return (
        probe.join(build, on=list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", dist)
        .where(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", *block_cols, "edit_dist")
    )


def jaccard_prefix_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    family) — same output contract as :func:`ngram_jaccard_pairs`, much
    smaller candidate space.

    The inverted-index join indexes EVERY shingle, so two documents
    sharing any boilerplate shingle become a candidate.  Prefix filtering
    indexes only each document's first ``|S| - ⌈t·|S|⌉ + 1`` shingles
    under a global shingle order (rarest-first): if J(A,B) ≥ t the two
    prefixes provably intersect, so no qualifying pair is lost, while
    frequent (boilerplate) shingles almost never land in a prefix and
    stop generating candidates.  A length filter (min size ≥ t·max size,
    a Jaccard necessary condition) prunes further before verification.

    Scale shape: one shingle explode → global frequency agg (token-keyed)
    → per-doc rank window (partitioned by doc, frames of doc-shingle
    count) → prefix-only self-equi-join on the shingle → distinct pair
    dedup → exact verify on the candidate subset.  Candidate volume
    scales with prefix-token collision counts — at a high threshold a
    small fraction of the full inverted index's Σ df² blow-up.
    """
    # Pure composition of the stored-index primitives — ONE copy of the
    # freq aggregate / prefix ranking / candidate-join logic, so the
    # "identical output by construction" contract between this path and
    # the stored-index probe cannot drift (the helpers are the shared
    # truth; see their docstrings for the hash/order/ε-guard rationale).
    prefix, _freq, base = jaccard_prefix_index(
        documents, id_col, text_col, k, threshold
    )
    return jaccard_prefix_self_pairs(prefix, base, threshold)


def ngram_novelty(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Corpus-relative n-gram NOVELTY per document — (doc_id, n_shingles,
    n_unique, novelty): the fraction of a document's distinct k-shingles
    that appear NOWHERE else in the corpus (df=1).  High novelty = original
    content; low novelty = boilerplate/templated text shared across
    documents — the corpus-level complement of the within-doc repetition
    ratio (q46) and dup-ngram fraction (q79).

    Scale shape: one shingle explode → df aggregate (shingle-keyed) →
    df join back → per-doc aggregate; every shuffle moves (hash, count)
    longs.  Same hash-distinctness caveat as the whole shingle family.
    """
    base = shingle_hash_table(documents, id_col, text_col, k, distinct=True)
    inv = base.select("id", F.explode("hashes").alias("sh"))
    freq = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    return (
        inv.join(freq, "sh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_unique"),
            F.round(
                F.sum((F.col("__df") == 1).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("novelty"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def duplicated_span_stats(
    documents: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    cross_doc_only: bool = False,
    unit: str = "token",
) -> DataFrame:
    """Exact duplicated-SPAN detection (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr rule,
    token-windowed): slide a ``window``-token rolling-hash across every
    document, mark windows whose hash occurs ≥ ``min_count`` times in the
    corpus (``cross_doc_only=True`` counts distinct documents instead, so
    within-doc refrains don't mark), merge overlapping/adjacent marked
    windows into MAXIMAL spans, and report per-document span statistics →
    ``(doc_id, n_tokens, n_dup_spans, dup_tokens)``.

    This is the span-granular member of the dedup family: line_dedup
    removes whole boilerplate LINES, ngram_novelty scores distinct-shingle
    originality, while this finds the exact verbatim RUNS (quotes, license
    headers, syndicated passages) an ExactSubstr pass would cut — integer
    outputs only, so the differential gate is float-free.

    Scale shape: one posexplode of O(total windows) rows carrying (id,
    pos, hash) longs → window-hash aggregate (map-side combined) → the
    duplicated-hash set left-semi joins back (boilerplate hashes are a
    small fraction of distinct windows; AQE broadcasts) → island-merge is
    a lag/cumsum window PARTITIONED BY document (parallel across docs,
    never global).  Nothing pairwise, nothing driver-side.

    Docs shorter than ``window`` tokens carry zero spans by construction.

    ``unit="char"`` switches to Lee et al.'s native granularity: the
    window slides over RAW characters (the paper's 50-byte threshold →
    ``window=50``), hashes carry no normalization (case/punctuation
    differences break a match, as exact-substring demands), and the
    output is ``(doc_id, n_chars, n_dup_spans, dup_chars)``.  Token mode
    remains the cheaper default (w× fewer windows for mean token length
    w); char mode is the byte-fidelity variant.

    DELIBERATE DEVIATION from Lee et al.'s 50-BYTE threshold: ``window``
    counts Unicode CODEPOINTS, not UTF-8 bytes — Spark strings are
    codepoint-indexed (``length``/``substring``/``split`` on UTF8String),
    as are the DuckDB oracle (``ord``/``substr``) and the Python
    hypothesis reference, so codepoints are the unit all three engines
    agree on exactly (verified including astral-plane chars, where UTF-16
    engines could have split surrogates).  For pure-ASCII corpora the two
    units coincide; for multi-byte text a codepoint window spans MORE
    bytes than the paper's, i.e. the match requirement is never weaker.

    Since r13 the marking is ONE window-function pass over the window
    table (see :func:`_marked_spans`), so the table has a single
    consumer, nothing is pinned, and the operator is pure-lazy — the
    ADVICE r12 eager-side-effect note no longer applies.
    """
    base, wins = _span_windows(documents, window, id_col, text_col, unit)
    spans = _marked_spans(wins, window, min_count, cross_doc_only)
    return _span_stats(base, spans, id_col, unit)


# ---- portable rolling-hash modular arithmetic (span family) --------------
# B^j / B^-j mod p as a binary-exponentiation fold over CONSTANT powers —
# pure codegen, no UDF.  26 bits covers exponents to 2^26-1 (a 64M-char
# single document; the token-length slice inv_pows[:17] covers tokens to
# 2^17-1 ≈ 128k chars).  Beyond a cap the modpow fold ignores the high
# bits and the hash would silently WRAP — so _span_windows raises at
# execution time (ADVICE r12: a cheap per-row F.when guard routed to
# raise_error, never a silent wrong span marking) when a document or
# token exceeds its cap.
_SPAN_POW_BITS = 26
# execution-time guard bounds (see _span_windows)
_SPAN_DOC_CAP = 1 << _SPAN_POW_BITS  # max chars per document
_SPAN_TOKEN_CAP = 1 << 17  # max chars per token (inv_pows[:17] slice)


def _span_pow_tables() -> tuple[list[int], list[int]]:
    from eodatadown_spark.operators.text import ROLLING_BASE, ROLLING_PRIME

    inv_b = pow(ROLLING_BASE, -1, ROLLING_PRIME)
    return (
        [pow(ROLLING_BASE, 1 << k, ROLLING_PRIME)
         for k in range(_SPAN_POW_BITS)],
        [pow(inv_b, 1 << k, ROLLING_PRIME) for k in range(_SPAN_POW_BITS)],
    )


def _span_modpow_sql(j_sql: str, pows: list[int]) -> str:
    """prod(pows[k] for set bits k of j) mod p — i.e. base^j mod p for the
    base whose 2^k-th powers ``pows`` holds — as SQL TEXT parsed JVM-side
    (r13): the former py4j Column fold cost ~130 driver round-trips per
    call site × 4-5 sites per span plan, roughly half the span family's
    warm wall time at sf0.1.  The parsed tree is the same pmod/CASE
    binary-exponentiation chain; value identity is pinned by the span
    hypothesis properties and the q180-q184 oracles."""
    from eodatadown_spark.operators.text import ROLLING_PRIME

    acc = "CAST(1 AS BIGINT)"
    for k, pk in enumerate(pows):
        acc = (
            f"pmod({acc}*(CASE WHEN (shiftright({j_sql},{k}) & 1) = 1"
            f" THEN {pk}L ELSE 1L END),{ROLLING_PRIME}L)"
        )
    return acc


def _span_windows(
    documents: DataFrame,
    window: int,
    id_col: str,
    text_col: str,
    unit: str = "token",
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the span family: (base(id, n_tokens, toks|__txt),
    wins(id, pos, wh)) — ``window``-unit slices hashed with the portable
    fingerprint.  ``n_tokens`` counts UNITS (tokens or chars); the public
    projections rename it per unit.  Null/empty text yields n_tokens=0
    and no windows (never -1/NULL — toks is coalesced to an empty array).

    ``unit="token"`` hashes normalized window text (tokenization already
    lowercases; O(n·w) chars per doc — fine at w≈8 token windows).
    ``unit="char"`` produces EXACTLY the hash
    :func:`~eodatadown_spark.operators.text.char_fingerprint` would give
    each raw ``window``-char substring (case/punctuation break a match,
    as exact-substring demands), but computes all of a document's window
    hashes in O(n) TOTAL via the true rolling formulation — at the
    paper's w=50 the naive per-window fold re-hashes every char 50×
    (measured 26 s vs ~3 s at sf0.1):

        h(i) = Σ_{j=i..i+w-1} c_j·B^{i+w-1-j}  (mod p)
             = (r_{i+w-1} − r_{i-1}) · B^{i+w-1}  (mod p),
        where r_k = Σ_{j≤k} c_j·B^{-j}  (mod p)

    — r is a per-document window CUMSUM over the exploded chars (one
    extra exchange on id; parallel across docs, never global), and
    B^{±j} mod p is a ``_MODPOW_BITS``-step binary-exponentiation fold
    over constant powers (pure codegen, no UDF).  Identity to the naive
    fold is pinned by the brute-force hypothesis property and the
    q183/q184 oracles, which replay the naive fold in SQL."""
    from eodatadown_spark.operators.corpus import token_array
    from eodatadown_spark.operators.text import ROLLING_BASE, ROLLING_PRIME

    if unit == "char":
        p_ = ROLLING_PRIME
        b_pows, inv_pows = _span_pow_tables()

        base = documents.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__txt"),
        ).withColumn("n_tokens", F.length("__txt").cast("long"))
        # execution-time cap guard (ADVICE r12): beyond 2^26 chars the
        # modpow fold drops the exponent's high bits and every window
        # hash of the document silently WRAPS to a wrong value — raise
        # (one comparison per qualifying document, pre-explode) instead
        guarded = base.where(F.col("n_tokens") >= window).withColumn(
            "__txt",
            F.when(F.col("n_tokens") < _SPAN_DOC_CAP, F.col("__txt")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "duplicated-span family: document id="
                        ),
                        F.col("id").cast("string"),
                        F.lit(
                            f" exceeds the {_SPAN_DOC_CAP}-char rolling-"
                            "hash cap (_SPAN_POW_BITS)"
                        ),
                    )
                )
            ),
        )
        # slice to exactly length(txt) elements: split("") may append a
        # trailing empty, and positions must stay raw char offsets
        chars = guarded.select(
            "id",
            F.posexplode(
                F.slice(F.split("__txt", ""), 1, F.length("__txt"))
            ).alias("j", "c"),
        )
        w_ord = Window.partitionBy("id").orderBy("j")
        j_sql = "CAST(j AS BIGINT)"
        term = F.expr(
            f"pmod(CAST(ascii(c) AS BIGINT)"
            f"*{_span_modpow_sql(j_sql, inv_pows)},{p_}L)"
        )
        # raw cumsum before the mod stays < 2^26·2^31 = 2^57 — no overflow
        cum = chars.withColumn(
            "__r",
            F.pmod(
                F.sum(term).over(
                    w_ord.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(p_),
            ),
        )
        lagged = cum.withColumn("__rl", F.lag("__r", window).over(w_ord))
        wins = lagged.where(F.col("j") >= window - 1).select(
            "id",
            (F.col("j") - (window - 1)).alias("pos"),
            F.expr(
                f"pmod((__r - coalesce(__rl, CAST(0 AS BIGINT)))"
                f"*{_span_modpow_sql(j_sql, b_pows)},{p_}L)"
            ).alias("wh"),
        )
        return base, wins
    if unit != "token":
        raise ValueError(f"unit must be 'token' or 'char', got {unit!r}")
    base = documents.select(
        F.col(id_col).alias("id"),
        F.coalesce(
            token_array(text_col), F.array().cast("array<string>")
        ).alias("toks"),
    ).withColumn("n_tokens", F.size("toks").cast("long"))
    # Token windows via the boundary-prefix formulation — per-token char
    # folds once, then PURE column arithmetic + one per-doc window pass
    # (codegen end to end).  The earlier per-window fold combine still ran
    # Catalyst higher-order functions (zip/slice/aggregate) INTERPRETED
    # per window (17 s of q180's 24 s at sf1.0 was the window expression
    # alone); this shape has no per-window arrays at all.
    #
    # Derivation: let C' = ' ' + join(stripped_tokens, ' ') (the virtual
    # leading space makes every token's segment uniformly ' '+t, and
    # never falls inside a window).  Segment k starts at char offset
    # o_k = Σ_{j<k}(len_j+1); in the inverse-power basis its contribution
    # is g_k·B^{-o_k} where g_k = Σ_m c_m·B^{-m} over ' '+t_k's chars
    # — and since Σ c_m·B^{-m} = B^{-(L-1)}·fold_B(s), g_k is just
    # char_fingerprint(' '+t_k)·B^{-len_k} (fold reuse, no new hash).
    # With R_k = Σ_{j≤k} g_j·B^{-o_j} (a per-doc window CUMSUM), the
    # window of tokens i..i+w-1 covers chars [o_i+1, o_{i+w-1}+len_{i+w-1}]
    # of C' and its rolling hash — IDENTICAL to
    # rolling_fingerprint(array_join(window, " ")), because the
    # [^a-z0-9 ] strip commutes with the space-join — is
    #   h(i) = (R_{i+w-1} − R_{i-1} − 32·B^{-o_i}) · B^{o_{i+w-1}+len_{i+w-1}}
    # (mod p; R_{-1} = 0).  Empty-after-strip tokens contribute len 0 /
    # g = 32 — exactly the doubled space the joined form produces.
    b_pows, inv_pows = _span_pow_tables()
    toks_rows = base.where(F.col("n_tokens") >= window).select(
        "id",
        "n_tokens",
        F.posexplode(
            F.transform(
                "toks", lambda t: F.regexp_replace(t, "[^a-z0-9 ]", "")
            )
        ).alias("ti", "t"),
    )
    w_tok = Window.partitionBy("id").orderBy("ti")
    cum_frame = w_tok.rowsBetween(Window.unboundedPreceding, 0)
    p_ = ROLLING_PRIME
    tlen_sql = "CAST(length(t) AS BIGINT)"
    # char_fingerprint(' '+t) inlined as the same aggregate-fold SQL text
    fp_sql = (
        "aggregate(filter(split(concat(' ',t),''),ch->ch!=''),"
        "CAST(0 AS BIGINT),"
        f"(acc,ch)->pmod(acc*{ROLLING_BASE}L+ascii(ch),{p_}L))"
    )
    rows = toks_rows.select(
        "id",
        "n_tokens",
        "ti",
        F.expr(tlen_sql).alias("__len"),
        # execution-time cap guard (ADVICE r12): a token longer than the
        # inv_pows[:17] slice covers (2^17-1 chars) would silently wrap
        # its segment hash — raise instead (one comparison per token)
        F.expr(
            f"CASE WHEN {tlen_sql} < {_SPAN_TOKEN_CAP} THEN "
            f"pmod({fp_sql}*{_span_modpow_sql(tlen_sql, inv_pows[:17])},{p_}L)"
            " ELSE raise_error(concat("
            "'duplicated-span family: token in document id=',"
            "CAST(id AS STRING),"
            f"' exceeds the {_SPAN_TOKEN_CAP - 1}-char token"
            " cap (inv_pows[:17])')) END"
        ).alias("__g"),
    ).withColumn(
        "__o",
        F.coalesce(
            F.sum(F.col("__len") + 1).over(
                w_tok.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    )
    # same ADVICE r12 cap guard on the char-offset exponents: a document
    # whose normalized char length reaches 2^26 would wrap every offset
    # power (o and o+len both stay under the cap when each row's own
    # o+len does — the guard is evaluated for every token row because
    # every row's inv_o feeds the __r cumsum)
    inv_o = F.expr(
        f"CASE WHEN __o + __len < {_SPAN_DOC_CAP} THEN "
        f"{_span_modpow_sql('__o', inv_pows)}"
        " ELSE raise_error(concat("
        "'duplicated-span family: document id=',"
        "CAST(id AS STRING),"
        f"' exceeds the {_SPAN_DOC_CAP}-char rolling-hash cap"
        " (_SPAN_POW_BITS)')) END"
    )
    withR = rows.withColumn(
        "__r",
        F.pmod(
            F.sum(F.pmod(F.col("__g") * inv_o, F.lit(p_))).over(cum_frame),
            F.lit(p_),
        ),
    ).withColumn("__inv_o", inv_o)
    lead_r = F.lead("__r", window - 1).over(w_tok)
    lead_end = F.lead(F.col("__o") + F.col("__len"), window - 1).over(w_tok)
    lag_r = F.coalesce(F.lag("__r", 1).over(w_tok), F.lit(0).cast("long"))
    wins = (
        withR.withColumn("__lr", lead_r)
        .withColumn("__le", lead_end)
        .withColumn("__pr", lag_r)
        .where(F.col("ti") <= F.col("n_tokens") - window)
        .select(
            "id",
            F.col("ti").alias("pos"),
            F.expr(
                f"pmod(pmod(__lr - __pr - 32L*__inv_o,{p_}L)"
                f"*{_span_modpow_sql('__le', b_pows)},{p_}L)"
            ).alias("wh"),
        )
    )
    return base, wins


def _merge_islands(marked: DataFrame, window: int) -> DataFrame:
    """Merge MARKED window starts (id, pos) into maximal spans
    (id, __s, __e) per document — lag/cumsum islands, a window
    PARTITIONED BY doc (parallel across docs, never global).  Two marked
    windows belong to one span iff their starts are ≤ ``window`` apart
    (overlapping or adjacent coverage); ``__e`` is exclusive."""
    w_ = Window.partitionBy("id").orderBy("pos")
    isl = (
        marked.withColumn("__prev", F.lag("pos").over(w_))
        .withColumn(
            "__new",
            (
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > window)
            ).cast("long"),
        )
        .withColumn(
            "__grp",
            F.sum("__new").over(
                w_.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return isl.groupBy("id", "__grp").agg(
        F.min("pos").alias("__s"), (F.max("pos") + window).alias("__e")
    )


def _marked_spans(
    wins: DataFrame, window: int, min_count: int, cross_doc_only: bool
) -> DataFrame:
    """The span family's shared marking: count each window hash across
    the corpus (occurrences, or distinct documents under
    ``cross_doc_only``), keep window rows whose hash reaches
    ``min_count``, and merge the surviving window starts into maximal
    spans (id, __s, __e).  ONE definition so
    :func:`duplicated_span_stats` and :func:`cut_duplicated_spans` can
    never drift.

    The count rides a WINDOW over ``wh`` (r13): the old groupBy +
    duplicated-hash-set semi-join consumed the window table twice, which
    forced callers to eagerly pin it (at char granularity ~one row per
    corpus character — the ADVICE r12 eager-side-effect complaint) and
    broadcast a corpus-wide duplicated-hash set that outgrows any
    broadcast budget at scale.  One pass, one shuffle on ``wh``, nothing
    pinned, nothing broadcast; per-row filter semantics identical.

    ``cross_doc_only`` (r14): the distinct-document count is the
    SORT-BASED idiom — ``dense_rank`` over (wh ordered by id), then
    ``max`` of that rank over the whole wh partition.  The r13
    ``size(collect_set(id))`` form buffered the full distinct-id SET in
    the window aggregate buffer: on a 100 TB corpus a boilerplate span
    shared by millions of documents makes one ``wh`` a hot key and that
    per-key set is O(distinct docs) of unspillable memory on a single
    task (VERDICT r13 item 1).  Both window frames here buffer only
    ROWS, which WindowExec spills; the ordered spec adds a sort on
    (wh, id) but NO second exchange — both windows share the one
    hash-partition on ``wh``."""
    w_h = Window.partitionBy("wh")
    if cross_doc_only:
        w_ord = Window.partitionBy("wh").orderBy("id")
        marked = (
            wins.withColumn("__dr", F.dense_rank().over(w_ord))
            .withColumn("__n", F.max("__dr").over(w_h))
            .where(F.col("__n") >= min_count)
            .select("id", "pos")
        )
    else:
        marked = (
            wins.withColumn("__n", F.count(F.lit(1)).over(w_h))
            .where(F.col("__n") >= min_count)
            .select("id", "pos")
        )
    return _merge_islands(marked, window)


def _span_stats(
    base: DataFrame, spans: DataFrame, id_col: str, unit: str = "token"
) -> DataFrame:
    """Shared back half: per-document span statistics from the maximal
    spans relation, zero rows joined back for span-free docs.  Output
    columns are unit-named: (n_tokens, dup_tokens) or (n_chars,
    dup_chars)."""
    n_col = "n_chars" if unit == "char" else "n_tokens"
    dup_col = "dup_chars" if unit == "char" else "dup_tokens"
    stats = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("__e") - F.col("__s")).alias("__dup"),
    )
    return (
        base.select("id", "n_tokens")
        .join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").alias(n_col),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
            F.coalesce(F.col("__dup"), F.lit(0)).alias(dup_col),
        )
    )


def span_hash_index(
    documents: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "token",
) -> DataFrame:
    """The persistent half of INCREMENTAL duplicated-span detection —
    the span-family counterpart of :func:`minhash_band_index` /
    :func:`jaccard_prefix_index`.  Returns the one relation a catalog
    stores per generation: ``(wh, cnt, n_docs)`` — each distinct
    ``window``-token hash with its total occurrence count and its
    distinct-document count over the indexed corpus.

    Both counters are EXACTLY additive across disjoint corpora (batch
    doc ids never collide with indexed ids by the ingest contract), so
    :func:`duplicated_spans_against_index` needs no re-scan of the
    corpus: union-corpus occurrence counts are stored + batch, exactly.
    ``window`` is part of the index identity — probe with the same value.

    State size is bounded by DISTINCT windows (≪ total windows on any
    corpus with duplication) and shrinks further under parquet dictionary
    encoding; at 100 TB store it bucketed by ``wh`` so probes bucket-join
    without shuffling the index (the ``dedd spanindex --bucketed`` face
    does exactly that).  ``unit`` ("token"|"char") is part of the index
    identity alongside ``window`` — probe with the same pair."""
    base, wins = _span_windows(documents, window, id_col, text_col, unit)
    idx = wins.groupBy("wh").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("id").alias("n_docs"),
    )
    return _pin(idx)


def cut_duplicated_spans(
    documents: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    cross_doc_only: bool = False,
    unit: str = "token",
) -> DataFrame:
    """The ACTION step of ExactSubstr dedup (Lee et al. 2021 apply the
    cut, not just the count): excise every maximal duplicated span found
    by the :func:`duplicated_span_stats` marking and return each document
    rebuilt from its SURVIVING tokens →
    ``(id_col, n_tokens, n_kept, text_kept)``.

    The rebuilt text is the canonical tokenization joined with single
    spaces (original whitespace/casing inside the kept regions is NOT
    preserved — the output feeds tokenizers, not renderers; run this
    after :func:`~eodatadown_spark.operators.text.normalize_text` where
    byte fidelity matters).  A document that is entirely duplicated
    survives with ``text_kept = ''`` so the caller decides whether to
    drop it — the line_dedup convention.

    Scale shape: the marking reuses the span family's explode + hash agg
    + semi-join (ONE definition — :func:`_marked_spans` — shared with
    :func:`duplicated_span_stats`, so the two can't drift); the cut joins
    each document's tokens to ITS OWN spans (a per-doc range join whose
    span side is tiny — spans per doc, not corpus spans), then one
    groupBy-doc rebuild.  Nothing pairwise across documents.

    ``unit="char"`` cuts at character granularity (Lee et al.'s native
    50-byte form, ``window=50``) and — unlike token mode — PRESERVES the
    original bytes of the kept regions: the rebuild concatenates the raw
    inter-span substrings with an O(spans-per-doc) fold, no per-char
    explode.  Output is ``(id_col, n_chars, n_kept, text_kept)``.

    Since r13 the marking is one window-function pass (see
    :func:`_marked_spans`) and BOTH units rebuild via an
    O(spans-per-doc) fold over the per-document span array — nothing is
    pinned, no per-token explode ever reaches a join, and the operator
    is pure-lazy.
    """
    base, wins = _span_windows(documents, window, id_col, text_col, unit)
    spans = _marked_spans(wins, window, min_count, cross_doc_only)
    if unit == "char":
        span_arrs = spans.groupBy("id").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__s").alias("s"), F.col("__e").alias("e")
                    )
                )
            ).alias("__spans")
        )
        joined = base.join(span_arrs, "id", "left").withColumn(
            "__spans",
            F.coalesce(
                F.col("__spans"),
                F.array().cast("array<struct<s:bigint,e:bigint>>"),
            ),
        )
        # fold over the (disjoint, sorted) spans: acc = (cursor, kept-so-
        # far); each span appends the raw text between the cursor and the
        # span start, then advances the cursor past the span; the finisher
        # appends the tail.  Maximal spans are separated by > 0 chars by
        # construction, so every substring length is ≥ 0.
        rebuilt = joined.select(
            "id",
            "n_tokens",
            F.aggregate(
                "__spans",
                F.struct(
                    F.lit(0).cast("long").alias("pos"),
                    F.lit("").alias("acc"),
                ),
                lambda acc, sp: F.struct(
                    sp["e"].alias("pos"),
                    F.concat(
                        acc["acc"],
                        F.substring(
                            F.col("__txt"),
                            (acc["pos"] + 1).cast("int"),
                            (sp["s"] - acc["pos"]).cast("int"),
                        ),
                    ).alias("acc"),
                ),
                lambda acc: F.concat(
                    acc["acc"],
                    F.substring(
                        F.col("__txt"),
                        (acc["pos"] + 1).cast("int"),
                        (F.col("n_tokens") - acc["pos"]).cast("int"),
                    ),
                ),
            ).alias("text_kept"),
        )
        return rebuilt.select(
            F.col("id").alias(id_col),
            F.col("n_tokens").alias("n_chars"),
            F.length("text_kept").cast("long").alias("n_kept"),
            "text_kept",
        )
    # token rebuild via the SAME span-array fold as char mode (r13): the
    # old shape posexploded every token, range-anti-joined the per-token
    # rows against the span table, and re-assembled each doc with a
    # collect_list sort — three corpus-sized passes where one
    # O(spans-per-doc) fold suffices.  Maximal spans are disjoint and
    # sorted, so kept tokens are the concatenation of the inter-span
    # slices of the doc's OWN token array; a doc with no spans keeps
    # everything (empty span array → one whole-array slice), an entirely
    # duplicated doc keeps nothing (cursor ends at n_tokens → empty tail).
    span_arrs = spans.groupBy("id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__s").alias("s"), F.col("__e").alias("e"))
            )
        ).alias("__spans")
    )
    joined = base.join(span_arrs, "id", "left").withColumn(
        "__spans",
        F.coalesce(
            F.col("__spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
        ),
    )
    kept = F.aggregate(
        "__spans",
        F.struct(
            F.lit(0).cast("long").alias("pos"),
            F.array().cast("array<string>").alias("acc"),
        ),
        lambda acc, sp: F.struct(
            sp["e"].alias("pos"),
            F.concat(
                acc["acc"],
                F.slice(
                    F.col("toks"),
                    (acc["pos"] + 1).cast("int"),
                    (sp["s"] - acc["pos"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.slice(
                F.col("toks"),
                (acc["pos"] + 1).cast("int"),
                (F.col("n_tokens") - acc["pos"]).cast("int"),
            ),
        ),
    )
    # materialize the fold at a projection boundary: n_kept and text_kept
    # both read it, and referencing the expression directly would inline
    # and re-run the fold per reference (the documented higher-order trap)
    rebuilt = joined.select("id", "n_tokens", kept.alias("__kept"))
    return rebuilt.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.size("__kept").cast("long").alias("n_kept"),
        F.array_join("__kept", " ").alias("text_kept"),
    )


def merge_span_index(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two :func:`span_hash_index` state tables by counter addition
    — EXACTLY ``span_hash_index`` of the union corpus, provided the two
    sides indexed DISJOINT document-id sets (the ingest contract; both
    ``cnt`` and ``n_docs`` are plain sums under disjointness)."""
    cols = ["wh", "cnt", "n_docs"]
    both = stored.select(*cols).unionByName(delta.select(*cols))
    return both.groupBy("wh").agg(
        F.sum("cnt").alias("cnt"), F.sum("n_docs").alias("n_docs")
    )


def duplicated_spans_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    cross_doc_only: bool = False,
    unit: str = "token",
) -> DataFrame:
    """Probe a NEW batch against a stored :func:`span_hash_index`:
    per-batch-document duplicated-span stats over the UNION corpus
    (indexed ∪ batch), without touching the indexed documents — window
    counts are stored + batch (exact additivity), so

        probe(batch | index(corpus)) == duplicated_span_stats(corpus ∪
        batch) restricted to batch documents,

    pinned by unit + property tests.  Batch-internal duplication
    (refrains, within-batch copies) marks too — absent index hashes
    count 0, the batch side supplies the rest.

    Scale shape: the batch explodes once; the per-wh probe joins the
    batch's OWN distinct hashes against the stored index (left join —
    the index never shuffles more than the matching keys); island merge
    is per-batch-doc.  The indexed corpus is never re-read."""
    base, wins = _span_windows(new_docs, window, id_col, text_col, unit)
    # single-pass marking (r13, the _marked_spans shape): the batch-side
    # count rides a window over ``wh`` and the stored counters attach
    # with ONE left join per window row — the old groupBy + semi-join
    # consumed the batch window table twice (forcing an eager pin) and
    # re-shuffled it; per-row keep/drop semantics are identical
    # (``__bcnt`` equals the old batch_counts row for the row's hash).
    w_h = Window.partitionBy("wh")
    counted = wins.withColumn("__bcnt", F.count(F.lit(1)).over(w_h))
    if cross_doc_only:
        # sort-based distinct-doc count (r14, same fix as _marked_spans):
        # rows-only window buffers instead of a per-wh collect_set whose
        # in-memory set is O(distinct docs) on a hot window hash
        w_ord = Window.partitionBy("wh").orderBy("id")
        counted = counted.withColumn(
            "__bdr", F.dense_rank().over(w_ord)
        ).withColumn("__bdocs", F.max("__bdr").over(w_h))
    stored = index.select(
        "wh", F.col("cnt").alias("__scnt"), F.col("n_docs").alias("__sdocs")
    )
    joined = counted.join(stored, "wh", "left")
    key = (
        F.col("__bdocs") + F.coalesce(F.col("__sdocs"), F.lit(0))
        if cross_doc_only
        else F.col("__bcnt") + F.coalesce(F.col("__scnt"), F.lit(0))
    )
    marked = joined.where(key >= min_count).select("id", "pos")
    spans = _merge_islands(marked, window)
    return _span_stats(base, spans, id_col, unit)


def source_pair_pressure(
    pairs: DataFrame,
    documents: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    score_col: str = "jaccard",
) -> DataFrame:
    """Cross-source dedup PRESSURE rollup — the curation report a corpus
    owner reads before deciding which source to downweight or drop:
    near-dup pairs attributed to their (unordered) source pair →
    (source_a, source_b, n_pairs, avg_<score>).  Rows with
    source_a == source_b are within-source duplication; off-diagonal rows
    are cross-source contamination (e.g. a crawl re-hosting another
    source's content).

    Works over ANY pair relation with (id_a, id_b, score) — minhash,
    prefix-exact, simhash (pass score_col="hamming") — so the pressure
    report composes with whichever dedup family produced the pairs.

    Scale shape: two id-keyed equi-joins (the small pair set against the
    corpus's (id, source) projection — broadcast the pairs side) and one
    aggregate keyed on the source pair (tiny domain).  The corpus never
    shuffles; cost is proportional to the pair count.
    """
    src = documents.select(F.col(id_col), F.col(source_col))
    attributed = pairs.join(
        src.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa")),
        "id_a",
    ).join(
        src.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb")),
        "id_b",
    )
    return (
        attributed.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            F.col(score_col).alias("__score"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("__score"), 4).alias(f"avg_{score_col}"),
        )
    )


def _prefix_rows(base: DataFrame, freq: DataFrame, threshold: float) -> DataFrame:
    """(id, sz, sh, __pos) PREFIX entries of ``base`` = (id, shingles)
    under the global rarest-first order keyed by ``freq`` = (sh, __df):
    each document keeps its first ``sz - ⌈t·sz⌉ + 1`` shingles by
    (__df asc, sh asc).  Shingles ABSENT from freq rank with df = 1 —
    front of the order (the stored table prunes df < 2, so an absent
    shingle is either a pruned df=1 entry or novel to a probe batch —
    both land on the same (1, sh) key); any deterministic function of the shingle is a
    valid prefix order, which is what lets a FROZEN corpus frequency
    table order new batches consistently (see
    :func:`jaccard_prefix_against_index`)."""
    inv = base.select(
        "id", F.size("shingles").alias("sz"), F.explode("shingles").alias("sh")
    )
    w = Window.partitionBy("id").orderBy(F.col("__df0").asc(), F.col("sh").asc())
    return (
        inv.join(freq, "sh", "left")
        # absent → df 1: a shingle missing from freq is either df=1 (pruned
        # by the df>=2 storage rule — it would have keyed (1, sh) anyway)
        # or novel to a probe batch; both land on the SAME (1, sh) key, so
        # the order is identical to ranking with the full frequency table
        .withColumn("__df0", F.coalesce(F.col("__df"), F.lit(1)))
        .withColumn("__pos", F.row_number().over(w))
        # ε-guard: ceil(t·s) computed in floats can land one ABOVE the true
        # integer (0.1·10 → 1.0000000000000002 → ceil 2), silently
        # shortening the prefix and dropping qualifying pairs; backing off
        # 1e-9 only ever lengthens the prefix (still a correct filter)
        .where(
            F.col("__pos")
            <= F.col("sz") - F.ceil(threshold * F.col("sz") - 1e-9) + 1
        )
        .select("id", "sz", "sh", "__pos")
    )


def _positional_candidates(matches: DataFrame, threshold: float) -> DataFrame:
    """POSITIONAL filter (the PPJoin refinement), at the pair's MINIMAL
    shared token: both docs rank shingles by the same global
    (rarest-first) order, so the smallest shared prefix token τ* — the
    one attaining min(i) and min(j) over a pair's matches — has NO
    shared token before it in either list (a smaller shared token would
    sit at a smaller position, hence inside both prefixes, contradicting
    minimality).  Every other shared token follows τ*, so
      |A∩B| ≤ 1 + min(sz_a - i*, sz_b - j*),
    while J ≥ t needs |A∩B| ≥ t/(1+t)·(sz_a+sz_b).  Dropping pairs whose
    bound falls short is lossless (verification stays exact) — and at low
    thresholds, where plain prefix filtering admits hundreds of spurious
    candidates per true pair (one shared mid-list token), it prunes the
    verify input by orders of magnitude.

    MEASURED REFUTATION (r14, VERDICT r13 item 5): a per-match-row form
    of this bound — pair survives iff SOME row passes at its own (i, j),
    provably lossless via the τ* argument above and never looser than
    this cross-row form — was implemented and A/B-measured at sf0.1: it
    pruned ZERO additional pairs on both declared workloads (k=3 t=0.4:
    206 156 candidates either way over 474 755 match rows; k=4 t=0.6:
    256 either way over 5 035), while paired interleaved runs read it
    at-or-slower (the filter arithmetic runs per match row, and the
    partial aggregate was already compacting rows before the exchange).
    The tightening is real only for pairs whose min(pa) and min(pb)
    come from DIFFERENT rows and whose own-row bounds all fail — a case
    the shingle geometry of real corpora evidently does not produce.
    Reverted to the aggregate form; re-attempt only with evidence of
    multi-row pairs failing per-row bounds.

    ``matches``: one row per shared prefix-token occurrence with columns
    (id_a, id_b, __pa, __pb, __sza, __szb); duplicate rows (e.g. a pair
    surfacing in both orientations of an incremental probe) are harmless —
    mins and firsts are unaffected."""
    return (
        matches.groupBy("id_a", "id_b")
        .agg(
            F.min("__pa").alias("__imin"),
            F.min("__pb").alias("__jmin"),
            F.first("__sza").alias("__szl"),
            F.first("__szb").alias("__szr"),
        )
        .where(
            (
                1
                + F.least(
                    F.col("__szl") - F.col("__imin"),
                    F.col("__szr") - F.col("__jmin"),
                )
            ).cast("double")
            >= F.lit(threshold / (1.0 + threshold))
            * (F.col("__szl") + F.col("__szr")).cast("double")
            - 1e-9
        )
        .select("id_a", "id_b")
    )


def jaccard_prefix_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The persistent half of EXACT-Jaccard incremental dedup — the
    prefix-family counterpart of :func:`minhash_band_index`.  Returns the
    three relations a catalog stores per generation:

    - ``prefix``       (id, sz, sh, __pos): each corpus document's prefix
      entries under the corpus's rarest-first shingle order — the table
      :func:`jaccard_prefix_against_index` equi-joins each batch against.
      At scale, store it bucketed/sorted by ``sh`` so probes are
      broadcast- or bucket-joins with NO corpus shuffle.
    - ``freq``         (sh, __df): the corpus document-frequency table
      that DEFINES the order.  The order is FROZEN at build time: probes
      rank batch shingles by this same table (absent → df 1), which keeps
      one consistent total order across old and new documents — the
      prefix-filter guarantee needs order consistency, not currency.
      Appending batches degrades only the rarest-first *heuristic*
      (candidate counts), never correctness; rebuild a fresh generation
      when probe candidate volume drifts up.
    - ``fingerprints`` (id, shingles): distinct shingle-hash sets for the
      exact verify (same relation the minhash index flow stores).

    Parameters (k, threshold) are part of the index identity — probe with
    the same values or the prefix lengths are meaningless.
    """
    base = _pin(
        shingle_hash_table(
            documents, id_col, text_col, k, distinct=True
        ).withColumnRenamed("hashes", "shingles")
    )
    freq = (
        base.select(F.explode("shingles").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        # stored-table twin of the jaccard_prefix_pairs df>=2 rule: absent
        # ranks as (1, sh) on BOTH build and probe, so the stored freq
        # table shrinks ~70x while the frozen order stays well-defined
        .where(F.col("__df") >= 2)
    )
    prefix = _prefix_rows(base, freq, threshold)
    return prefix, freq, base


def jaccard_prefix_self_pairs(
    prefix: DataFrame,
    fingerprints: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard pairs of the INDEXED corpus itself, straight off the
    stored prefix rows — the build-phase twin of
    :func:`jaccard_prefix_against_index` (no re-shingle: identical output
    to :func:`jaccard_prefix_pairs` on the same corpus/threshold, by
    construction — same candidate join, same positional bound, same exact
    verify)."""
    matches = (
        prefix.alias("l")
        .join(prefix.alias("r"), "sh")
        .where(
            (F.col("l.id") < F.col("r.id"))
            & (
                F.least("l.sz", "r.sz")
                >= threshold * F.greatest("l.sz", "r.sz") - 1e-9
            )
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.__pos").alias("__pa"),
            F.col("r.__pos").alias("__pb"),
            F.col("l.sz").alias("__sza"),
            F.col("r.sz").alias("__szb"),
        )
    )
    cand = _positional_candidates(matches, threshold)
    return _exact_jaccard_filter(
        cand,
        fingerprints.select("id", F.col("shingles").alias("hashes")),
        threshold,
    )


def jaccard_prefix_against_index(
    new_docs: DataFrame,
    prefix: DataFrame,
    freq: DataFrame,
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental EXACT-Jaccard dedup: pairs (id_a, id_b, jaccard) with at
    least one NEW endpoint — new-vs-corpus and new-vs-new — by probing the
    STORED prefix index instead of re-running the prefix-pair pass over
    the union corpus (the q150 scale soft-spot this closes, SCALING.md
    round-9 notes).

    Per batch the work is the batch's own shingling + prefix ranking
    (ordered by the index's FROZEN ``freq`` table, so old and new
    documents share one total order — the prefix/positional guarantees
    need exactly that), an equi-join of the tiny batch prefix against the
    stored prefix rows on the shingle (broadcast the batch side: the
    corpus table never shuffles), and fingerprint fetches for actual
    candidates only.  Output is IDENTICAL to
    :func:`jaccard_prefix_pairs` over old ∪ new filtered to
    new-endpoint pairs: the frozen order differs from the union-corpus
    frequency order, but ANY consistent total order yields a lossless
    prefix+positional filter, and the verify is exact either way.

    ``prefix``/``freq``/``fingerprints`` are :func:`jaccard_prefix_index`
    output for the existing corpus (typically catalog tables); append the
    batch's prefix rows — ranked under the same frozen order — plus its
    fingerprints afterwards to keep the index current.
    """
    out, _base, _pref = jaccard_prefix_probe_parts(
        new_docs, prefix, freq, fingerprints, id_col, text_col, k, threshold
    )
    return out


def jaccard_prefix_probe_parts(
    new_docs: DataFrame,
    prefix: DataFrame,
    freq: DataFrame,
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`jaccard_prefix_against_index` plus its intermediates:
    ``(pairs, new_base, new_prefix)`` — the batch's fingerprint sets and
    frozen-order prefix rows are exactly what an index maintainer appends
    after the probe (see streaming.incremental.apply_prefix_batch), so
    exposing the pinned relations saves re-shingling and re-ranking the
    batch a second time."""
    new_base = _pin(
        shingle_hash_table(
            new_docs, id_col, text_col, k, distinct=True
        ).withColumnRenamed("hashes", "shingles")
    )
    new_prefix = _pin(_prefix_rows(new_base, freq, threshold))
    all_prefix = prefix.select("id", "sz", "sh", "__pos").unionByName(new_prefix)
    is_l_a = F.col("l.id") < F.col("r.id")
    matches = (
        new_prefix.alias("l")
        .join(all_prefix.alias("r"), "sh")
        .where(
            (F.col("l.id") != F.col("r.id"))
            & (
                F.least("l.sz", "r.sz")
                >= threshold * F.greatest("l.sz", "r.sz") - 1e-9
            )
        )
        # orientation-normalize so a new-new pair surfacing from both
        # sides folds into one group (duplicated match rows are harmless
        # to the positional mins)
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
            F.when(is_l_a, F.col("l.__pos")).otherwise(F.col("r.__pos")).alias("__pa"),
            F.when(is_l_a, F.col("r.__pos")).otherwise(F.col("l.__pos")).alias("__pb"),
            F.when(is_l_a, F.col("l.sz")).otherwise(F.col("r.sz")).alias("__sza"),
            F.when(is_l_a, F.col("r.sz")).otherwise(F.col("l.sz")).alias("__szb"),
        )
    )
    cand = _positional_candidates(matches, threshold)
    all_fps = fingerprints.select("id", "shingles").unionByName(
        new_base.select("id", "shingles")
    )
    out = _exact_jaccard_filter(
        cand, all_fps.select("id", F.col("shingles").alias("hashes")), threshold
    )
    return _pin(out), new_base, new_prefix
